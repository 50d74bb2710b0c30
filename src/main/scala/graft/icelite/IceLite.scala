package graft.icelite

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import graft.core.Tile

/** icelite — an Iceberg-SHAPED snapshot/manifest layer over Parquet, built
  * in-repo because no Iceberg jar ships in the sandbox (SURVEY.md §7.2).
  * Public Iceberg concepts reproduced: versioned metadata json with a
  * current-snapshot pointer (atomic rename commit), manifests listing data
  * files with cell-id min/max stats for scan pruning, and per-partition
  * LINEAGE rows enabling checkpoint resume: a killed ingest job re-run on
  * the same staging area skips every bucket whose lineage row committed.
  *
  * Layout:
  *   table/metadata/v{N}.json        versioned metadata; last N wins
  *   table/manifests/m-{snap}.json   data files + stats of one snapshot
  *   table/lineage/{snap}/b-{i}.json staged per-bucket lineage (the
  *                                   checkpoint; written BEFORE the final
  *                                   metadata commit)
  *   table/refs/{name}.json          staged (unpublished) WAP snapshot
  *   table/data/{snap}/bucket={i}/   one parquet dir per bucket
  *
  * Every writer goes through the same three steps: [[writeBuckets]]
  * writes a `bucket`-partitioned frame and returns each bucket's stats,
  * [[commitSnapshot]] records each bucket's outcome (lineage rows, then
  * the manifest) and [[flip]] writes the metadata version that makes the
  * snapshot current. Each file kind has one encoder, next to its parser.
  */
object IceLite {

  final case class Lineage(bucket: Int, rows: Long, checksum: Long)
  final case class DataFileEntry(path: String, bucket: Int, rows: Long,
      minCell: Long, maxCell: Long)

  /** A snapshot with no manifest on disk: expired, abandoned or never
    * written. */
  final case class SnapshotNotFound(table: String, snap: Long)
      extends RuntimeException(s"icelite: snapshot $snap has no manifest in $table")

  private def mkdirs(p: Path): Unit = { Files.createDirectories(p); () }

  /** Bounded wait for an [[Observation]]'s metrics (they are delivered on
    * the async listener bus just after the observed action returns);
    * empty map on timeout so callers can fall back to a separate
    * aggregate pass instead of hanging. Waits on the observation's own
    * future, so a timeout leaves no thread behind. */
  private[icelite] def awaitMetrics(obs: Observation,
      timeout: FiniteDuration = 10.seconds): Map[String, Any] =
    try {
      val row = scala.concurrent.Await.ready(obs.future, timeout).value.get.get
      row.getValuesMap[Any](row.schema.fieldNames.toSeq)
    } catch { case _: java.util.concurrent.TimeoutException => Map.empty }

  private def q(s: String) = "\"" + s + "\""

  private def writeAtomic(target: Path, content: String): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Numeric / string field of one of icelite's json files. */
  private def numField(json: String, name: String): Option[Long] =
    ("\"" + name + "\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
  private def strField(json: String, name: String): Option[String] =
    ("\"" + name + "\"\\s*:\\s*\"([^\"]+)\"").r.findFirstMatchIn(json)
      .map(_.group(1))

  /** The physical Tile schema, pinned so snapshot reads never pay a
    * schema-inference footer job (every [[read]] call previously launched
    * one Spark job just to sniff the first file's footer). */
  private val tileSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[Tile].schema

  /** StructType from a declared (name, sqlType) column list — lets reads
    * pass an explicit schema (no inference job, no mergeSchema
    * all-footers job); parquet null-fills declared columns a file
    * predates, which is exactly what the select/cast wrapper emulated. */
  private def structOf(cols: Seq[(String, String)])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(cols.map { case (n, t) =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(t))
    })

  /** Highest committed metadata version, or 0. */
  def currentVersion(table: String): Int = {
    val md = Paths.get(table, "metadata")
    if (!Files.exists(md)) 0
    else listDir(md).foldLeft(0) { (best, p) =>
      val n = p.getFileName.toString
      if (n.startsWith("v") && n.endsWith(".json"))
        math.max(best, n.stripPrefix("v").stripSuffix(".json").toInt)
      else best
    }
  }

  /** Text of the current metadata version, with its number. */
  private def currentMetadata(table: String): Option[(Int, String)] = {
    val v = currentVersion(table)
    if (v == 0) None
    else Some(v -> Files.readString(Paths.get(table, "metadata", s"v$v.json")))
  }

  def currentSnapshot(table: String): Option[Long] =
    currentMetadata(table).flatMap { case (_, s) => numField(s, "current_snapshot") }

  /** Metadata version file: the current-snapshot pointer, its manifest,
    * bucket count and declared schema (absent for tables written before
    * schema tracking — an empty `"schema": []` would trip
    * [[tableSchema]]'s drift guard). */
  private def encodeMetadata(snap: Long, manifest: String, buckets: Int,
      schema: Option[Seq[(String, String)]]): String =
    s"""{"format": "icelite/1", "current_snapshot": $snap,
       | "manifest": ${q(manifest)},
       | "buckets": $buckets""".stripMargin +
      schema.fold("")(cols => ",\n \"schema\": " + encodeSchema(cols)) + "}"

  /** THE pointer flip: one atomic rename writes metadata version
    * current + 1, making `snap` the table's current snapshot. Returns
    * the new version. */
  private def flip(table: String, snap: Long, buckets: Int,
      schema: Option[Seq[(String, String)]],
      manifest: Option[String] = None): Int = {
    val v = currentVersion(table) + 1
    mkdirs(Paths.get(table, "metadata"))
    writeAtomic(Paths.get(table, "metadata", s"v$v.json"),
      encodeMetadata(snap, manifest.getOrElse(s"$table/manifests/m-$snap.json"),
        buckets, schema))
    v
  }

  /** Buckets already checkpointed for a snapshot attempt (resume set). */
  def committedBuckets(table: String, snap: Long): Set[Int] =
    listDir(Paths.get(table, "lineage", snap.toString)).iterator
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("b-") && n.endsWith(".json"))
      .map(_.stripPrefix("b-").stripSuffix(".json").toInt).toSet

  /** Resumable ingest: ONE dynamic-partition write of every
    * not-yet-committed bucket (its stats observed on the write job), then
    * per-bucket lineage rows committed atomically in bucket order;
    * already-checkpointed buckets are SKIPPED on re-run (the kill/resume
    * contract — a killed job re-run on the same table redoes exactly the
    * buckets whose lineage row is missing). `failAtBucket` injects a
    * crash between lineage commits for tests. Returns the snapshot id
    * once ALL buckets committed + metadata flipped.
    *
    * Scale shape: 3 jobs regardless of bucket count: the cell-range
    * aggregate (two jobs under AQE: its partial stage, then the final
    * one) and the write. Bucketing is on the Z-order cell id's high
    * bits, so each bucket is a contiguous cell range — manifest min/max
    * stats stay tight and reads prune by range. */
  def commitResumable(spark: SparkSession, tiles: Dataset[Tile], table: String,
      buckets: Int, snap: Long, failAtBucket: Option[Int] = None,
      rowsCommitted: Option[LongAccumulator] = None,
      stageRef: Option[String] = None): Long =
    commitResumableDf(spark, tiles.toDF(), table, buckets, snap,
      failAtBucket, rowsCommitted, stageRef)

  /** DataFrame form of [[commitResumable]] — the schema-preserving write
    * path: any column set with a `cellId` key and a `payload` array
    * commits as-is (evolved columns included), and the declared schema
    * records exactly the DataFrame's columns. [[compact]] MUST use this
    * form over [[readDf]]: the typed Dataset[Tile] read would silently
    * strip evolved columns from both the data files and the recorded
    * schema. A `stageRef` stages the snapshot on that WAP ref instead of
    * making it current (see [[publish]]). */
  def commitResumableDf(spark: SparkSession, rows: DataFrame, table: String,
      buckets: Int, snap: Long, failAtBucket: Option[Int] = None,
      rowsCommitted: Option[LongAccumulator] = None,
      stageRef: Option[String] = None): Long = {
    import spark.implicits._
    require(rows.columns.contains("cellId") && rows.columns.contains("payload"),
      "commitResumableDf: rows must carry cellId and payload columns")
    // NOT cached: the commit's passes recompute the input, which
    // measures FASTER than building a cache for typical commit inputs
    // (generated tiles / just-read parquet); callers with an expensive
    // upstream cache it in their own [[graft.core.Owned]] scope
    val done = committedBuckets(table, snap)
    // range-bucket on the Z-order id so each bucket is a CONTIGUOUS cell
    // range -> manifest min/max stats stay tight and reads prune by range
    spark.sparkContext.setJobDescription(s"icelite commit $table@$snap range-agg")
    val zr = rows.agg(min($"cellId"), max($"cellId")).collect()(0)
    val (zlo, zhi) =
      if (zr.isNullAt(0)) (0L, 0L) else (zr.getLong(0), zr.getLong(1))
    val span = math.max(1L, zhi - zlo + 1)
    val bucketed = rows
      .withColumn("bucket",
        least(lit(buckets - 1),
          (($"cellId" - lit(zlo)) * lit(buckets.toLong) / lit(span)).cast("int")))
    val stats = writeBuckets(spark, table, snap, bucketed,
      (0 until buckets).filterNot(done.contains), "commit",
      resumed = done.nonEmpty, rowsCommitted)
    commitSnapshot(table, snap, (0 until buckets).map(b => b -> Rewritten(stats(b))),
      Some(schemaOf(rows)), stageRef, done, failAtBucket)
  }

  /** One bucket's rows, order-independent checksum and cell range. */
  private final case class Stats(rows: Long, checksum: Long, minCell: Long,
      maxCell: Long)
  private val NoRows = Stats(0L, 0L, 0L, 0L)

  /** Largest dictionary one column chunk of a data file keeps before it
    * falls back to PLAIN: 8192 doubles. */
  private val DictionaryBytes = 64L << 10

  /** THE bucketed write: writes the rows of the `bucket`-partitioned
    * `frame` whose bucket is in `todo` to `data/<snap>` (dynamic partition
    * overwrite replaces ONLY those bucket dirs) and returns each bucket's
    * stats (NoRows for a bucket with none). The stats ride the write job
    * as observed metrics — 4 conditional aggregates per bucket, one job,
    * the values of the very rows written. A separate aggregate pass over
    * `frame` computes them instead when `frame` also holds buckets an
    * earlier attempt wrote (`resumed`: the manifest needs their stats
    * too), past 64 buckets (4 aggregates per bucket stops being a sane
    * plan) or when the metrics do not arrive. A `rowsCommitted`
    * accumulator gets the total of the written buckets' row counts,
    * added once on the driver from these stats (so a retried task does
    * not count its rows twice).
    *
    * Every column's dictionary is capped at [[DictionaryBytes]] per
    * column chunk (parquet's default is 1 MiB). A continuous payload (a
    * DEM) overflows any dictionary and is written PLAIN in the end; with
    * the cap it gives up after some thousand values instead of hashing
    * a hundred thousand first. A payload of at most 8192 distinct values
    * per file (a mask, a class raster, an image corpus's pixels) still
    * fits and keeps the dictionary's compression. */
  private def writeBuckets(spark: SparkSession, table: String, snap: Long,
      frame: DataFrame, todo: Seq[Int], op: String, resumed: Boolean = false,
      rowsCommitted: Option[LongAccumulator] = None): Map[Int, Stats] = {
    import spark.implicits._
    val sc = spark.sparkContext
    // the checksum term is a JVM udf: Long wraparound (the SQL expression
    // would throw under ANSI overflow on high Z ids)
    val term = udf { (cid: Long, n: Int) => cid * 31 + n }
    def withTerm(df: DataFrame) =
      df.withColumn("chk_term", term($"cellId", size($"payload")))
    val observed = !resumed && todo.nonEmpty && todo.size <= 64
    val obs = Observation()
    if (todo.nonEmpty) {
      val rows = if (resumed) frame.filter($"bucket".isInCollection(todo)) else frame
      val toWrite =
        if (!observed) rows
        else {
          val aggs = todo.flatMap { b =>
            val c = $"bucket" === lit(b)
            Seq(count(when(c, lit(1))).as(s"n$b"),
              bit_xor(when(c, $"chk_term")).as(s"x$b"),
              min(when(c, $"cellId")).as(s"lo$b"),
              max(when(c, $"cellId")).as(s"hi$b"))
          }
          withTerm(rows).observe(obs, aggs.head, aggs.tail: _*).drop("chk_term")
        }
      sc.setJobDescription(s"icelite $op $table@$snap write")
      toWrite.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("parquet.dictionary.page.size", DictionaryBytes)
        .partitionBy("bucket")
        .parquet(s"$table/data/$snap")
    }
    val m = if (observed) awaitMetrics(obs) else Map.empty[String, Any]
    val stats =
      if (todo.isEmpty && !resumed) Map.empty[Int, Stats]
      else if (m.nonEmpty) todo.flatMap { b =>
        def l(k: String) = Option(m(k)).fold(0L)(_.asInstanceOf[Long])
        val n = l(s"n$b")
        if (n == 0L) None else Some(b -> Stats(n, l(s"x$b"), l(s"lo$b"), l(s"hi$b")))
      }.toMap
      else {
        sc.setJobDescription(s"icelite $op $table@$snap stats")
        withTerm(frame).groupBy($"bucket".cast("int"))
          .agg(count(lit(1)), bit_xor($"chk_term"), min($"cellId"), max($"cellId"))
          .as[(Int, Long, Long, Long, Long)].collect()
          .map { case (b, n, x, lo, hi) => b -> Stats(n, x, lo, hi) }.toMap
      }
    sc.setJobDescription(null)
    rowsCommitted.foreach(
      _.add(todo.iterator.map(b => stats.get(b).fold(0L)(_.rows)).sum))
    stats.withDefaultValue(NoRows)
  }

  /** What a new snapshot records for one bucket. */
  private sealed trait Outcome
  /** Rewritten to `data/<snap>/bucket=<b>` with these stats (NoRows:
    * emptied). */
  private final case class Rewritten(stats: Stats) extends Outcome
  /** Carried BY REFERENCE from snapshot `from`: same entry, its lineage
    * row copied forward. */
  private final case class Carried(entry: DataFileEntry, from: Long) extends Outcome
  /** Dropped at the METADATA level: the old path stays for time travel,
    * rows 0. */
  private final case class Dropped(path: String) extends Outcome

  /** THE snapshot commit: writes each bucket's lineage row (new, or
    * copied forward), then the manifest, then the metadata version — or,
    * with `stageRef`, the WAP ref, leaving the current pointer alone.
    * Buckets in `checkpointed` already hold their lineage row from an
    * earlier attempt; `failAtBucket` injects a crash before a bucket's
    * lineage row. Returns `snap`. */
  private def commitSnapshot(table: String, snap: Long,
      outcomes: Seq[(Int, Outcome)], schema: Option[Seq[(String, String)]],
      stageRef: Option[String] = None, checkpointed: Set[Int] = Set.empty,
      failAtBucket: Option[Int] = None): Long = {
    val lin = Paths.get(table, "lineage", snap.toString)
    mkdirs(lin)
    val entries = outcomes.map { case (b, outcome) =>
      val row = lin.resolve(s"b-$b.json")
      def record(rows: Long, checksum: Long): Unit =
        if (!checkpointed.contains(b)) {
          if (failAtBucket.contains(b))
            throw new RuntimeException(s"injected failure before bucket $b")
          writeAtomic(row, encodeLineage(Lineage(b, rows, checksum)))
        }
      outcome match {
        case Rewritten(s) =>
          record(s.rows, s.checksum)
          DataFileEntry(s"$table/data/$snap/bucket=$b", b, s.rows, s.minCell, s.maxCell)
        case Carried(e, from) =>
          val old = Paths.get(table, "lineage", from.toString, s"b-$b.json")
          if (Files.exists(old))
            Files.copy(old, row, StandardCopyOption.REPLACE_EXISTING)
          e
        case Dropped(path) =>
          record(0L, 0L)
          DataFileEntry(path, b, 0L, 0L, 0L)
      }
    }
    mkdirs(Paths.get(table, "manifests"))
    writeAtomic(Paths.get(table, "manifests", s"m-$snap.json"),
      entries.map(encodeEntry).mkString("[", ",\n", "]"))
    stageRef match {
      case Some(name) =>
        // WRITE-AUDIT-PUBLISH staging: data, lineage and manifest are
        // durable, but readers of the table keep seeing the old snapshot
        // while auditors read the ref by name; `publish` flips the pointer
        mkdirs(Paths.get(table, "refs"))
        writeAtomic(refPath(table, name),
          encodeRef(snap, outcomes.length, schema.getOrElse(Seq.empty)))
      case None => flip(table, snap, outcomes.length, schema)
    }
    snap
  }

  /** Next free snapshot id: one past the highest MANIFEST on disk — not
    * current + 1, because after a [[rollback]] the abandoned head's ids
    * are still occupied (their manifests/data remain readable by pin)
    * and writing over them would destroy that history. Crashed-op debris
    * (lineage without a manifest) does not advance the id; the mutators'
    * clearUncommitted handles it at claim time. */
  def nextSnapshotId(table: String): Long = {
    val all = snapshots(table)
    if (all.isEmpty) 1L else all.max + 1
  }

  /** ROLLBACK — the Iceberg `rollback_to_snapshot` analog: one atomic
    * metadata commit points the table back at an EXISTING snapshot; no
    * data file, manifest or lineage row moves. The abandoned snapshots
    * stay readable by pin until [[expireSnapshots]] reaps them, and the
    * next write allocates ids past the abandoned head. */
  def rollback(table: String, snap: Long): Long = {
    require(Files.exists(Paths.get(table, "manifests", s"m-$snap.json")),
      s"rollback: snapshot $snap has no manifest in $table")
    flip(table, snap, manifestEntries(table, snap).length, tableSchema(table))
    snap
  }

  /** Metadata TABLE `files` — the Iceberg `table$files` analog: one row
    * per data file of a snapshot straight from the manifest (no parquet
    * footer is opened): (snapshot, bucket, file_rows, min_cell,
    * max_cell, path). */
  def filesDf(spark: SparkSession, table: String, snap: Long): DataFrame = {
    import spark.implicits._
    manifestEntries(table, snap)
      .map(e => (snap, e.bucket, e.rows, e.minCell, e.maxCell, e.path))
      .toDF("snapshot", "bucket", "file_rows", "min_cell", "max_cell", "path")
  }

  /** Metadata TABLE `snapshots` — one row per snapshot on disk:
    * (snapshot, n_files, n_rows, is_current). */
  def snapshotsDf(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val cur = currentSnapshot(table)
    snapshots(table).map { s =>
      val es = manifestEntries(table, s)
      (s, es.count(_.rows > 0).toLong, es.map(_.rows).sum, cur.contains(s))
    }.toDF("snapshot", "n_files", "n_rows", "is_current")
  }

  /** WAP ref file: the staged snapshot, its bucket count and schema. */
  private def encodeRef(snap: Long, buckets: Int,
      schema: Seq[(String, String)]): String =
    s"""{"snap": $snap, "buckets": $buckets,
       | "schema": ${encodeSchema(schema)}}""".stripMargin

  /** Snapshot a ref file names. */
  private def refSnap(ref: Path): Option[Long] =
    numField(Files.readString(ref), "snap")

  private def refPath(table: String, name: String): Path =
    Paths.get(table, "refs", s"$name.json")

  /** Snapshots pinned by staged (unpublished) WAP refs. */
  def stagedRefs(table: String): Seq[Long] =
    listDir(Paths.get(table, "refs")).flatMap(refSnap)

  /** Snapshot a named staging ref points at (write-audit-publish). */
  def refSnapshot(table: String, name: String): Option[Long] = {
    val p = refPath(table, name)
    if (!Files.exists(p)) None else refSnap(p)
  }

  /** PUBLISH a staged ref — the write-audit-publish pointer flip: after
    * the audit validates the staged snapshot (read it via
    * [[refSnapshot]] + [[read]]/[[readDf]]), one atomic metadata commit
    * makes it the table's current snapshot; un-published stages never
    * become visible to table readers. Single-writer assumption as
    * everywhere in icelite: a concurrent upsert/delete/compact that
    * claimed the same snapshot id clears staged debris (the op-marker
    * rule), after which publish fails loudly here on the missing
    * manifest rather than publishing a half-cleared stage. */
  def publish(table: String, name: String): Long = {
    val p = refPath(table, name)
    require(Files.exists(p), s"publish: no staged ref `$name` in $table")
    val snap = refSnap(p).getOrElse(throw new IllegalStateException(
      s"publish: ref `$name` in $table carries no snap"))
    require(Files.exists(Paths.get(table, "manifests", s"m-$snap.json")),
      s"publish: staged snapshot $snap of ref `$name` has no manifest " +
        "(cleared by a concurrent op?) — refusing to publish")
    val ref = Files.readString(p)
    flip(table, snap, numField(ref, "buckets").fold(0)(_.toInt),
      Some(parseSchema(ref)))
    Files.deleteIfExists(p)
    snap
  }

  /** ABANDON a staged WAP ref — the audit-REJECT arm of
    * write-audit-publish ([[publish]] is the accept arm): the ref is
    * dropped and the staged snapshot's artifacts (manifest, lineage,
    * and every data directory no OTHER manifest references) are
    * deleted, so a failed audit leaves no debris and no pin. Refuses
    * to abandon a published snapshot. Returns the number of data
    * directories deleted (0 when the ref does not exist). */
  def abandonStaged(table: String, name: String): Int = {
    val p = refPath(table, name)
    if (!Files.exists(p)) return 0
    val snap = refSnap(p).getOrElse(throw new IllegalStateException(
      s"abandonStaged: ref `$name` in $table carries no snap"))
    require(!currentSnapshot(table).contains(snap),
      s"abandonStaged: snapshot $snap of ref `$name` is PUBLISHED — " +
        "use expireSnapshots for retention, not abandon")
    Files.deleteIfExists(p)
    dropSnapshot(table, snap,
      referencedPaths(table, snapshots(table).filterNot(_ == snap)))
  }

  /** Schema record: (name, Spark SQL type) columns. */
  private def encodeSchema(cols: Seq[(String, String)]): String =
    cols.map { case (n, t) => s"""{"name": ${q(n)}, "type": ${q(t)}}""" }
      .mkString("[", ", ", "]")

  private def parseSchema(json: String): Seq[(String, String)] =
    """\{\s*"name"\s*:\s*"([^"]+)"\s*,\s*"type"\s*:\s*"([^"]+)"\s*\}""".r
      .findAllMatchIn(json).map(m => (m.group(1), m.group(2))).toSeq

  /** Columns of a DataFrame as recorded (partition col `bucket` excluded). */
  private def schemaOf(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.filterNot(_.name == "bucket")
      .map(f => (f.name, f.dataType.sql))

  /** Declared table schema (column name, Spark SQL type) from the current
    * metadata version; None for tables written before schema tracking. */
  def tableSchema(table: String): Option[Seq[(String, String)]] =
    currentMetadata(table).flatMap { case (v, s) =>
      // whitespace-tolerant parse; and if the metadata DECLARES a schema
      // that yields no columns, fail loudly instead of silently degrading
      // readDf to the observed parquet schema (ADVICE r4 #4)
      val cols = parseSchema(s)
      if (cols.nonEmpty) Some(cols)
      else if (s.contains("\"schema\""))
        throw new IllegalStateException(
          s"tableSchema: $table metadata v$v declares a schema but no " +
            "columns parsed — metadata format drift; refusing to degrade " +
            "to the observed parquet schema")
      else None
    }

  /** SCHEMA EVOLUTION (add column) — Iceberg's metadata-ONLY evolution:
    * a new metadata version extends the declared schema and is committed
    * by the same atomic rename; NO data file, manifest or lineage row is
    * touched and the current snapshot does not change. Existing rows
    * surface the new column as NULL (see [[readDf]]) until a later
    * commit/upsert writes values for them. Like Iceberg, reads always
    * present the table's CURRENT schema — time-traveling to an old
    * snapshot replays old DATA under the current column set. */
  def evolveAddColumn(table: String, name: String, sqlType: String): Int = {
    val meta = currentMetadata(table)
    require(meta.nonEmpty, s"evolveAddColumn: no committed metadata in $table")
    val cur = tableSchema(table).getOrElse(throw new IllegalStateException(
      s"evolveAddColumn: $table has no recorded schema (pre-evolution table)"))
    require(!cur.exists(_._1 == name),
      s"evolveAddColumn: column `$name` already exists in $table")
    val snap = currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"evolveAddColumn: no snapshot in $table"))
    val old = meta.get._2
    flip(table, snap, numField(old, "buckets").fold(0)(_.toInt),
      Some(cur :+ (name -> sqlType)), strField(old, "manifest"))
  }

  /** Live data files of a snapshot, pruned to those whose manifest
    * min/max overlaps `cellRange`. */
  private def scanFiles(table: String, snap: Long,
      cellRange: Option[(Long, Long)]): Seq[String] =
    cellRange.fold(manifestEntries(table, snap).filter(_.rows > 0)) {
      case (lo, hi) => planFiles(table, snap, lo, hi)
    }.map(_.path)

  /** Snapshot-pinned DataFrame read under the DECLARED schema: data
    * files written before a column existed surface it as NULL (parquet
    * mergeSchema union + explicit null-fill) — Iceberg's read-time
    * schema resolution. Tables that predate schema tracking fall back
    * to the observed parquet schema. Same manifest min/max pruning as
    * [[read]]. */
  def readDf(spark: SparkSession, table: String, snap: Long,
      cellRange: Option[(Long, Long)] = None): DataFrame = {
    val files = scanFiles(table, snap, cellRange)
    val declared = tableSchema(table)
    // all files pruned/empty: the declared schema still shapes the
    // result; a pre-schema-tracking table derives it from the manifest
    // files themselves (footers only, no data) so pruned and unpruned
    // reads stay union-compatible
    val shape =
      if (files.nonEmpty || declared.nonEmpty) declared
      else {
        val allFiles = scanFiles(table, snap, None)
        Some(if (allFiles.isEmpty) Seq("cellId" -> "BIGINT")
          else schemaOf(spark.read.option("mergeSchema", "true").parquet(allFiles: _*)))
      }
    readFilesDeclared(spark, files, shape)
  }

  /** Incremental CHANGELOG read between two committed snapshots — the
    * Iceberg incremental-scan / Delta Change-Data-Feed analog: every row
    * inserted, updated or deleted between `fromSnap` (exclusive state)
    * and `toSnap` (inclusive state), under the declared schema plus a
    * `_change_type` column (`insert` / `delete` / `update_preimage` /
    * `update_postimage` — updates emit BOTH images).
    *
    * Scale shape (the whole point at 100 TB): pruning is METADATA-ONLY —
    * a data file carried between the manifests BY REFERENCE (identical
    * path) cannot contain a change and is never opened; only rewritten /
    * added / dropped files are read, so a small COW upsert or delete
    * diffs just its touched buckets. The row-level diff is then ONE
    * full-outer equi-join on `cellId` over those changed files, with
    * content equality (null-safe, Spark NaN==NaN array semantics) as the
    * correctness backstop: rows a rewrite carried unchanged — and an
    * entire [[compact]], which rewrites every path without changing any
    * content — correctly collapse to an EMPTY changelog. */
  def readChanges(spark: SparkSession, table: String,
      fromSnap: Long, toSnap: Long): DataFrame = {
    require(fromSnap <= toSnap,
      s"readChanges: fromSnap $fromSnap must be <= toSnap $toSnap")
    val (droppedFiles, addedFiles) = changedFiles(table, fromSnap, toSnap)
    // both sides MUST project the same columns or the image structs
    // won't compare; a pre-schema-tracking table derives the union
    // schema from the changed files themselves (footers only)
    val declared = tableSchema(table).orElse {
      val any = addedFiles ++ droppedFiles
      if (any.isEmpty) None
      else Some(schemaOf(spark.read.option("mergeSchema", "true").parquet(any: _*)))
    }
    val nSide = readFilesDeclared(spark, addedFiles, declared)
    val oSide = readFilesDeclared(spark, droppedFiles, declared)
    val cols = nSide.columns.toSeq
    val n = nSide.select(col("cellId").as("_k"),
      struct(cols.map(col): _*).as("_img"))
    val o = oSide.select(col("cellId").as("_k"),
      struct(cols.map(col): _*).as("_img"))
    val j = n.as("n").join(o.as("o"), col("n._k") === col("o._k"), "full_outer")
    // one pass over the join: type each key, explode updates into the
    // pre/post image pair, drop content-equal carries
    val typed = j.select(col("n._img").as("_n"), col("o._img").as("_o"),
        when(col("o._k").isNull, "insert")
          .when(col("n._k").isNull, "delete")
          .when(!(col("n._img") <=> col("o._img")), "update")
          .as("_ct"))
      .filter(col("_ct").isNotNull)
    typed.select(explode(
        when(col("_ct") === "insert",
          array(struct(col("_n").as("img"), lit("insert").as("ct"))))
        .when(col("_ct") === "delete",
          array(struct(col("_o").as("img"), lit("delete").as("ct"))))
        .otherwise(array(
          struct(col("_n").as("img"), lit("update_postimage").as("ct")),
          struct(col("_o").as("img"), lit("update_preimage").as("ct"))))
      ).as("_e"))
      .select(col("_e.img.*"), col("_e.ct").as("_change_type"))
  }

  /** Changed-file sets between two snapshots' manifests (old-side paths,
    * new-side paths) — [[readChanges]]'s metadata-only pruning, exposed
    * so tests can assert reference-carried files are never read. */
  private[icelite] def changedFiles(table: String, fromSnap: Long,
      toSnap: Long): (Seq[String], Seq[String]) = {
    val fromE = manifestEntries(table, fromSnap)
    val toE = manifestEntries(table, toSnap)
    val oldPaths = fromE.map(_.path).toSet
    val newPaths = toE.map(_.path).toSet
    (fromE.filter(e => e.rows > 0 && !newPaths.contains(e.path)).map(_.path),
      toE.filter(e => e.rows > 0 && !oldPaths.contains(e.path)).map(_.path))
  }

  /** Read an explicit data-file list under a declared (name, type) schema
    * — absent columns null-fill (an explicit schema: no inference or
    * mergeSchema footer jobs), an empty file list yields an empty frame
    * of exactly the declared columns. Without a declared schema the
    * files' mergeSchema union is read. */
  private def readFilesDeclared(spark: SparkSession, files: Seq[String],
      declared: Option[Seq[(String, String)]]): DataFrame = {
    if (files.isEmpty) {
      val cols = declared.getOrElse(Seq("cellId" -> "BIGINT"))
      spark.range(0).select(cols.map { case (nm, t) =>
        lit(null).cast(t).as(nm) }: _*)
    } else declared match {
      case Some(cols) => spark.read.schema(structOf(cols)).parquet(files: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(files: _*)
    }
  }

  /** Manifest entry: one data file of a snapshot with its stats. */
  private def encodeEntry(e: DataFileEntry): String =
    s"""{"path": ${q(e.path)}, "bucket": ${e.bucket}, "rows": ${e.rows}, "min_cell": ${e.minCell}, "max_cell": ${e.maxCell}}"""

  /** Parsed data-file list of a snapshot's manifest; [[SnapshotNotFound]]
    * when the snapshot has none. */
  def manifestEntries(table: String, snap: Long): Seq[DataFileEntry] = {
    val manifest =
      try Files.readString(Paths.get(table, "manifests", s"m-$snap.json"))
      catch { case _: java.nio.file.NoSuchFileException =>
        throw SnapshotNotFound(table, snap) }
    val entryRe =
      """\{"path": "([^"]+)", "bucket": (\d+), "rows": (\d+), "min_cell": (-?\d+), "max_cell": (-?\d+)\}""".r
    entryRe.findAllMatchIn(manifest).map { m =>
      DataFileEntry(m.group(1), m.group(2).toInt, m.group(3).toLong,
        m.group(4).toLong, m.group(5).toLong)
    }.toSeq
  }

  /** Metadata-only row count (the Iceberg count(*) pushdown analog):
    * the snapshot's total rows straight from the manifest — no parquet
    * footer or data page is ever opened, O(manifest) at any table size. */
  def countRows(table: String, snap: Long): Long =
    manifestEntries(table, snap).map(_.rows).sum

  /** Live data files (rows > 0) in a snapshot — metadata-only. */
  def dataFileCount(table: String, snap: Long): Int =
    manifestEntries(table, snap).count(_.rows > 0)

  /** The scan-planning decision for a cell range, exposed for audit:
    * exactly the manifest entries a ranged [[read]] will open (min/max
    * overlap over live files). q30 puts this plan under the hash gate. */
  def planFiles(table: String, snap: Long, lo: Long,
      hi: Long): Seq[DataFileEntry] =
    manifestEntries(table, snap)
      .filter(e => e.rows > 0 && e.maxCell >= lo && e.minCell <= hi)

  /** Snapshot-pinned read; `cellRange` prunes whole data files via manifest
    * min/max before any parquet footer is opened. */
  def read(spark: SparkSession, table: String, snap: Long,
      cellRange: Option[(Long, Long)] = None): Dataset[Tile] = {
    import spark.implicits._
    val files = scanFiles(table, snap, cellRange)
    if (files.isEmpty) spark.emptyDataset[Tile]
    // pinned Tile schema: no schema-inference footer job per read; files
    // carrying evolved extra columns simply don't surface them (same as
    // the untyped read + .as[Tile] projection)
    else spark.read.schema(tileSchema).parquet(files: _*).as[Tile]
  }

  /** Row-level UPSERT — the Iceberg MERGE INTO (copy-on-write) analog:
    * update rows REPLACE current rows with the same cellId; new cellIds
    * append. The copy-on-write unit is the DATA FILE, exactly Iceberg's
    * COW mode: each update key is range-assigned to its owning bucket (a
    * tiny broadcast range table built from the manifest; keys beyond
    * every range land in the edge bucket, whose range widens), and ONLY
    * the touched buckets are read back, LEFT ANTI-joined on cellId
    * against the update keys, merged with the updates and rewritten
    * under the NEW snapshot. Every untouched bucket enters the new
    * manifest BY REFERENCE — its parquet files are never opened, moved
    * or rewritten, and its lineage row is copied forward. Readers pinned
    * to the old snapshot are untouched; the current-snapshot pointer
    * flips atomically at the end (a crash mid-upsert leaves the table on
    * the old snapshot with orphaned staging files to GC). At 100 TB the
    * cost is proportional to the TOUCHED key ranges, not the table.
    * Caller contract: one row per cellId in `updates` (dedupe upstream).
    * Returns the new snapshot id. */
  def upsert(spark: SparkSession, table: String, updates: Dataset[Tile]): Long =
    upsertDf(spark, table, updates.toDF())

  /** DataFrame variant of [[upsert]] — the schema-evolution write path:
    * updates may carry columns added by [[evolveAddColumn]] after the
    * table's files were written. Touched buckets rewrite with the new
    * columns (survivors null-fill via unionByName allowMissingColumns);
    * untouched buckets still carry forward by reference, and [[readDf]]
    * null-fills them at read time. Requires a `cellId` key column. */
  def upsertDf(spark: SparkSession, table: String, updates: DataFrame): Long =
    cowMutate(spark, table, updates, isDelete = false)

  /** Row-level DELETE — the Iceberg `DELETE FROM ... WHERE key IN (keys)`
    * copy-on-write analog and [[upsertDf]]'s missing sibling: each delete
    * key is range-assigned to its owning bucket via the same broadcast
    * range table; ONLY the touched buckets are read back and rewritten
    * WITHOUT the deleted rows, every untouched bucket enters the new
    * manifest by reference, and a bucket deleted down to zero rows
    * records `rows: 0` (readers already skip empty entries). Old
    * snapshots still time-travel to the pre-delete rows. Keys that match
    * no row still rewrite their owning bucket (content-identical) — a
    * no-op delete of a missing key is safe, not an error. Cost is
    * proportional to the touched key ranges, not the table. */
  def deleteRows(spark: SparkSession, table: String, keys: DataFrame): Long =
    cowMutate(spark, table, keys.select("cellId"), isDelete = true)

  /** Claims the next snapshot id for a copy-on-write `op` over the
    * current snapshot. A mutation never resumes from partial state — any
    * uncommitted debris at the new id (a crashed upsert, or a crashed
    * compact's staged buckets) would pollute the dynamic-partition dirs;
    * it is cleared and the id claimed with an op marker, so a LATER
    * compact knows this lineage is not its own resume set. Returns
    * (current snapshot, new snapshot, current manifest entries). */
  private def claim(table: String, who: String,
      op: String): (Long, Long, Seq[DataFileEntry]) = {
    val snap = currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"$who: no committed snapshot in $table"))
    val newSnap = nextSnapshotId(table)
    clearUncommitted(table, newSnap)
    writeOpMarker(table, newSnap, op)
    val entries = manifestEntries(table, snap)
    require(entries.nonEmpty, s"$who: empty manifest for $table@$snap")
    (snap, newSnap, entries)
  }

  /** Ownership ranges of a snapshot's live files as a (bucket, lo, hi)
    * table: contiguous Z-ranges by construction, both edges open. */
  private def ownershipRanges(spark: SparkSession,
      entries: Seq[DataFileEntry]): DataFrame = {
    import spark.implicits._
    val owned = entries.filter(_.rows > 0).sortBy(_.minCell)
    owned.indices.map { i =>
      (owned(i).bucket, if (i == 0) Long.MinValue else owned(i).minCell,
        if (i == owned.length - 1) Long.MaxValue else owned(i + 1).minCell - 1)
    }.toDF("bucket", "lo", "hi")
  }

  /** `rows` with the `bucket` column that owns each cellId. */
  private def withOwner(rows: DataFrame, ranges: DataFrame): DataFrame =
    rows.join(broadcast(ranges), col("cellId") >= col("lo") && col("cellId") <= col("hi"))
      .drop("lo", "hi")

  /** Rows of the touched data files under the declared schema, each with
    * its owning bucket (the partition column is not stored in the leaf
    * files). Touched files may span SNAPSHOT EPOCHS with different
    * physical schemas — the declared (or, untracked, mergeSchema) read
    * null-fills columns a file predates, so a previously backfilled
    * column can never read as absent and be erased by the rewrite. */
  private def readOwned(spark: SparkSession, table: String,
      files: Seq[DataFileEntry], ranges: DataFrame): DataFrame =
    withOwner(readFilesDeclared(spark, files.map(_.path), tableSchema(table)), ranges)

  /** Range DELETE over the Z-order cell-id key — the retention /
    * partition-drop shape (`DELETE WHERE key BETWEEN lo AND hi`): a data
    * file whose manifest [minCell, maxCell] lies ENTIRELY inside the
    * range is dropped at the METADATA level — its rows-0 manifest entry
    * is written without the file ever being OPENED (old snapshots still
    * time-travel to it), so dropping a whole partition of a 100 TB table
    * is O(manifest), not O(data). Only files STRADDLING a range edge
    * COW-rewrite (read once, survivors outside the range kept); disjoint
    * files carry forward by reference. Returns the new snapshot. */
  def deleteRange(spark: SparkSession, table: String, lo: Long,
      hi: Long): Long = {
    import spark.implicits._
    require(lo <= hi, s"deleteRange: lo $lo must be <= hi $hi")
    val (snap, newSnap, entries) = claim(table, "deleteRange", "delete")
    def overlaps(e: DataFileEntry) = e.rows > 0 && e.minCell <= hi && e.maxCell >= lo
    def fullIn(e: DataFileEntry) = e.rows > 0 && e.minCell >= lo && e.maxCell <= hi
    val straddle = entries.filter(e => overlaps(e) && !fullIn(e))
    val rewrite = straddle.map(_.bucket).toSet
    val stats = writeBuckets(spark, table, newSnap,
      readOwned(spark, table, straddle, ownershipRanges(spark, entries))
        .filter($"cellId" < lit(lo) || $"cellId" > lit(hi)),
      rewrite.toSeq.sorted, "delete")
    commitSnapshot(table, newSnap, entries.map { e =>
      e.bucket -> (
        if (fullIn(e)) Dropped(e.path)
        else if (rewrite.contains(e.bucket)) Rewritten(stats(e.bucket))
        else Carried(e, snap))
    }, tableSchema(table))
  }

  /** Shared copy-on-write mutation core of [[upsertDf]] (merge rows in)
    * and [[deleteRows]] (anti-join rows out): the two ops differ ONLY in
    * whether the incoming rows union back into the touched buckets'
    * survivors. */
  private def cowMutate(spark: SparkSession, table: String, updates: DataFrame,
      isDelete: Boolean): Long = {
    import spark.implicits._
    val op = if (isDelete) "delete" else "upsert"
    require(updates.columns.contains("cellId"),
      s"$op: rows must carry a cellId key column")
    val (snap, newSnap, entries) = claim(table, op, op)
    require(entries.exists(_.rows > 0), s"$op: no data files in $table@$snap")
    val ranges = ownershipRanges(spark, entries)
    val updB = withOwner(updates, ranges).localCheckpoint(false)
    spark.sparkContext.setJobDescription(s"icelite $op $table@$newSnap touched-buckets")
    val touched = updB.select($"bucket").distinct().as[Int].collect().toSet
    if (touched.isEmpty) return snap // no-op upsert
    val survivors = readOwned(spark, table,
      entries.filter(e => touched.contains(e.bucket)), ranges)
      .join(updB.select($"cellId"), Seq("cellId"), "left_anti")
    // allowMissingColumns: survivors written before an evolveAddColumn
    // lack the new columns — they null-fill here (schema evolution's
    // write path); updates lacking a dropped-from-updates column would
    // likewise null-fill rather than fail. Delete keeps ONLY survivors.
    val merged =
      if (isDelete) survivors
      else survivors.unionByName(updB, allowMissingColumns = true)
    // lineage checksums carried forward BY REFERENCE for untouched
    // buckets use the payload-size checksum term — rewritten buckets must
    // use the same one or the table's checksum set would mix two
    // formulas; a payload-less table has no creation path here.
    // Validated BEFORE the stage write so a payload-less table fails
    // without leaving staged debris under data/<newSnap> (ADVICE r4 #3).
    require(merged.columns.contains("payload"),
      s"$op: tables without a payload column are not supported " +
        "(lineage checksum formula is payload-based)")
    val stats = writeBuckets(spark, table, newSnap, merged, touched.toSeq.sorted, op)
    // declared schema survives an upsert that doesn't carry an evolved
    // column; columns first seen in this upsert append at the end
    val declared = tableSchema(table).getOrElse(Seq.empty)
    val written = schemaOf(merged)
    commitSnapshot(table, newSnap, entries.map { e =>
      e.bucket -> (
        if (touched.contains(e.bucket)) Rewritten(stats(e.bucket))
        else Carried(e, snap))
    }, Some(declared ++ written.filterNot(c => declared.exists(_._1 == c._1))))
  }

  /** Small-file COMPACTION — the Iceberg `rewrite_data_files` analog and
    * the table-maintenance op a 100 TB ingest cannot live without: many
    * small per-micro-batch buckets (the streaming-ingest debris) are
    * read back once and rewritten as `targetBuckets` contiguous Z-range
    * buckets under a NEW snapshot. Readers pinned to the old snapshot
    * are untouched (its data files and manifest stay on disk — time
    * travel preserved); the current-snapshot pointer flips atomically at
    * the end, so a crash mid-compaction leaves the table on the old
    * snapshot with only orphaned staging files to GC. Content is
    * byte-identical by construction (one distributed read -> one
    * dynamic-partition write; no kernel touches payloads), verified by
    * the order-independent lineage checksums. Reads under the DECLARED
    * schema ([[readDf]]), so evolved columns and their backfilled values
    * survive compaction and the recorded schema is unchanged — the
    * typed [[read]] would silently strip both. Returns the new snapshot.
    *
    * Debris rule: the resume set at `snap + 1` is honoured ONLY when a
    * `compact` op marker claims it (a crashed compact resumes exactly);
    * lineage rows or staged files left at that id by a DIFFERENT crashed
    * op (an upsert that died before its metadata flip) are deleted first
    * — resuming over them would skip rewriting those buckets and commit
    * a snapshot mixing half-applied upsert content into a supposedly
    * content-neutral compaction. */
  def compact(spark: SparkSession, table: String, targetBuckets: Int): Long = {
    val snap = currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"compact: no committed snapshot in $table"))
    // nextSnapshotId lands back on a crashed compact's id (its crash
    // predates the manifest, so the id is still free) — the marker check
    // then preserves that crash's resume set; any id holding a manifest
    // (e.g. a rollback-abandoned head) is skipped, never overwritten
    val newSnap = nextSnapshotId(table)
    if (opMarkerOf(table, newSnap) != Some("compact"))
      clearUncommitted(table, newSnap)
    writeOpMarker(table, newSnap, "compact")
    commitResumableDf(spark, readDf(spark, table, snap), table,
      targetBuckets, snap = newSnap)
  }

  /** Op marker disambiguating whose uncommitted work sits at a snapshot
    * id (lineage/<snap>/op.json). [[committedBuckets]] ignores it (the
    * resume set matches only b-*.json). */
  private def writeOpMarker(table: String, snap: Long, op: String): Unit = {
    mkdirs(Paths.get(table, "lineage", snap.toString))
    writeAtomic(Paths.get(table, "lineage", snap.toString, "op.json"),
      s"""{"op": ${q(op)}}""")
  }

  private def opMarkerOf(table: String, snap: Long): Option[String] = {
    val p = Paths.get(table, "lineage", snap.toString, "op.json")
    if (!Files.exists(p)) None else strField(Files.readString(p), "op")
  }

  /** Delete UNCOMMITTED lineage + staged data at a snapshot id (the
    * table's current snapshot must not reference it). */
  private def clearUncommitted(table: String, snap: Long): Unit = {
    require(currentSnapshot(table).forall(_ != snap),
      s"clearUncommitted: snapshot $snap is the committed current snapshot")
    deleteRecursively(Paths.get(table, "lineage", snap.toString))
    deleteRecursively(Paths.get(table, "data", snap.toString))
  }

  /** List a directory's children with the stream CLOSED afterwards
    * (bare `Files.list(...).iterator()` leaks one fd per call); empty
    * when the directory does not exist. */
  private def listDir(p: Path): Seq[Path] = {
    if (!Files.exists(p)) Seq.empty
    else {
      val st = Files.list(p)
      try st.iterator().asScala.toVector finally st.close()
    }
  }

  /** All snapshot ids with a manifest on disk, ascending. */
  def snapshots(table: String): Seq[Long] =
    listDir(Paths.get(table, "manifests")).flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith("m-") && n.endsWith(".json"))
        Some(n.stripPrefix("m-").stripSuffix(".json").toLong)
      else None
    }.sorted

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
    ()
  }

  /** Normalized data paths referenced by the manifests of `snaps`. */
  private def referencedPaths(table: String, snaps: Iterable[Long]): Set[String] =
    snaps.iterator.flatMap(manifestEntries(table, _))
      .map(e => Paths.get(e.path).normalize.toString).toSet

  /** Deletes snapshot `snap`: every data dir of its manifest not in
    * `live`, the manifest and its lineage dir. Returns the deleted data
    * dir count. */
  private def dropSnapshot(table: String, snap: Long, live: Set[String]): Int = {
    val dirs = manifestEntries(table, snap).map(e => Paths.get(e.path).normalize)
      .filter(d => !live.contains(d.toString) && Files.exists(d))
    dirs.foreach(deleteRecursively)
    Files.deleteIfExists(Paths.get(table, "manifests", s"m-$snap.json"))
    deleteRecursively(Paths.get(table, "lineage", snap.toString))
    dirs.length
  }

  /** SNAPSHOT EXPIRY — the Iceberg `expire_snapshots` analog: keep the
    * most recent `keepLast` snapshots (the current one always survives)
    * and delete the manifests, lineage dirs and data files of the rest.
    * Data files are REFCOUNTED across the surviving manifests before
    * deletion — upsert/evolution share files across snapshots by
    * reference, so a file owned by an expired snapshot but still listed
    * in a live manifest must stay. Time travel to an expired snapshot
    * stops working (that is the point: expiry is what bounds a 100 TB
    * table's storage growth). Returns the deleted data-dir count. */
  def expireSnapshots(table: String, keepLast: Int): Int = {
    require(keepLast >= 1, s"expireSnapshots: keepLast must be >= 1, got $keepLast")
    val all = snapshots(table)
    val current = currentSnapshot(table)
    // staged-but-unpublished WAP refs are pinned: expiring one would
    // leave publish() pointing at a deleted manifest
    val keep = (all.takeRight(keepLast) ++ current ++ stagedRefs(table)).toSet
    val expired = all.filterNot(keep.contains)
    if (expired.isEmpty) return 0
    val live = referencedPaths(table, keep)
    expired.map(dropSnapshot(table, _, live)).sum
  }

  /** ORPHAN-FILE GC — the Iceberg `remove_orphan_files` analog: delete
    * every bucket dir under `table/data/` that no manifest on disk
    * references (the debris of a commit or upsert that crashed before
    * its atomic metadata flip). Never touches a referenced file.
    *
    * Resumability interplay: a manifest-LESS snapshot whose data is
    * deleted must also lose its `lineage/<snap>` checkpoint rows —
    * otherwise a resumed `commitResumable` would skip the checkpointed
    * buckets, find their files gone, and commit EMPTY buckets silently.
    * GC therefore clears both together (the resumed run redoes all
    * buckets — progress lost, correctness kept). Do not run concurrently
    * with an IN-FLIGHT commit on the same table: that job's staging
    * looks identical to crash debris. Returns the deleted dir count. */
  def removeOrphanFiles(table: String, graceMs: Long = 600000L): Int = {
    val dataRoot = Paths.get(table, "data")
    if (!Files.exists(dataRoot)) return 0
    val now = System.currentTimeMillis()
    // mtime grace window: an IN-FLIGHT upsert/commit stages its files
    // under data/<newSnap> BEFORE the atomic manifest rename makes the
    // snapshot live — a concurrent GC must not treat that staging as
    // orphaned. Anything touched within `graceMs` is skipped; the next
    // GC pass (after the window) reaps it if the commit truly died
    // (ADVICE r4 #3).
    def inGrace(p: java.nio.file.Path): Boolean =
      try now - Files.getLastModifiedTime(p).toMillis < graceMs
      catch { case _: java.io.IOException => true } // racing writer: skip
    val live = snapshots(table).toSet
    val referenced = referencedPaths(table, live)
    var deleted = 0
    listDir(dataRoot).foreach { snapDir =>
      if (Files.isDirectory(snapDir)) {
        // grace evaluated BEFORE any deletion below: removing children
        // bumps the dir's mtime past the captured `now`, which would
        // otherwise read as "in grace" for the rest of this pass
        val snapFresh = inGrace(snapDir)
        listDir(snapDir).foreach { bucketDir =>
          // only bucket DIRS are data-file units; commit markers
          // (_SUCCESS etc.) at the snapshot level are never orphans
          if (Files.isDirectory(bucketDir) &&
              !referenced.contains(bucketDir.normalize.toString) &&
              !snapFresh && !inGrace(bucketDir)) {
            deleteRecursively(bucketDir); deleted += 1
          }
        }
        val snapName = snapDir.getFileName.toString
        val manifestLess = snapName.forall(_.isDigit) &&
          !live.contains(snapName.toLong)
        if (manifestLess && !snapFresh) {
          // the snapshot never committed: its checkpoint rows must die
          // with its data (see scaladoc)
          deleteRecursively(Paths.get(table, "lineage", snapName))
        }
        if (listDir(snapDir).isEmpty) Files.deleteIfExists(snapDir)
      }
    }
    deleted
  }

  /** Lineage row: one bucket's committed rows and checksum. */
  private def encodeLineage(l: Lineage): String =
    s"""{"bucket": ${l.bucket}, "rows": ${l.rows}, "checksum": ${l.checksum}}"""

  /** Lineage rows of a snapshot (metrics surface). */
  def lineage(table: String, snap: Long): Seq[Lineage] = {
    val re = """\{"bucket": (\d+), "rows": (\d+), "checksum": (-?\d+)\}""".r
    listDir(Paths.get(table, "lineage", snap.toString))
      .filter(_.getFileName.toString.endsWith(".json"))
      .flatMap(p => re.findFirstMatchIn(Files.readString(p)))
      .map(m => Lineage(m.group(1).toInt, m.group(2).toLong, m.group(3).toLong))
      .sortBy(_.bucket)
  }
}
