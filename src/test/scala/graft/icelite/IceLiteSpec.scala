package graft.icelite

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Synth
import graft.operators.TileOps

/** Resumability gate (BASELINE.md): kill mid-ingest -> re-run skips
  * committed buckets -> final table identical to a clean run. */
class IceLiteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def demTiles = TileOps.tileGrid(spark, Synth.demRef, 6)(Synth.demValue)

  test("kill/re-run resume: committed buckets are skipped, result identical") {
    val table = Files.createTempDirectory("icelite").toString
    val buckets = 4

    // first attempt dies before bucket 2
    val died = intercept[RuntimeException] {
      IceLite.commitResumable(spark, demTiles, table, buckets, snap = 1L,
        failAtBucket = Some(2))
    }
    assert(died.getMessage.contains("injected failure"))
    // lineage rows 0 and 1 checkpointed; no metadata committed yet
    assert(IceLite.committedBuckets(table, 1L) == Set(0, 1))
    assert(IceLite.currentSnapshot(table).isEmpty)

    // re-run completes, skipping 0 and 1 (their lineage mtimes are reused)
    val before = IceLite.lineage(table, 1L).map(l => l.bucket -> l.checksum).toMap
    IceLite.commitResumable(spark, demTiles, table, buckets, snap = 1L)
    assert(IceLite.currentSnapshot(table).contains(1L))
    val after = IceLite.lineage(table, 1L).map(l => l.bucket -> l.checksum).toMap
    assert(after.size == buckets)
    assert(before.forall { case (b, c) => after(b) == c }) // untouched

    // read back: full parity with the source
    val got = IceLite.read(spark, table, 1L).collect()
      .map(t => t.cellId -> t.payload.toSeq).toMap
    val want = demTiles.collect().map(t => t.cellId -> t.payload.toSeq).toMap
    assert(got.keySet == want.keySet)
    assert(got.forall { case (k, v) =>
      v.zip(want(k)).forall { case (a, b) => a == b || (a.isNaN && b.isNaN) }
    })
  }

  test("manifest min/max pruning skips non-overlapping buckets") {
    val table = Files.createTempDirectory("icelite2").toString
    IceLite.commitResumable(spark, demTiles, table, 4, snap = 7L)
    val all = IceLite.read(spark, table, 7L).count()
    val lo = IceLite.read(spark, table, 7L, cellRange = Some((Long.MinValue, -1L)))
    assert(lo.count() == 0) // fully pruned, no file read
    val some = IceLite.read(spark, table, 7L,
      cellRange = Some((0L, Long.MaxValue)))
    assert(some.count() == all)
  }

  test("metadata versions advance; new snapshot becomes current") {
    val table = Files.createTempDirectory("icelite3").toString
    IceLite.commitResumable(spark, demTiles, table, 2, snap = 1L)
    assert(IceLite.currentVersion(table) == 1)
    IceLite.commitResumable(spark, demTiles, table, 2, snap = 2L)
    assert(IceLite.currentVersion(table) == 2)
    assert(IceLite.currentSnapshot(table).contains(2L))
  }

  test("compact: fewer buckets, identical content, old snapshot time-travels") {
    import spark.implicits._
    val table = Files.createTempDirectory("icelite4").toString
    // simulate streaming-ingest debris: 16 tiny buckets
    IceLite.commitResumable(spark, demTiles, table, 16, snap = 1L)
    def parquetFiles(snap: Long): Int = {
      val dir = java.nio.file.Paths.get(table, "data", snap.toString)
      val out = Files.walk(dir)
      try out.filter(p => p.toString.endsWith(".parquet")).count().toInt
      finally out.close()
    }
    val filesBefore = parquetFiles(1L)
    val snap2 = IceLite.compact(spark, table, targetBuckets = 2)
    assert(snap2 == 2L && IceLite.currentSnapshot(table).contains(2L))
    assert(parquetFiles(2L) < filesBefore)
    // content identical: same (cellId -> payload checksum) map both snapshots
    def content(snap: Long) = IceLite.read(spark, table, snap)
      .map(t => (t.cellId, t.payload.map(v =>
        if (v.isNaN) 1L else java.lang.Double.doubleToLongBits(v)).sum))
      .collect().toMap
    val (c1, c2) = (content(1L), content(2L))
    assert(c1.nonEmpty && c1 == c2)
    // the XOR lineage checksums (order-free) also agree in aggregate
    def chk(snap: Long) = IceLite.lineage(table, snap).map(_.checksum)
      .foldLeft(0L)(_ ^ _)
    assert(chk(1L) == chk(2L))
    // old snapshot untouched: its manifest + data files still readable
    assert(IceLite.read(spark, table, 1L).count() == c1.size)
  }

  test("compact preserves evolved columns and declared schema (DataFrame path)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val table = Files.createTempDirectory("icelite-ce").toString
    IceLite.commitResumable(spark, demTiles, table, buckets = 4, snap = 1L)
    IceLite.evolveAddColumn(table, "grade", "BIGINT")
    val someIds = IceLite.read(spark, table, 1L).collect()
      .map(_.cellId).sorted.take(3).toSet
    val updates = IceLite.read(spark, table, 1L)
      .filter(t => someIds.contains(t.cellId)).toDF()
      .withColumn("grade", lit(9L))
    val s2 = IceLite.upsertDf(spark, table, updates)
    val s3 = IceLite.compact(spark, table, targetBuckets = 2)
    assert(s3 == s2 + 1 && IceLite.currentSnapshot(table).contains(s3))
    // declared schema still carries grade after compaction (the typed
    // read() path would have silently dropped it from files AND schema)
    assert(IceLite.tableSchema(table).exists(_.exists(_._1 == "grade")))
    // backfilled values survive the rewrite; the rest still null-fill
    val gmap = IceLite.readDf(spark, table, s3)
      .select($"cellId", $"grade").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    someIds.foreach(id => assert(gmap(id) == 9L))
    assert(gmap.values.count(_ == 9L) == 3)
    assert(gmap.values.count(_ == -1L) == gmap.size - 3)
    // payload content identical across the upsert and compacted snapshots
    def content(snap: Long) = IceLite.read(spark, table, snap)
      .map(t => (t.cellId, t.payload.map(v =>
        if (v.isNaN) 1L else java.lang.Double.doubleToLongBits(v)).sum))
      .collect().toMap
    assert(content(s3) == content(s2))
  }

  test("deleteRows: COW — only owning buckets rewrite; time travel; empty table end state") {
    import spark.implicits._
    val table = Files.createTempDirectory("icelite-del").toString
    IceLite.commitResumable(spark, demTiles, table, buckets = 4, snap = 1L)
    val all = IceLite.read(spark, table, 1L).collect()
    val victims = all.map(_.cellId).sorted.take(2).toSeq
    val s2 = IceLite.deleteRows(spark, table,
      spark.createDataset(victims).toDF("cellId"))
    assert(s2 == 2L && IceLite.currentSnapshot(table).contains(2L))
    assert(IceLite.read(spark, table, 2L).collect().map(_.cellId).toSet ==
      all.map(_.cellId).toSet -- victims)
    // old snapshot still serves the pre-delete rows
    assert(IceLite.read(spark, table, 1L).count() == all.length)
    // untouched buckets carried forward BY REFERENCE (identical paths)
    val m1 = IceLite.manifestEntries(table, 1L).map(e => e.bucket -> e.path).toMap
    val m2 = IceLite.manifestEntries(table, 2L).map(e => e.bucket -> e.path).toMap
    val rewritten = m2.filter { case (b, p) => m1(b) != p }.keySet
    assert(rewritten.nonEmpty && rewritten.size < m1.size)
    assert(IceLite.manifestEntries(table, 2L).map(_.rows).sum ==
      all.length - victims.length)
    // delete EVERYTHING: every touched bucket empties (rows: 0 entries,
    // no staged partition dir) and the table reads back empty
    val s3 = IceLite.deleteRows(spark, table,
      spark.createDataset(all.map(_.cellId).toSeq).toDF("cellId"))
    assert(IceLite.read(spark, table, s3).count() == 0)
    assert(IceLite.manifestEntries(table, s3).forall(_.rows == 0))
    // and the full-delete shows up as all-delete changelog rows
    val ch = IceLite.readChanges(spark, table, s2, s3)
    assert(ch.filter($"_change_type" === "delete").count() ==
      all.length - victims.length)
    assert(ch.count() == all.length - victims.length)
  }

  test("readChanges: typed diff, reference-carried files pruned, compact diff empty") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val table = Files.createTempDirectory("icelite-cdc").toString
    IceLite.commitResumable(spark, demTiles, table, buckets = 4, snap = 1L)
    val ids = IceLite.read(spark, table, 1L).collect().map(_.cellId).sorted
    val updKeys = ids.take(2).toSet
    val updates = IceLite.read(spark, table, 1L)
      .filter(t => updKeys.contains(t.cellId))
      .map(t => t.copy(payload = t.payload.map(_ + 5.0)))
    val extra = graft.core.Tile(ids.last + 1000L, 0, 0, 1, 2, Array(1.0, 2.0))
    val s2 = IceLite.upsert(spark, table,
      updates.union(spark.createDataset(Seq(extra))))
    val byType = IceLite.readChanges(spark, table, 1L, s2)
      .groupBy($"_change_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 1L,
      "update_postimage" -> 2L, "update_preimage" -> 2L))
    // post/pre images carry the actual new/old payloads
    val first = IceLite.readChanges(spark, table, 1L, s2)
      .filter($"cellId" === ids.head)
      .select($"_change_type", element_at($"payload", 1))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(first("update_postimage") == first("update_preimage") + 5.0)
    // metadata-only pruning: files carried by reference appear in NEITHER
    // changed-file set — they are never opened by the diff
    val carried = IceLite.manifestEntries(table, 1L).map(_.path).toSet
      .intersect(IceLite.manifestEntries(table, s2).map(_.path).toSet)
    val (oldF, newF) = IceLite.changedFiles(table, 1L, s2)
    assert(carried.nonEmpty)
    assert(oldF.toSet.intersect(carried).isEmpty)
    assert(newF.toSet.intersect(carried).isEmpty)
    // compaction rewrites every file path but no content: empty changelog
    val s3 = IceLite.compact(spark, table, targetBuckets = 2)
    assert(IceLite.readChanges(spark, table, s2, s3).count() == 0)
    assert(IceLite.readChanges(spark, table, s2, s2).count() == 0)
  }

  test("deleteRange: full-in files drop METADATA-only, straddlers rewrite, rest carry") {
    import graft.core.{CellId, GridRef}
    // single tile ROW: Z-order ids are monotonic in tx, so the 4
    // value-range buckets are contiguous tx ranges and the range edges
    // can be aimed at bucket boundaries
    val ref = GridRef(ncols = 1024, nrows = 64, xll = 0, yll = 0,
      cellsize = 1, nodata = -9999)
    val strip = TileOps.tileGrid(spark, ref, 6)((r, c) => (r + c).toDouble)
    val table = Files.createTempDirectory("icelite-rdel").toString
    IceLite.commitResumable(spark, strip, table, buckets = 4, snap = 1L)
    // delete tiles tx = 7 and 8 (col0 448 and 512): bucket 0 straddles
    // (rewrites without tx 7), the bucket holding ONLY tx 8 is fully
    // inside (metadata-only drop), the high bucket is disjoint (carry)
    val s2 = IceLite.deleteRange(spark, table,
      CellId.encode(6, 7, 0), CellId.encode(6, 8, 0))
    val after = IceLite.read(spark, table, s2).collect()
    assert(after.length == 14)
    assert(after.map(_.col0).toSet ==
      ((0 until 7) ++ (9 until 16)).map(_ * 64).toSet)
    assert(IceLite.read(spark, table, 1L).count() == 16) // time travel
    val m1 = IceLite.manifestEntries(table, 1L).map(e => e.bucket -> e).toMap
    val m2 = IceLite.manifestEntries(table, s2).map(e => e.bucket -> e).toMap
    // metadata-only drop: rows -> 0 but the OLD path is preserved unread
    val dropped = m2.values.filter(e =>
      e.rows == 0 && m1(e.bucket).rows > 0 && e.path == m1(e.bucket).path)
    assert(dropped.nonEmpty)
    // exactly one straddling bucket rewrote to a NEW path
    val rewritten = m2.values.filter(e =>
      e.rows > 0 && e.path != m1(e.bucket).path)
    assert(rewritten.size == 1)
    // disjoint buckets carry forward by reference
    val carried = m2.values.filter(e =>
      e.rows > 0 && e.path == m1(e.bucket).path)
    assert(carried.nonEmpty)
    assert(m2.values.map(_.rows).sum == 14)
  }

  test("metadata-only count/planFiles agree with actual reads at every stage") {
    import graft.core.{CellId, GridRef}
    val ref = GridRef(ncols = 1024, nrows = 64, xll = 0, yll = 0,
      cellsize = 1, nodata = -9999)
    val strip = TileOps.tileGrid(spark, ref, 6)((r, c) => (r + c).toDouble)
    val table = Files.createTempDirectory("icelite-meta").toString
    IceLite.commitResumable(spark, strip, table, buckets = 4, snap = 1L)
    val s2 = IceLite.deleteRange(spark, table,
      CellId.encode(6, 7, 0), CellId.encode(6, 8, 0))
    for (sn <- Seq(1L, s2)) {
      // the metadata-only count must equal a full scan's count, without
      // opening a file itself
      assert(IceLite.countRows(table, sn) == IceLite.read(spark, table, sn).count())
      assert(IceLite.dataFileCount(table, sn) ==
        IceLite.manifestEntries(table, sn).count(_.rows > 0))
    }
    // planFiles == exactly what a ranged read opens: every planned file's
    // rows are scanned, and no in-range row lives outside the plan
    val b = CellId.encode(6, 0, 0)
    for ((lo, hi) <- Seq((b, b + 21L), (b + 22L, b + 63L), (b + 21L, b + 64L))) {
      val plan = IceLite.planFiles(table, 1L, lo, hi)
      val scanned = IceLite.read(spark, table, 1L, Some((lo, hi)))
      assert(plan.map(_.rows).sum == scanned.count(), s"range ($lo,$hi)")
      val inRange = IceLite.read(spark, table, 1L)
        .filter(t => t.cellId >= lo && t.cellId <= hi).count()
      assert(scanned.filter(t => t.cellId >= lo && t.cellId <= hi)
        .count() == inRange, s"plan must cover every in-range row ($lo,$hi)")
    }
  }

  test("abandonStaged: reject arm GCs staged artifacts only; refuses published") {
    import graft.core.GridRef
    val ref = GridRef(ncols = 160, nrows = 96, xll = 0, yll = 0,
      cellsize = 1, nodata = -9999)
    val base = TileOps.tileGrid(spark, ref, 6)((r, c) => (r + c).toDouble)
    val table = Files.createTempDirectory("icelite-abandon").toString
    IceLite.commitResumable(spark, base, table, buckets = 4, snap = 1L)
    IceLite.commitResumable(spark, base.filter(_.col0 != 0), table,
      buckets = 4, snap = 2L, stageRef = Some("bad"))
    assert(IceLite.snapshots(table) == Seq(1L, 2L))
    // nonexistent ref: no-op
    assert(IceLite.abandonStaged(table, "nope") == 0)
    // reject: staged manifest + lineage + all 4 unshared dirs go
    assert(IceLite.abandonStaged(table, "bad") == 4)
    assert(IceLite.snapshots(table) == Seq(1L))
    assert(IceLite.refSnapshot(table, "bad").isEmpty)
    assert(IceLite.read(spark, table, 1L).count() == 6) // main intact
    intercept[IceLite.SnapshotNotFound] { IceLite.read(spark, table, 2L).count() }
    // the freed id is safely reclaimable by the next writer
    assert(IceLite.nextSnapshotId(table) == 2L)
    // published snapshots refuse the abandon arm
    IceLite.commitResumable(spark, base, table, buckets = 4, snap = 2L,
      stageRef = Some("ok"))
    IceLite.publish(table, "ok")
    IceLite.commitResumable(spark, base, table, buckets = 4, snap = 3L,
      stageRef = Some("oops"))
    // hand-point the ref at the PUBLISHED snapshot to exercise the guard
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(table, "refs", "oops.json"),
      """{"snap": 2, "buckets": 4, "schema": []}""")
    intercept[IllegalArgumentException] {
      IceLite.abandonStaged(table, "oops")
    }
  }

  test("rollback: metadata-only undo; abandoned head pinned; ids never reused") {
    import spark.implicits._
    val table = Files.createTempDirectory("icelite-rb").toString
    IceLite.commitResumable(spark, demTiles, table, buckets = 4, snap = 1L)
    val n = IceLite.read(spark, table, 1L).count()
    val someId = IceLite.read(spark, table, 1L).collect().map(_.cellId).min
    val upd = IceLite.read(spark, table, 1L)
      .filter(t => t.cellId == someId)
      .map(t => t.copy(payload = t.payload.map(_ + 1.0)))
    val s2 = IceLite.upsert(spark, table, upd)
    assert(IceLite.currentSnapshot(table).contains(s2))
    assert(IceLite.rollback(table, 1L) == 1L)
    assert(IceLite.currentSnapshot(table).contains(1L))
    // abandoned head still readable by pin
    assert(IceLite.read(spark, table, s2).count() == n)
    // next write branches PAST the abandoned head, not over it
    val s3 = IceLite.upsert(spark, table, upd)
    assert(s3 == s2 + 1)
    assert(IceLite.read(spark, table, s2).count() == n) // s2 untouched
    // snapshots metadata table sees all three, current flagged correctly
    val snaps = IceLite.snapshotsDf(spark, table).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(snaps.keySet == Set(1L, s2, s3))
    assert(snaps(s3) && !snaps(1L) && !snaps(s2))
    intercept[IllegalArgumentException] { IceLite.rollback(table, 99L) }
  }

  test("write-audit-publish: stage invisible until publish; expire pins staged refs") {
    val table = Files.createTempDirectory("icelite-wap").toString
    IceLite.commitResumable(spark, demTiles, table, buckets = 4, snap = 1L)
    val n = IceLite.read(spark, table, 1L).count()
    // stage snapshot 2 on ref "wap": current pointer must NOT move
    IceLite.commitResumable(spark, demTiles, table, buckets = 2, snap = 2L,
      stageRef = Some("wap"))
    assert(IceLite.currentSnapshot(table).contains(1L))
    assert(IceLite.refSnapshot(table, "wap").contains(2L))
    assert(IceLite.read(spark, table, 2L).count() == n) // auditors can read it
    // a later MAIN commit lands at snapshot 3; expire down to keepLast=1
    // would normally drop both 1 and 2 — the staged ref pins 2
    IceLite.commitResumable(spark, demTiles, table, buckets = 4, snap = 3L)
    assert(IceLite.currentSnapshot(table).contains(3L))
    IceLite.expireSnapshots(table, keepLast = 1)
    assert(!Files.exists(java.nio.file.Paths.get(table, "manifests", "m-1.json")))
    assert(IceLite.read(spark, table, 2L).count() == n) // pinned, still readable
    // publish flips current to the staged snapshot and consumes the ref
    assert(IceLite.publish(table, "wap") == 2L)
    assert(IceLite.currentSnapshot(table).contains(2L))
    assert(IceLite.refSnapshot(table, "wap").isEmpty)
    // publishing a missing ref fails loudly
    intercept[IllegalArgumentException] { IceLite.publish(table, "wap") }
  }

  test("compact clears a crashed upsert's uncommitted debris at snap+1") {
    import spark.implicits._
    val table = Files.createTempDirectory("icelite-debris").toString
    IceLite.commitResumable(spark, demTiles, table, buckets = 4, snap = 1L)
    // simulate a crashed upsert at snapshot 2: lineage rows + one staged
    // bucket with WRONG content, metadata never flipped (current stays 1)
    val lin = java.nio.file.Paths.get(table, "lineage", "2")
    Files.createDirectories(lin)
    Files.writeString(lin.resolve("op.json"), """{"op": "upsert"}""")
    Files.writeString(lin.resolve("b-0.json"),
      """{"bucket": 0, "rows": 1, "checksum": 99}""")
    val junkDir = java.nio.file.Paths.get(table, "data", "2", "bucket=0")
    Files.createDirectories(junkDir)
    spark.createDataset(Seq(graft.core.Tile(0L, 0, 0, 1, 1, Array(123.0))))
      .toDF().write.mode("overwrite").parquet(junkDir.toString)
    // without the debris rule, commitResumable would see bucket 0 as
    // "already committed", skip rewriting it, and serve the junk
    val snap2 = IceLite.compact(spark, table, targetBuckets = 2)
    assert(snap2 == 2L)
    def content(snap: Long) = IceLite.read(spark, table, snap)
      .map(t => (t.cellId, t.payload.map(v =>
        if (v.isNaN) 1L else java.lang.Double.doubleToLongBits(v)).sum))
      .collect().toMap
    assert(content(2L) == content(1L))
    assert(IceLite.lineage(table, 2L).map(_.rows).sum ==
      IceLite.lineage(table, 1L).map(_.rows).sum)
  }

  test("upsert: COW merge — touched bucket rewritten, rest by reference, time travel") {
    import spark.implicits._
    import graft.core.Tile
    val table = Files.createTempDirectory("icelite").toString
    IceLite.commitResumable(spark, demTiles, table, buckets = 4, snap = 1L)
    val base = IceLite.read(spark, table, 1L).collect()
      .map(t => t.cellId -> t).toMap
    val ids = base.keySet.toSeq.sorted
    val victim = ids.head              // lives in bucket 0 (lowest range)
    val newId = ids.max + 1000L        // beyond every range -> edge bucket
    val vt = base(victim)
    val updates = Seq(
      vt.copy(payload = vt.payload.map(_ => 42.0)),
      Tile(newId, 0, 0, 2, 2, Array(1.0, 2.0, 3.0, 4.0)))
    val s2 = IceLite.upsert(spark, table, spark.createDataset(updates))
    assert(s2 == 2L && IceLite.currentSnapshot(table).contains(2L))

    // new snapshot: replaced payload + appended key, everything else intact
    val got = IceLite.read(spark, table, 2L).collect()
      .map(t => t.cellId -> t.payload.toSeq).toMap
    assert(got.size == base.size + 1)
    assert(got(victim).forall(_ == 42.0))
    assert(got(newId) == Seq(1.0, 2.0, 3.0, 4.0))
    ids.filterNot(_ == victim).foreach { id =>
      val a = got(id); val b = base(id).payload.toSeq
      assert(a.zip(b).forall { case (x, y) => x == y || (x.isNaN && y.isNaN) })
    }

    // old snapshot time-travels: pre-merge content exactly
    val old = IceLite.read(spark, table, 1L).collect()
      .map(t => t.cellId -> t.payload.toSeq).toMap
    assert(old.keySet == base.keySet)
    assert(!old(victim).forall(_ == 42.0))

    // COW by-reference proof: untouched buckets' manifest entries still
    // point at snapshot-1 data dirs; touched ones moved to snapshot 2
    val e2 = IceLite.manifestEntries(table, 2L)
    val touched = e2.filter(_.path.contains("/data/2/")).map(_.bucket).toSet
    val untouched = e2.filter(_.path.contains("/data/1/")).map(_.bucket).toSet
    assert(touched.nonEmpty && untouched.nonEmpty)
    assert((touched & untouched).isEmpty && (touched | untouched).size == 4)
    // lineage carried forward for untouched buckets; totals gain the
    // appended row. (The lineage checksum keys on (cellId, size) — an
    // equal-size payload REPLACEMENT leaves it unchanged by design; the
    // payload change itself is verified by the read-back above.)
    val l1 = IceLite.lineage(table, 1L)
    val l2 = IceLite.lineage(table, 2L)
    val c1 = l1.map(l => l.bucket -> l.checksum).toMap
    val c2 = l2.map(l => l.bucket -> l.checksum).toMap
    untouched.foreach(b => assert(c2(b) == c1(b)))
    assert(l2.map(_.rows).sum == l1.map(_.rows).sum + 1)
    // the bucket that gained the appended key changed its checksum
    val r1 = l1.map(l => l.bucket -> l.rows).toMap
    val gained = l2.filter(l => l.rows != r1(l.bucket)).map(_.bucket)
    assert(gained.size == 1 && c2(gained.head) != c1(gained.head))
  }

  test("schema evolution: metadata-only add column, null-fill read, COW backfill") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val table = Files.createTempDirectory("icelite").toString
    IceLite.commitResumable(spark, demTiles, table, buckets = 4, snap = 1L)
    val schema1 = IceLite.tableSchema(table).get
    assert(schema1.map(_._1) ==
      Seq("cellId", "row0", "col0", "h", "w", "payload"))

    // evolve: metadata bumps, snapshot/manifest/files untouched
    val mBefore = IceLite.manifestEntries(table, 1L)
    val vBefore = IceLite.currentVersion(table)
    val v2 = IceLite.evolveAddColumn(table, "quality", "DOUBLE")
    assert(v2 == vBefore + 1)
    assert(IceLite.currentSnapshot(table).contains(1L))
    assert(IceLite.manifestEntries(table, 1L) == mBefore)
    assert(IceLite.tableSchema(table).get.last == ("quality", "DOUBLE"))
    intercept[IllegalArgumentException] {
      IceLite.evolveAddColumn(table, "quality", "DOUBLE") }

    // read under the declared schema: the new column exists, all NULL
    val df1 = IceLite.readDf(spark, table, 1L)
    assert(df1.columns.toSeq ==
      Seq("cellId", "row0", "col0", "h", "w", "payload", "quality"))
    val n = df1.count()
    assert(df1.filter($"quality".isNull).count() == n && n > 0)

    // COW backfill: upsert two rows WITH quality; untouched files still
    // null-fill, touched rows carry values, old snapshot time-travels
    val ids = df1.select($"cellId").as[Long].collect().sorted
    val twoLow = ids.take(2)  // same low bucket -> at most 1-2 buckets touched
    val upd = IceLite.readDf(spark, table, 1L)
      .filter($"cellId".isin(twoLow: _*))
      .withColumn("quality", lit(0.875))
    val s2 = IceLite.upsertDf(spark, table, upd)
    assert(s2 == 2L)
    val df2 = IceLite.readDf(spark, table, 2L)
    assert(df2.filter($"quality" === 0.875).select($"cellId").as[Long]
      .collect().sorted.toSeq == twoLow.toSeq)
    assert(df2.filter($"quality".isNull).count() == n - 2)
    // declared schema survives; by-reference files remain from snapshot 1
    assert(IceLite.tableSchema(table).get.last == ("quality", "DOUBLE"))
    val e2 = IceLite.manifestEntries(table, 2L)
    assert(e2.exists(_.path.contains("/data/1/")))
    // Tile-typed read of the old snapshot still works (pre-evolution view)
    assert(IceLite.read(spark, table, 1L).count() == n)

    // SECOND upsert touching the backfilled bucket AND a pre-evolution
    // one: the survivor read spans two snapshot epochs with different
    // physical schemas — mergeSchema must keep the earlier backfill
    // (a single-file-schema read would silently erase it)
    val ids2 = df2.select($"cellId").as[Long].collect().sorted
    val midKey = ids2(ids2.length / 2)
    val upd2 = IceLite.readDf(spark, table, 2L)
      .filter($"cellId".isin(twoLow(0), midKey))
      .withColumn("quality", lit(0.5))
    val s3 = IceLite.upsertDf(spark, table, upd2)
    val df3 = IceLite.readDf(spark, table, s3)
    assert(df3.filter($"cellId" === twoLow(1))
      .select($"quality").as[Double].head() == 0.875)
    assert(df3.filter($"quality" === 0.5).count() == 2)
    assert(df3.filter($"quality".isNull).count() == n - 3)
  }

  test("expireSnapshots + removeOrphanFiles: refcounted GC, current intact") {
    import spark.implicits._
    import graft.core.Tile
    val table = Files.createTempDirectory("icelite").toString
    IceLite.commitResumable(spark, demTiles, table, buckets = 4, snap = 1L)
    val ids = IceLite.read(spark, table, 1L).collect().map(_.cellId).sorted
    // upsert one low key: 3 of 4 buckets carry into snap 2 BY REFERENCE
    val upd = IceLite.read(spark, table, 1L)
      .filter(_.cellId == ids.head).collect()
      .map(t => t.copy(payload = t.payload.map(_ => 7.0))).toSeq
    assert(IceLite.upsert(spark, table, spark.createDataset(upd)) == 2L)
    val n2 = IceLite.read(spark, table, 2L).count()

    // plant a crashed-write orphan. Default-grace GC must SKIP it (it is
    // fresh — indistinguishable from an in-flight commit's staging);
    // grace 0 reaps exactly it.
    val orphan = java.nio.file.Paths.get(table, "data", "99", "bucket=0")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("junk.parquet"), "not parquet")
    assert(IceLite.removeOrphanFiles(table) == 0)
    assert(Files.exists(orphan))
    assert(IceLite.removeOrphanFiles(table, graceMs = 0L) == 1)
    assert(!Files.exists(orphan))
    assert(IceLite.read(spark, table, 2L).count() == n2)

    // expire snapshot 1: only its EXCLUSIVE file dies (the pre-upsert
    // copy of the touched bucket); the 3 shared-by-reference dirs live
    assert(IceLite.snapshots(table) == Seq(1L, 2L))
    val deleted = IceLite.expireSnapshots(table, keepLast = 1)
    assert(deleted == 1)
    assert(IceLite.snapshots(table) == Seq(2L))
    assert(IceLite.read(spark, table, 2L).count() == n2)
    assert(IceLite.lineage(table, 1L).isEmpty)
    // time travel to the expired snapshot now fails (manifest gone)
    intercept[IceLite.SnapshotNotFound] { IceLite.manifestEntries(table, 1L) }
    // idempotent: nothing left to expire or GC
    assert(IceLite.expireSnapshots(table, keepLast = 1) == 0)
    assert(IceLite.removeOrphanFiles(table, graceMs = 0L) == 0)

    // crashed resumable commit: staged data + PARTIAL lineage, no
    // manifest. GC must clear the lineage checkpoints WITH the data —
    // otherwise a resumed run would skip the checkpointed buckets,
    // find their files gone, and commit empty buckets silently.
    val want = IceLite.read(spark, table, 2L).collect()
      .map(t => t.cellId -> t.payload.toSeq).toMap
    intercept[RuntimeException] {
      IceLite.commitResumable(spark, IceLite.read(spark, table, 2L), table,
        buckets = 4, snap = 3L, failAtBucket = Some(2))
    }
    assert(IceLite.committedBuckets(table, 3L).nonEmpty) // partial checkpoint
    assert(IceLite.removeOrphanFiles(table, graceMs = 0L) > 0)
    assert(IceLite.committedBuckets(table, 3L).isEmpty)  // checkpoints died too
    // the resumed (full-redo) run commits the complete content
    IceLite.commitResumable(spark, IceLite.read(spark, table, 2L), table,
      buckets = 4, snap = 3L)
    val got3 = IceLite.read(spark, table, 3L).collect()
      .map(t => t.cellId -> t.payload.toSeq).toMap
    assert(got3.keySet == want.keySet)
    got3.foreach { case (k, v) =>
      assert(v.zip(want(k)).forall { case (x, y) =>
        x == y || (x.isNaN && y.isNaN) })
    }
  }

  /** Every metadata/manifest/lineage/ref file of `table`, sorted by path,
    * with the table path replaced by `<T>`. */
  private def formatDump(table: String, dirs: Seq[String]): String = {
    val root = java.nio.file.Paths.get(table)
    dirs.map(root.resolve).filter(Files.exists(_)).flatMap { d =>
      val st = Files.walk(d)
      try st.filter(Files.isRegularFile(_)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
      finally st.close()
    }.map { p =>
      s"== ${root.relativize(p)}\n" + Files.readString(p).replace(table, "<T>")
    }.sorted.mkString("\n")
  }

  // Existing tables are read back through these exact bytes (resume and
  // the lineage audit trust the checksums), so every writer runs once on
  // one small table and its files must match the literals below verbatim.
  test("on-disk format pin: bytes of every writer's metadata, manifests, lineage and refs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.core.{CellId, GridRef}
    val ref = GridRef(ncols = 1024, nrows = 64, xll = 0, yll = 0,
      cellsize = 1, nodata = -9999)
    val strip = TileOps.tileGrid(spark, ref, 6)((r, c) => (r + c).toDouble)
    val table = Files.createTempDirectory("icelite-pin").toString
    IceLite.commitResumable(spark, strip, table, buckets = 4, snap = 1L)
    IceLite.commitResumable(spark, strip.filter(_.col0 != 0), table,
      buckets = 4, snap = 2L, stageRef = Some("audit"))
    val staged = formatDump(table, Seq("refs"))
    IceLite.publish(table, "audit")
    val s3 = IceLite.upsert(spark, table, strip.filter(_.col0 <= 64)
      .map(t => t.copy(payload = t.payload.map(_ + 1.0))))
    val s4 = IceLite.deleteRows(spark, table,
      strip.filter(_.col0 == 960).toDF().select("cellId"))
    val s5 = IceLite.deleteRange(spark, table,
      CellId.encode(6, 7, 0), CellId.encode(6, 8, 0))
    IceLite.evolveAddColumn(table, "grade", "BIGINT")
    val s6 = IceLite.upsertDf(spark, table, IceLite.readDf(spark, table, s5)
      .filter($"col0" === 128).withColumn("grade", lit(9L)))
    IceLite.rollback(table, s5)
    val s7 = IceLite.compact(spark, table, targetBuckets = 2)
    assert(Seq(s3, s4, s5, s6, s7) == Seq(3L, 4L, 5L, 6L, 7L))
    val all = formatDump(table, Seq("metadata", "manifests", "lineage", "refs"))
    assert(staged == """== refs/audit.json
      |{"snap": 2, "buckets": 4,
      | "schema": [{"name": "cellId", "type": "BIGINT"}, {"name": "row0", "type": "INT"}, {"name": "col0", "type": "INT"}, {"name": "h", "type": "INT"}, {"name": "w", "type": "INT"}, {"name": "payload", "type": "ARRAY<DOUBLE>"}]}""".stripMargin)
    assert(all == """== lineage/1/b-0.json
      |{"bucket": 0, "rows": 8, "checksum": 992}
      |== lineage/1/b-1.json
      |{"bucket": 1, "rows": 0, "checksum": 0}
      |== lineage/1/b-2.json
      |{"bucket": 2, "rows": 1, "checksum": -1729382256910264384}
      |== lineage/1/b-3.json
      |{"bucket": 3, "rows": 7, "checksum": -1729382256910264416}
      |== lineage/2/b-0.json
      |{"bucket": 0, "rows": 7, "checksum": -1729382256910265376}
      |== lineage/2/b-1.json
      |{"bucket": 1, "rows": 0, "checksum": 0}
      |== lineage/2/b-2.json
      |{"bucket": 2, "rows": 1, "checksum": -1729382256910264384}
      |== lineage/2/b-3.json
      |{"bucket": 3, "rows": 7, "checksum": -1729382256910264416}
      |== lineage/3/b-0.json
      |{"bucket": 0, "rows": 8, "checksum": 992}
      |== lineage/3/b-1.json
      |{"bucket": 1, "rows": 0, "checksum": 0}
      |== lineage/3/b-2.json
      |{"bucket": 2, "rows": 1, "checksum": -1729382256910264384}
      |== lineage/3/b-3.json
      |{"bucket": 3, "rows": 7, "checksum": -1729382256910264416}
      |== lineage/3/op.json
      |{"op": "upsert"}
      |== lineage/4/b-0.json
      |{"bucket": 0, "rows": 8, "checksum": 992}
      |== lineage/4/b-1.json
      |{"bucket": 1, "rows": 0, "checksum": 0}
      |== lineage/4/b-2.json
      |{"bucket": 2, "rows": 1, "checksum": -1729382256910264384}
      |== lineage/4/b-3.json
      |{"bucket": 3, "rows": 6, "checksum": 3563}
      |== lineage/4/op.json
      |{"op": "delete"}
      |== lineage/5/b-0.json
      |{"bucket": 0, "rows": 7, "checksum": -1729382256910266005}
      |== lineage/5/b-1.json
      |{"bucket": 1, "rows": 0, "checksum": 0}
      |== lineage/5/b-2.json
      |{"bucket": 2, "rows": 0, "checksum": 0}
      |== lineage/5/b-3.json
      |{"bucket": 3, "rows": 6, "checksum": 3563}
      |== lineage/5/op.json
      |{"op": "delete"}
      |== lineage/6/b-0.json
      |{"bucket": 0, "rows": 7, "checksum": -1729382256910266005}
      |== lineage/6/b-1.json
      |{"bucket": 1, "rows": 0, "checksum": 0}
      |== lineage/6/b-2.json
      |{"bucket": 2, "rows": 0, "checksum": 0}
      |== lineage/6/b-3.json
      |{"bucket": 3, "rows": 6, "checksum": 3563}
      |== lineage/6/op.json
      |{"op": "upsert"}
      |== lineage/7/b-0.json
      |{"bucket": 0, "rows": 7, "checksum": -1729382256910266005}
      |== lineage/7/b-1.json
      |{"bucket": 1, "rows": 6, "checksum": 3563}
      |== lineage/7/op.json
      |{"op": "compact"}
      |== manifests/m-1.json
      |[{"path": "<T>/data/1/bucket=0", "bucket": 0, "rows": 8, "min_cell": 1729382256910270464, "max_cell": 1729382256910270485},
      |{"path": "<T>/data/1/bucket=1", "bucket": 1, "rows": 0, "min_cell": 0, "max_cell": 0},
      |{"path": "<T>/data/1/bucket=2", "bucket": 2, "rows": 1, "min_cell": 1729382256910270528, "max_cell": 1729382256910270528},
      |{"path": "<T>/data/1/bucket=3", "bucket": 3, "rows": 7, "min_cell": 1729382256910270529, "max_cell": 1729382256910270549}]
      |== manifests/m-2.json
      |[{"path": "<T>/data/2/bucket=0", "bucket": 0, "rows": 7, "min_cell": 1729382256910270465, "max_cell": 1729382256910270485},
      |{"path": "<T>/data/2/bucket=1", "bucket": 1, "rows": 0, "min_cell": 0, "max_cell": 0},
      |{"path": "<T>/data/2/bucket=2", "bucket": 2, "rows": 1, "min_cell": 1729382256910270528, "max_cell": 1729382256910270528},
      |{"path": "<T>/data/2/bucket=3", "bucket": 3, "rows": 7, "min_cell": 1729382256910270529, "max_cell": 1729382256910270549}]
      |== manifests/m-3.json
      |[{"path": "<T>/data/3/bucket=0", "bucket": 0, "rows": 8, "min_cell": 1729382256910270464, "max_cell": 1729382256910270485},
      |{"path": "<T>/data/2/bucket=1", "bucket": 1, "rows": 0, "min_cell": 0, "max_cell": 0},
      |{"path": "<T>/data/2/bucket=2", "bucket": 2, "rows": 1, "min_cell": 1729382256910270528, "max_cell": 1729382256910270528},
      |{"path": "<T>/data/2/bucket=3", "bucket": 3, "rows": 7, "min_cell": 1729382256910270529, "max_cell": 1729382256910270549}]
      |== manifests/m-4.json
      |[{"path": "<T>/data/3/bucket=0", "bucket": 0, "rows": 8, "min_cell": 1729382256910270464, "max_cell": 1729382256910270485},
      |{"path": "<T>/data/2/bucket=1", "bucket": 1, "rows": 0, "min_cell": 0, "max_cell": 0},
      |{"path": "<T>/data/2/bucket=2", "bucket": 2, "rows": 1, "min_cell": 1729382256910270528, "max_cell": 1729382256910270528},
      |{"path": "<T>/data/4/bucket=3", "bucket": 3, "rows": 6, "min_cell": 1729382256910270529, "max_cell": 1729382256910270548}]
      |== manifests/m-5.json
      |[{"path": "<T>/data/5/bucket=0", "bucket": 0, "rows": 7, "min_cell": 1729382256910270464, "max_cell": 1729382256910270484},
      |{"path": "<T>/data/2/bucket=1", "bucket": 1, "rows": 0, "min_cell": 0, "max_cell": 0},
      |{"path": "<T>/data/2/bucket=2", "bucket": 2, "rows": 0, "min_cell": 0, "max_cell": 0},
      |{"path": "<T>/data/4/bucket=3", "bucket": 3, "rows": 6, "min_cell": 1729382256910270529, "max_cell": 1729382256910270548}]
      |== manifests/m-6.json
      |[{"path": "<T>/data/6/bucket=0", "bucket": 0, "rows": 7, "min_cell": 1729382256910270464, "max_cell": 1729382256910270484},
      |{"path": "<T>/data/2/bucket=1", "bucket": 1, "rows": 0, "min_cell": 0, "max_cell": 0},
      |{"path": "<T>/data/2/bucket=2", "bucket": 2, "rows": 0, "min_cell": 0, "max_cell": 0},
      |{"path": "<T>/data/4/bucket=3", "bucket": 3, "rows": 6, "min_cell": 1729382256910270529, "max_cell": 1729382256910270548}]
      |== manifests/m-7.json
      |[{"path": "<T>/data/7/bucket=0", "bucket": 0, "rows": 7, "min_cell": 1729382256910270464, "max_cell": 1729382256910270484},
      |{"path": "<T>/data/7/bucket=1", "bucket": 1, "rows": 6, "min_cell": 1729382256910270529, "max_cell": 1729382256910270548}]
      |== metadata/v1.json
      |{"format": "icelite/1", "current_snapshot": 1,
      | "manifest": "<T>/manifests/m-1.json",
      | "buckets": 4,
      | "schema": [{"name": "cellId", "type": "BIGINT"}, {"name": "row0", "type": "INT"}, {"name": "col0", "type": "INT"}, {"name": "h", "type": "INT"}, {"name": "w", "type": "INT"}, {"name": "payload", "type": "ARRAY<DOUBLE>"}]}
      |== metadata/v2.json
      |{"format": "icelite/1", "current_snapshot": 2,
      | "manifest": "<T>/manifests/m-2.json",
      | "buckets": 4,
      | "schema": [{"name": "cellId", "type": "BIGINT"}, {"name": "row0", "type": "INT"}, {"name": "col0", "type": "INT"}, {"name": "h", "type": "INT"}, {"name": "w", "type": "INT"}, {"name": "payload", "type": "ARRAY<DOUBLE>"}]}
      |== metadata/v3.json
      |{"format": "icelite/1", "current_snapshot": 3,
      | "manifest": "<T>/manifests/m-3.json",
      | "buckets": 4,
      | "schema": [{"name": "cellId", "type": "BIGINT"}, {"name": "row0", "type": "INT"}, {"name": "col0", "type": "INT"}, {"name": "h", "type": "INT"}, {"name": "w", "type": "INT"}, {"name": "payload", "type": "ARRAY<DOUBLE>"}]}
      |== metadata/v4.json
      |{"format": "icelite/1", "current_snapshot": 4,
      | "manifest": "<T>/manifests/m-4.json",
      | "buckets": 4,
      | "schema": [{"name": "cellId", "type": "BIGINT"}, {"name": "row0", "type": "INT"}, {"name": "col0", "type": "INT"}, {"name": "h", "type": "INT"}, {"name": "w", "type": "INT"}, {"name": "payload", "type": "ARRAY<DOUBLE>"}]}
      |== metadata/v5.json
      |{"format": "icelite/1", "current_snapshot": 5,
      | "manifest": "<T>/manifests/m-5.json",
      | "buckets": 4,
      | "schema": [{"name": "cellId", "type": "BIGINT"}, {"name": "row0", "type": "INT"}, {"name": "col0", "type": "INT"}, {"name": "h", "type": "INT"}, {"name": "w", "type": "INT"}, {"name": "payload", "type": "ARRAY<DOUBLE>"}]}
      |== metadata/v6.json
      |{"format": "icelite/1", "current_snapshot": 5,
      | "manifest": "<T>/manifests/m-5.json",
      | "buckets": 4,
      | "schema": [{"name": "cellId", "type": "BIGINT"}, {"name": "row0", "type": "INT"}, {"name": "col0", "type": "INT"}, {"name": "h", "type": "INT"}, {"name": "w", "type": "INT"}, {"name": "payload", "type": "ARRAY<DOUBLE>"}, {"name": "grade", "type": "BIGINT"}]}
      |== metadata/v7.json
      |{"format": "icelite/1", "current_snapshot": 6,
      | "manifest": "<T>/manifests/m-6.json",
      | "buckets": 4,
      | "schema": [{"name": "cellId", "type": "BIGINT"}, {"name": "row0", "type": "INT"}, {"name": "col0", "type": "INT"}, {"name": "h", "type": "INT"}, {"name": "w", "type": "INT"}, {"name": "payload", "type": "ARRAY<DOUBLE>"}, {"name": "grade", "type": "BIGINT"}]}
      |== metadata/v8.json
      |{"format": "icelite/1", "current_snapshot": 5,
      | "manifest": "<T>/manifests/m-5.json",
      | "buckets": 4,
      | "schema": [{"name": "cellId", "type": "BIGINT"}, {"name": "row0", "type": "INT"}, {"name": "col0", "type": "INT"}, {"name": "h", "type": "INT"}, {"name": "w", "type": "INT"}, {"name": "payload", "type": "ARRAY<DOUBLE>"}, {"name": "grade", "type": "BIGINT"}]}
      |== metadata/v9.json
      |{"format": "icelite/1", "current_snapshot": 7,
      | "manifest": "<T>/manifests/m-7.json",
      | "buckets": 2,
      | "schema": [{"name": "cellId", "type": "BIGINT"}, {"name": "row0", "type": "INT"}, {"name": "col0", "type": "INT"}, {"name": "h", "type": "INT"}, {"name": "w", "type": "INT"}, {"name": "payload", "type": "ARRAY<DOUBLE>"}, {"name": "grade", "type": "BIGINT"}]}""".stripMargin)
  }

  test("a few-valued payload keeps its dictionary; past 8192 distinct values it is PLAIN") {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import graft.core.GridRef
    // 512 8x8 tiles in two tile rows, 4 buckets: many rows per file and
    // few distinct row0 values (so parquet keeps row0's dictionary)
    val ref = GridRef(ncols = 2048, nrows = 16, xll = 0, yll = 0,
      cellsize = 1, nodata = -9999)
    val conf = spark.sparkContext.hadoopConfiguration
    /** Column path -> encodings of every data file of `snap`, over all
      * of its row groups. */
    def encodings(table: String, snap: Long): Seq[(String, Map[String, Set[String]])] = {
      val walk = Files.walk(java.nio.file.Paths.get(table, "data", snap.toString))
      val files = try walk.iterator.asScala.filter(_.toString.endsWith(".parquet")).toList
        finally walk.close()
      assert(files.nonEmpty, s"snapshot $snap wrote no data file")
      files.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), conf))
        try s"$snap $f" -> r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
          .groupMapReduce(_.getPath.toDotString)(
            _.getEncodings.asScala.map(_.name).toSet)(_ ++ _)
        finally r.close()
      }
    }
    def dictionary(enc: Set[String]) = enc.exists(_.endsWith("_DICTIONARY"))
    // a two-valued mask, through commit, upsert and compact
    val mask = (r: Int, c: Int) => ((r / 3 + c / 5) % 2).toDouble
    val table = Files.createTempDirectory("icelite-dict").toString
    val s1 = IceLite.commitResumable(spark, TileOps.tileGrid(spark, ref, 3)(mask),
      table, buckets = 4, snap = 1L)
    val s2 = IceLite.upsert(spark, table, TileOps.tileGrid(spark, ref, 3)(
      (r, c) => 1.0 - mask(r, c)).filter(_.row0 == 0))
    val s3 = IceLite.compact(spark, table, targetBuckets = 2)
    for (snap <- Seq(s1, s2, s3); (f, enc) <- encodings(table, snap)) {
      assert(dictionary(enc("payload.list.element")), s"$f: payload ${enc("payload.list.element")}")
      assert(enc("row0").contains("PLAIN_DICTIONARY"), s"$f: row0 ${enc("row0")}")
    }
    // one file of 16384 distinct values, each twice: parquet's default 1 MiB
    // dictionary would take them, but they are past the cap
    val pairs = Files.createTempDirectory("icelite-nodict").toString
    val p1 = IceLite.commitResumable(spark, TileOps.tileGrid(spark, ref, 3)(
      (r, c) => ((r * 2048 + c) / 2).toDouble).coalesce(1), pairs, buckets = 1, snap = 1L)
    for ((f, enc) <- encodings(pairs, p1)) {
      assert(!dictionary(enc("payload.list.element")), s"$f: payload ${enc("payload.list.element")}")
      assert(enc("row0").contains("PLAIN_DICTIONARY"), s"$f: row0 ${enc("row0")}")
    }
  }

  test("lineage() closes its directory stream: 500 calls leak no fds") {
    val table = Files.createTempDirectory("icelite-fd").toString
    IceLite.commitResumable(spark, demTiles, table, buckets = 4, snap = 1L)
    val fdDir = java.nio.file.Paths.get("/proc/self/fd")
    def openFds(): Int = {
      val st = Files.list(fdDir)
      try st.count().toInt finally st.close()
    }
    val before = openFds()
    (1 to 500).foreach(_ => assert(IceLite.lineage(table, 1L).size == 4))
    assert(openFds() - before < 10)
  }

  test("awaitMetrics: an Observation that never fires yields no metrics and parks no thread") {
    import scala.concurrent.duration._
    import scala.jdk.CollectionConverters._
    val never = org.apache.spark.sql.Observation("icelite-never-fires")
    assert(IceLite.awaitMetrics(never, 200.millis).isEmpty)
    val parked = Thread.getAllStackTraces.asScala.filter { case (t, st) =>
      t.isAlive && st.exists(f => f.getClassName == classOf[
        org.apache.spark.sql.Observation].getName && f.getMethodName == "get")
    }.keys.map(_.getName)
    assert(parked.isEmpty, s"threads parked in Observation.get: $parked")
  }
}
