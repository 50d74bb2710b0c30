package graft.streaming

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Streaming analytics over the events table (SURVEY §2.10 — surface
  * beyond the batch-only reference): watermarked tumbling-window
  * aggregation in append mode, and gap-rule sessionization as custom
  * state via `flatMapGroupsWithState`. Both run as real Structured
  * Streaming queries (file source -> state store -> sink) and, drained
  * with `Trigger.AvailableNow`, produce results equal to their batch
  * equivalents — which is what the Verify oracle and StreamOpsSpec gate.
  *
  * Append-mode window emission is one-batch-lagged: a batch evicts and
  * emits a window using the watermark derived from the PREVIOUS batch's
  * max event time. [[stageChronological]] therefore stages ONE trailing
  * flush file that advances the watermark past every real window; the
  * engine's trailing no-data micro-batch (on by default) then evicts and
  * emits every lagged window. The flush file carries one far-future
  * sentinel row per user (event_id = -1), which is what closes each
  * session group's state (data-driven flush — no reliance on timeout
  * firing semantics under AvailableNow). At production scale neither trick is needed: a live
  * stream advances the watermark forever; sentinels are only how a
  * FINITE drain reproduces the infinite-stream steady state. The memory
  * sink is likewise the fixture gate's sink (results must land in one
  * comparable table); a production deployment points the same queries at
  * a durable sink (parquet/icelite via foreachBatch, as StreamIngest
  * does) and none of the staging applies. */
object StreamOps {

  /** Schema of each staged stream dir, recorded at staging time so the
    * drain queries skip the per-run schema-inference footer job (the
    * staged layout is fixed once written). Falls back to inference for
    * dirs staged by an earlier JVM. */
  private val stagedSchemas =
    scala.collection.concurrent.TrieMap[String, org.apache.spark.sql.types.StructType]()
  private def schemaOf(spark: SparkSession, streamDir: String)
      : org.apache.spark.sql.types.StructType =
    stagedSchemas.getOrElseUpdate(streamDir,
      spark.read.parquet(streamDir).schema)

  /** Write `df` as a single parquet part and move it to `dir/name` with
    * a controlled mtime (the file source orders batches by mtime). One
    * definition for both stagers; the temp staging dir is removed after
    * the move (it previously leaked one dir per chunk per call). */
  private def moveChunk(dir: java.nio.file.Path, name: String,
      df: org.apache.spark.sql.DataFrame, mtime: Long): Unit = {
    val tmp = Files.createTempDirectory("stream_chunk").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val partFile = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = dir.resolve(name)
    Files.move(partFile.toPath, dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dst.toFile.setLastModified(mtime)
    deleteRecursively(new java.io.File(tmp))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  /** Per-user session state: last event time (ms), closed+open session
    * count, event count. Public top-level so Dataset encoders resolve. */
  final case class SessState(lastTs: Long, sessions: Long, events: Long)

  /** Drain `f` with the trailing NO-DATA micro-batch disabled. The
    * no-data batch exists to let WATERMARK-LAGGED emission fire after
    * the last file (append-mode windows, outer-join null rows) — for
    * queries whose output is entirely DATA-driven (inner interval join:
    * matches emit on arrival; dropDuplicates: first sight; sessionize:
    * sentinel rows close state) it adds one full batch of state-store
    * commits and planning per drain and emits nothing. Output is
    * bit-identical either way (the oracle gates it); only the drain's
    * batch count changes. Watermark-lagged consumers (s1/s5/s6/s8 paths)
    * must NOT use this. The conf is session-global, so the drain refuses
    * to run while any other stream of the session is active: that stream
    * would inherit the toggle for as long as the drain runs. */
  private def withoutNoDataBatch[A](spark: SparkSession)(f: => A): A = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    require(spark.streams.active.isEmpty,
      s"StreamOps: a no-data-batch-free drain sets the session-global $key; " +
        s"stop the session's active streams first (${spark.streams.active.map(_.name).mkString(", ")})")
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Stage the static events table as a chronological file stream:
    * `chunks` flat parquet files covering disjoint time ranges (split at
    * approximate ts quantiles — rows never leave the executors; the
    * driver sees only the boundary values, the max ts and the distinct
    * user list for the sentinels) with strictly increasing modification
    * times (the file source's processing order), plus one trailing flush
    * file (see class doc). Same-ts rows always land in one chunk (the
    * split predicate is on ts alone), and between same-ts events the gap
    * rule is order-independent (gap 0 either way), so the quantile split
    * preserves every per-user session count. Returns the staged dir. */
  def stageChronological(spark: SparkSession, eventsParquet: String,
      streamDir: String, chunks: Int): String = {
    import spark.implicits._
    val dir = Paths.get(streamDir)
    Files.createDirectories(dir)
    val ev = spark.read.parquet(eventsParquet)
      .select($"event_id", $"ts".cast("timestamp").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    val evMs = ev.withColumn("ts_ms", unix_millis($"ts"))
    val maxRow = evMs.agg(max($"ts_ms")).collect()(0)
    require(!maxRow.isNullAt(0), s"no events in $eventsParquet")
    val maxTs = maxRow.getLong(0)
    val users = ev.select($"user_id").distinct()
      .as[Long].collect().sorted // O(#users): the sentinel set is per-user
    val bounds = evMs.stat.approxQuantile("ts_ms",
      (1 until chunks).map(_.toDouble / chunks).toArray, 0.01)
      .map(_.toLong).distinct.sorted
    def moveChunk(name: String, df: org.apache.spark.sql.DataFrame,
        mtime: Long): Unit = StreamOps.moveChunk(dir, name, df, mtime)
    val base = System.currentTimeMillis() - 1000L * (chunks + 4)
    val cuts = (Vector(Long.MinValue) ++ bounds) :+ Long.MaxValue
    cuts.sliding(2).zipWithIndex.foreach { case (pair, i) =>
      val (lo, hi) = (pair(0), pair(1))
      moveChunk(f"c$i%03d.parquet",
        evMs.filter($"ts_ms" >= lo && $"ts_ms" < hi).drop("ts_ms"),
        base + i * 1000L)
    }
    // ONE trailing flush file: per-user far-future sentinels close every
    // session group (data-driven flush for the custom-state queries) and
    // advance the watermark past every real window in the same batch.
    // The former second flush file existed to "trigger the batch in
    // which the lagged windows emit" — but the engine's trailing NO-DATA
    // micro-batch (spark.sql.streaming.noDataMicroBatches, on by
    // default, observed as the final rows=0 batch of every drain) runs
    // after the last file precisely because the watermark advanced, and
    // evicts/emits with the updated watermark — so the extra file only
    // added a full micro-batch (state-store commits on every partition)
    // per drain to every consumer of this stage.
    def sentinels(ts: Long, uids: Seq[Long]) = {
      val rows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(uids.map(u => org.apache.spark.sql.Row(
          -1L, new java.sql.Timestamp(ts), u, "zz_flush", 0.0, null)): _*)
      spark.createDataFrame(rows, ev.schema)
    }
    moveChunk("f001.parquet",
      sentinels(maxTs + 867600000L, users.toSeq :+ -1L),
      base + (chunks + 1) * 1000L)
    streamDir
  }

  /** Stage events as a 2-chunk chronological stream PLUS one deliberately
    * LATE file: after both real chunks have advanced the watermark to
    * (global max − 10 min), a third file re-delivers copies of 100 of the
    * earliest events (ids offset by 10^9; only rows at least 2 h older
    * than the global max, so their windows are provably closed). The
    * watermark MUST discard every one of them — if the engine wrongly
    * admits late rows into closed windows, the copies inflate real
    * buckets and the oracle (computed from the original events only)
    * hash-fails. Flush files as in [[stageChronological]]. */
  def stageWithLateArrivals(spark: SparkSession, eventsParquet: String,
      streamDir: String): String = {
    import spark.implicits._
    val dir = Paths.get(streamDir)
    Files.createDirectories(dir)
    val ev = spark.read.parquet(eventsParquet)
      .select($"event_id", $"ts".cast("timestamp").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    val evMs = ev.withColumn("ts_ms", unix_millis($"ts"))
    val maxRow = evMs.agg(max($"ts_ms")).collect()(0)
    require(!maxRow.isNullAt(0), s"no events in $eventsParquet")
    val maxTs = maxRow.getLong(0)
    val mid = evMs.stat.approxQuantile("ts_ms", Array(0.5), 0.01)(0).toLong
    def moveChunk(name: String, df: org.apache.spark.sql.DataFrame,
        mtime: Long): Unit = StreamOps.moveChunk(dir, name, df, mtime)
    val base = System.currentTimeMillis() - 8000L
    moveChunk("c000.parquet", evMs.filter($"ts_ms" < mid).drop("ts_ms"), base)
    moveChunk("c001.parquet", evMs.filter($"ts_ms" >= mid).drop("ts_ms"),
      base + 1000L)
    // the LATE file: closed-window re-deliveries, ids offset to mark them
    val late = evMs.filter($"ts_ms" <= maxTs - 7200000L)
      .orderBy($"ts_ms", $"event_id").limit(100)
      .withColumn("event_id", $"event_id" + 1000000000L)
      .drop("ts_ms")
    moveChunk("c002.parquet", late, base + 2000L)
    val schema = ev.schema
    def sentinels(ts: Long, uids: Seq[Long]) = {
      val rows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(uids.map(u => org.apache.spark.sql.Row(
          -1L, new java.sql.Timestamp(ts), u, "zz_flush", 0.0, null)): _*)
      spark.createDataFrame(rows, schema)
    }
    // one merged flush file (see stageChronological): the trailing
    // no-data micro-batch emits the lagged windows, no second file needed
    moveChunk("f001.parquet", sentinels(maxTs + 867600000L, Seq(-1L, -2L)),
      base + 3000L)
    streamDir
  }

  /** Watermarked 1-hour tumbling-window counts per event type, append
    * mode: readStream -> withWatermark -> groupBy(window) -> memory sink.
    * Returns the emitted (closed) windows — with the staged flush files,
    * exactly the real windows; sentinel windows never close and the
    * `zz_flush` type is filtered out defensively. */
  def windowedEventCounts(spark: SparkSession, streamDir: String,
      checkpoint: String, queryName: String): DataFrame = {
    import spark.implicits._
    val schema = schemaOf(spark, streamDir)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(floor($"value" * 100 + lit(0.5)).cast("long")).as("value_cents"))
      .select(unix_millis($"window.start").as("w_start"), $"event_type",
        $"n", $"value_cents")
      .writeStream.outputMode("append").format("memory").queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(queryName).filter($"event_type" =!= "zz_flush")
      .orderBy($"w_start", $"event_type")
  }

  /** Gap-rule sessionization (new session when > `gapMs` since the
    * user's previous event) as CUSTOM STREAMING STATE: groupByKey ->
    * flatMapGroupsWithState carrying (lastTs, sessions, events) per user
    * across micro-batches; a user's sentinel row (event_id = -1) closes
    * the state and emits the final (user_id, n_sessions, n_events) —
    * equal to the batch window-function sessionization (q4). */
  def sessionize(spark: SparkSession, streamDir: String,
      checkpoint: String, queryName: String,
      gapMs: Long = 1800000L): DataFrame = withoutNoDataBatch(spark) {
    import spark.implicits._
    val schema = schemaOf(spark, streamDir)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir)
      .select($"user_id", unix_millis($"ts".cast("timestamp")).as("ts_ms"),
        $"event_id")
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, Long)], state: GroupState[SessState]) =>
          // in-batch order is not guaranteed; (ts, event_id) is the rule's
          // order. Across batches the staged chunks are chronological.
          val rows = it.toArray.sortBy(r => (r._2, r._3))
          var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
          var finals = List.empty[(Long, Long, Long)]
          rows.foreach { case (_, tsMs, eid) =>
            if (eid == -1L) { // sentinel: close and emit
              if (st.events > 0) finals = (uid, st.sessions, st.events) :: finals
              state.remove()
              st = SessState(Long.MinValue, 0L, 0L)
            } else {
              val newSess = st.lastTs == Long.MinValue || tsMs - st.lastTs > gapMs
              st = SessState(tsMs, st.sessions + (if (newSess) 1L else 0L),
                st.events + 1L)
            }
          }
          if (st.events > 0) state.update(st)
          finals.iterator
      }
      .toDF("user_id", "n_sessions", "n_events")
      .writeStream.outputMode("append").format("memory").queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(queryName).filter($"user_id" >= 0)
      .orderBy($"user_id")
  }

  /** Streaming EXACT deduplication (the ingest-time dedup primitive of a
    * training-data pipeline): state-store-backed `dropDuplicates` over the
    * dedup key, append mode — each key is emitted exactly once, on first
    * sight, no matter how many micro-batches re-deliver it. The projection
    * to the KEY COLUMNS ONLY is what makes the emission deterministic
    * (which physical row of a key wins inside one micro-batch is not
    * defined; the key itself is), so the batch oracle is a plain
    * SELECT DISTINCT. Unbounded key-state by design — exact global dedup;
    * a production deployment with finite memory swaps in
    * `dropDuplicatesWithinWatermark` and accepts re-emission of keys
    * recurring beyond the watermark. Sentinel flush rows are excluded
    * upstream of the state store. */
  def streamDedup(spark: SparkSession, streamDir: String,
      checkpoint: String, queryName: String): DataFrame =
      withoutNoDataBatch(spark) {
    import spark.implicits._
    val schema = schemaOf(spark, streamDir)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir)
      .filter($"event_id" >= 0)
      .select($"user_id", $"event_type")
      .dropDuplicates("user_id", "event_type")
      .writeStream.outputMode("append").format("memory").queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(queryName).orderBy($"user_id", $"event_type")
  }

  /** STREAM-STREAM interval join (the third stateful-streaming surface
    * beyond windows and custom state): purchases attributed to every
    * click by the same user within the preceding `windowMs`. Both sides
    * are event-time-watermarked streams of the SAME staged file source
    * (a streaming self-join); the time-range condition
    * `c_ts <= p_ts <= c_ts + window` is what lets Spark bound the join
    * state — click rows are evicted once the purchase-side watermark
    * passes `c_ts + window`, so state is O(window x rate), never O(N).
    * Inner-join matches emit as they arrive (no watermark lag), and with
    * the chronological staging the drain equals the batch interval join
    * exactly. Scale shape: state-store equi-join keyed on user_id —
    * shuffles both sides once, hot users split by AQE like any key join.
    * `lag_ms` is a difference of per-event truncated epoch-millis
    * (unix_millis both sides), replicated verbatim in the oracle. */
  def intervalJoin(spark: SparkSession, streamDir: String,
      checkpoint: String, queryName: String,
      windowMs: Long = 1800000L): DataFrame = withoutNoDataBatch(spark) {
    import spark.implicits._
    require(windowMs > 0 && windowMs % 1000 == 0,
      s"windowMs must be a positive whole-second span, got $windowMs")
    val schema = schemaOf(spark, streamDir)
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir)
    // the staged far-future zz_flush sentinels are KEPT on both sides:
    // they must flow through the watermark operators so event time
    // advances past every real click + window (Catalyst pushes a plain
    // post-watermark filter back below the watermark node, which would
    // starve it). They cannot match anything real — a sentinel is 10
    // days past the last event, so the range condition excludes every
    // real pairing — and the one sentinel x sentinel pair per user is
    // dropped at the sink on event_id >= 0.
    val clicks = src
      .filter($"event_type".isin("click", "zz_flush"))
      .select($"event_id".as("click_id"), $"user_id".as("c_uid"),
        $"ts".as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = src
      .filter($"event_type".isin("purchase", "zz_flush"))
      .select($"event_id".as("purchase_id"), $"user_id".as("p_uid"),
        $"ts".as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val q = clicks.join(purchases,
        $"c_uid" === $"p_uid" &&
          $"p_ts" >= $"c_ts" &&
          $"p_ts" <= $"c_ts" + expr(s"INTERVAL ${windowMs / 1000} SECONDS"))
      .select($"click_id", $"purchase_id", $"c_uid".as("user_id"),
        (unix_millis($"p_ts") - unix_millis($"c_ts")).as("lag_ms"))
      .writeStream.outputMode("append").format("memory").queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(queryName).filter($"click_id" >= 0)
      .orderBy($"click_id", $"purchase_id")
  }

  /** LEFT OUTER stream-stream interval join — the hardest streaming-join
    * path: an unmatched click can only emit (with null purchase columns)
    * once the purchase-side watermark proves no match can still arrive,
    * i.e. when it passes `c_ts + window`. The staged far-future flush
    * rows push the watermark past every real click, so the AvailableNow
    * drain emits every unmatched left exactly once and the result equals
    * the batch LEFT JOIN. Same watermark-bounded state as
    * [[intervalJoin]]; only the null-emission machinery differs. */
  def intervalJoinOuter(spark: SparkSession, streamDir: String,
      checkpoint: String, queryName: String,
      windowMs: Long = 1800000L): DataFrame = {
    import spark.implicits._
    require(windowMs > 0 && windowMs % 1000 == 0,
      s"windowMs must be a positive whole-second span, got $windowMs")
    val schema = schemaOf(spark, streamDir)
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir)
    // the staged far-future zz_flush sentinels are KEPT on both sides:
    // they must flow through the watermark operators so event time
    // advances past every real click + window (Catalyst pushes a plain
    // post-watermark filter back below the watermark node, which would
    // starve it). They cannot match anything real — a sentinel is 10
    // days past the last event, so the range condition excludes every
    // real pairing — and the one sentinel x sentinel pair per user is
    // dropped at the sink on event_id >= 0.
    val clicks = src
      .filter($"event_type".isin("click", "zz_flush"))
      .select($"event_id".as("click_id"), $"user_id".as("c_uid"),
        $"ts".as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = src
      .filter($"event_type".isin("purchase", "zz_flush"))
      .select($"event_id".as("purchase_id"), $"user_id".as("p_uid"),
        $"ts".as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val q = clicks.join(purchases,
        $"c_uid" === $"p_uid" &&
          $"p_ts" >= $"c_ts" &&
          $"p_ts" <= $"c_ts" + expr(s"INTERVAL ${windowMs / 1000} SECONDS"),
        "left_outer")
      .select($"click_id", $"purchase_id", $"c_uid".as("user_id"),
        (unix_millis($"p_ts") - unix_millis($"c_ts")).as("lag_ms"))
      .writeStream.outputMode("append").format("memory").queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(queryName).filter($"click_id" >= 0)
      .orderBy($"click_id", $"purchase_id")
  }

  /** STREAM-STATIC enrichment join — the fourth streaming-join surface:
    * each micro-batch of the event stream broadcast-joins a STATIC
    * dimension table (here a per-user segment lookup derived from the
    * same staged data; in production the curated user/source dimension),
    * then feeds the watermarked 1-hour windowed aggregate per
    * (segment, event_type). Stream-static inner joins are stateless —
    * the static side is planned as a broadcast per batch, no join state
    * store at all — so the only state is the window aggregation's, and
    * the AvailableNow drain equals the batch join + GROUP BY exactly.
    * The dimension is read from the staged dir itself so sentinel users
    * keep flowing through the watermark node (an inner join that dropped
    * them before the aggregate would still advance event time — they
    * pass the watermark operator upstream — but keeping them makes the
    * flush mechanics identical to [[windowedEventCounts]]). */
  def streamStaticEnrich(spark: SparkSession, streamDir: String,
      checkpoint: String, queryName: String): DataFrame = {
    import spark.implicits._
    val schema = schemaOf(spark, streamDir)
    val dim = spark.read.parquet(streamDir)
      .select($"user_id").distinct()
      .withColumn("segment", concat(lit("seg"), pmod($"user_id", lit(5))))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir)
      .withWatermark("ts", "10 minutes")
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(window($"ts", "1 hour"), $"segment", $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(floor($"value" * 100 + lit(0.5)).cast("long")).as("value_cents"))
      .select(unix_millis($"window.start").as("w_start"), $"segment",
        $"event_type", $"n", $"value_cents")
      .writeStream.outputMode("append").format("memory").queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(queryName).filter($"event_type" =!= "zz_flush")
      .orderBy($"w_start", $"segment", $"event_type")
  }

  /** Stage an image corpus as a file stream: `chunks` flat parquet files
    * (image i lands in chunk i % chunks), each one micro-batch under
    * maxFilesPerTrigger=1. Rows are built on executors; only the staged
    * part-files move (driver renames, no row materialization). */
  def stageImageChunks(spark: SparkSession, n: Long, gridW: Int,
      streamDir: String, chunks: Int): String = {
    import spark.implicits._
    val dir = Paths.get(streamDir)
    Files.createDirectories(dir)
    // ONE generation pass: hash-repartition on the chunk id so each
    // chunk's rows land in a single task -> exactly one part file per
    // idx dir (a per-chunk filter loop would regenerate + PNG-encode
    // the whole corpus `chunks` times)
    val tmp = Files.createTempDirectory("img_chunks").toString
    graft.corpus.ImageCorpus.generateExact(spark, n, gridW)
      .withColumn("idx", substring($"image_id", 5, 8).cast("long") % chunks)
      .repartition(chunks, $"idx")
      .write.mode("overwrite").partitionBy("idx").parquet(tmp)
    (0 until chunks).foreach { k =>
      // listFiles() is null for a MISSING dir (partitionBy writes no dir
      // for an empty chunk) — fold that into the empty-chunk error too
      val files = Option(new java.io.File(s"$tmp/idx=$k").listFiles())
        .getOrElse(Array.empty[java.io.File])
      val part = files.find(_.getName.endsWith(".parquet")).getOrElse(
        throw new IllegalStateException(s"stageImageChunks: empty chunk $k"))
      Files.move(part.toPath, dir.resolve(f"chunk-$k%03d.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    deleteRecursively(new java.io.File(tmp))
    streamDir
  }

  /** STREAMING image-quality curation — the modality counterpart of
    * s1-s6: image rows arrive as micro-batches (file source, one staged
    * chunk per trigger), each batch decodes and scores ON the executors
    * (the i6 kernel: contrast span, distinct-code texture, L1-gradient
    * blur proxy) and `foreachBatch` lands the verdicts in a
    * batch-id-keyed parquet dir with overwrite mode — a RETRIED batch
    * rewrites its own dir, so the sink is idempotent (the exactly-once
    * recipe foreachBatch requires; a blind append would duplicate on
    * retry). The stream is stateless — no watermark, no state store —
    * so flush sentinels aren't needed; state lives only in the source's
    * processed-files checkpoint, which is exactly what a resumed run
    * skips. Drained with AvailableNow, the curated table equals the
    * batch i6 computation row for row. */
  def imageQualityCuration(spark: SparkSession, streamDir: String,
      checkpoint: String, outDir: String): DataFrame = {
    import spark.implicits._
    val schema = schemaOf(spark, streamDir)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ss = batch.sparkSession
        import ss.implicits._
        val scored = batch.select($"image_id", $"bytes", $"fmt")
          .as[(String, Array[Byte], String)]
          .map { case (id, bytes, fmt) =>
            val (px, w, h) = graft.codecs.ImageCodec.decode(bytes, fmt)
            val qs = graft.codecs.ImageCodec.qualityStats(px, w, h)
            (id, qs.qMin, qs.qMax, qs.qMax - qs.qMin, qs.nDistinct, qs.gradL1,
              qs.qMax - qs.qMin >= 64L && qs.nDistinct >= 16L)
          }
          .toDF("image_id", "q_min", "q_max", "q_span", "n_distinct",
            "grad_l1", "keep")
        scored.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.parquet(outDir).drop("batch").orderBy($"image_id")
  }
}
