package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming == batch: the watermarked windowed aggregation and the
  * flatMapGroupsWithState sessionizer, drained with AvailableNow over the
  * chronologically staged event stream, must equal their batch
  * equivalents row-for-row. */
class StreamOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val eventsPath = "/root/testdata/sf0.001/events.parquet"

  private lazy val streamDir: String = StreamOps.stageChronological(
    spark, eventsPath, Files.createTempDirectory("stream-ops").toString,
    chunks = 4)

  test("watermarked windowed agg (append) == batch windowed agg") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("stream-ops-ckpt-w").toString
    val got = StreamOps.windowedEventCounts(spark, streamDir, ckpt, "wtest")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    val want = spark.read.parquet(eventsPath)
      .groupBy(window($"ts".cast("timestamp"), "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(round($"value" * 100).cast("long")).as("value_cents"))
      .select(unix_millis($"window.start").as("w_start"), $"event_type",
        $"n", $"value_cents")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(want.nonEmpty)
    assert(got == want,
      s"stream-only: ${(got -- want).take(3)}; batch-only: ${(want -- got).take(3)}")
  }

  test("flatMapGroupsWithState sessionizer == batch window-function sessionization") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("stream-ops-ckpt-s").toString
    val got = StreamOps.sessionize(spark, streamDir, ckpt, "stest")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val want = spark.read.parquet(eventsPath)
      .withColumn("gap", unix_millis($"ts".cast("timestamp")) -
        lag(unix_millis($"ts".cast("timestamp")), 1).over(w))
      .withColumn("new_sess", when($"gap".isNull || $"gap" > 1800000, 1L).otherwise(0L))
      .withColumn("sess", sum($"new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id")
      .agg(max($"sess").as("n_sessions"), count(lit(1)).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty)
    assert(got == want,
      s"stream-only: ${(got -- want).take(3)}; batch-only: ${(want -- got).take(3)}")
  }

  test("stream-stream interval join == batch interval join") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("stream-ops-ckpt-j").toString
    val got = StreamOps.intervalJoin(spark, streamDir, ckpt, "jtest")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val ev = spark.read.parquet(eventsPath)
      .withColumn("ts", $"ts".cast("timestamp"))
    val c = ev.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id".as("c_uid"),
        $"ts".as("c_ts"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("p_uid"),
        $"ts".as("p_ts"))
    val want = c.join(p, $"c_uid" === $"p_uid" && $"p_ts" >= $"c_ts" &&
        $"p_ts" <= $"c_ts" + expr("INTERVAL 30 MINUTES"))
      .select($"click_id", $"purchase_id", $"c_uid",
        (unix_millis($"p_ts") - unix_millis($"c_ts")).as("lag_ms"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(want.nonEmpty)
    assert(got == want,
      s"stream-only: ${(got -- want).take(3)}; batch-only: ${(want -- got).take(3)}")
  }

  test("LEFT OUTER stream-stream join == batch left join (null emission via watermark)") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("stream-ops-ckpt-jo").toString
    def key(cid: Long, pid: Option[Long], uid: Long, lag: Option[Long]) =
      (cid, pid.getOrElse(-1L), uid, lag.getOrElse(Long.MinValue))
    val got = StreamOps.intervalJoinOuter(spark, streamDir, ckpt, "jotest")
      .collect().map(r => key(r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    val ev = spark.read.parquet(eventsPath)
      .withColumn("ts", $"ts".cast("timestamp"))
    val c = ev.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id".as("c_uid"),
        $"ts".as("c_ts"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("p_uid"),
        $"ts".as("p_ts"))
    val want = c.join(p, $"c_uid" === $"p_uid" && $"p_ts" >= $"c_ts" &&
        $"p_ts" <= $"c_ts" + expr("INTERVAL 30 MINUTES"), "left_outer")
      .select($"click_id", $"purchase_id", $"c_uid",
        (unix_millis($"p_ts") - unix_millis($"c_ts")).as("lag_ms"))
      .collect().map(r => key(r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(want.exists(_._2 == -1L), "fixture must have unmatched clicks")
    assert(got == want,
      s"stream-only: ${(got -- want).take(3)}; batch-only: ${(want -- got).take(3)}")
  }

  test("stream-static broadcast enrichment + windowed agg == batch join + group by") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("stream-ops-ckpt-ss").toString
    val got = StreamOps.streamStaticEnrich(spark, streamDir, ckpt, "sstest")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    val want = spark.read.parquet(eventsPath)
      .withColumn("segment", concat(lit("seg"), pmod($"user_id", lit(5))))
      .groupBy(window($"ts".cast("timestamp"), "1 hour"), $"segment",
        $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(round($"value" * 100).cast("long")).as("value_cents"))
      .select(unix_millis($"window.start").as("w_start"), $"segment",
        $"event_type", $"n", $"value_cents")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(want.nonEmpty)
    assert(got == want,
      s"stream-only: ${(got -- want).take(3)}; batch-only: ${(want -- got).take(3)}")
  }

  test("late re-deliveries are dropped by the watermark — and would differ if admitted") {
    import spark.implicits._
    val lateDir = StreamOps.stageWithLateArrivals(spark, eventsPath,
      Files.createTempDirectory("stream-ops-late").toString)
    val ckpt = Files.createTempDirectory("stream-ops-ckpt-l").toString
    val got = StreamOps.windowedEventCounts(spark, lateDir, ckpt, "ltest")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window($"ts".cast("timestamp"), "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(round($"value" * 100).cast("long")).as("value_cents"))
      .select(unix_millis($"window.start").as("w_start"), $"event_type",
        $"n", $"value_cents")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    val originals = spark.read.parquet(eventsPath)
    // stream result == batch over ORIGINALS (late rows contributed nothing)
    assert(got == agg(originals))
    // non-vacuous: the staged dir really contains the 100 late copies,
    // and admitting them WOULD change the counts
    val staged = spark.read.parquet(lateDir)
      .filter($"event_type" =!= "zz_flush")
    assert(staged.filter($"event_id" >= 1000000000L).count() == 100)
    assert(got != agg(staged))
  }

  test("a no-data-batch-free drain refuses to run beside an active stream; the conf is untouched") {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val before = spark.conf.getOption(key)
    val other = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream.format("noop").queryName("bystander").start()
    try {
      val dir = Files.createTempDirectory("stream-ops-guard").toString
      val e = intercept[IllegalArgumentException] {
        StreamOps.streamDedup(spark, dir, dir + "/ckpt", "guardtest")
      }
      assert(e.getMessage.contains(key) && e.getMessage.contains("bystander"))
      assert(spark.conf.getOption(key) == before)
      assert(spark.streams.active.map(_.name).toSeq == Seq("bystander"))
    } finally other.stop()
  }

  test("foreachBatch image curation == batch quality kernel; one sink dir per batch") {
    import spark.implicits._
    import graft.codecs.ImageCodec
    val staged = java.nio.file.Files.createTempDirectory("s7s").toString
    StreamOps.stageImageChunks(spark, 16L, 4, staged, chunks = 4)
    val ckpt = java.nio.file.Files.createTempDirectory("s7c").toString
    val out = java.nio.file.Files.createTempDirectory("s7o").toString
    val got = StreamOps.imageQualityCuration(spark, staged, ckpt, out)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toSet
    // batch equivalent straight through the kernel
    val want = graft.corpus.ImageCorpus.generateExact(spark, 16L, 4)
      .collect().map { row =>
        val (px, w, h) = ImageCodec.decode(row.bytes, row.fmt)
        val q = ImageCodec.qualityStats(px, w, h)
        (row.image_id, q.qMin, q.qMax, q.qMax - q.qMin, q.nDistinct, q.gradL1,
          q.qMax - q.qMin >= 64L && q.nDistinct >= 16L)
      }.toSet
    assert(got == want && got.size == 16)
    // one idempotent sink dir per micro-batch (4 staged files -> 4 batches)
    val batchDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName)
    assert(batchDirs.length == 4, batchDirs.toSeq.toString)
  }
}
