package hrbench

import java.io.File
import java.nio.file.Files
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Benchmark runner. One JVM, `local[4]`, one client in a closed loop.
  *
  * Set-up is session start and fixture load (three times on fresh sessions,
  * median taken) plus two JIT warm passes. The timed phase then runs passes
  * until they add up to about `--seconds`, and at least two. With `--trace 1` it alternates untraced
  * and traced passes instead and reports per-step metrics. The last
  * stdout line starting with `RESULT ` is a JSON object for `run.py`. */
object Main {

  private val SetupRounds = 3
  /** Under C1 the first pass compiles and loads what the run needs; the
    * pass after it still runs about 10% slow. */
  private val WarmPasses = 2

  /** Every per-step metric, its unit and the tracer field it reads. */
  val stepMetrics: Seq[(String, String, StepStats => Double)] = Seq(
    ("wall_s", "s", _.wallS), ("cpu_s", "s", _.cpuS), ("gc_s", "s", _.gcS),
    ("jobs", "count", _.jobs.toDouble), ("shuffle_mb", "MB", _.shuffleMb),
    ("spill_mb", "MB", _.spillMb), ("skew", "ratio", _.skew))

  val allSteps: Seq[String] = Seq(
    "corpus.dedup", "codecs.decode", "rasterize.burn", "knn.slab",
    "knn.interp", "tileops.assemble", "flow.fill", "flow.dir", "flow.acc", "stencil.indices",
    "codecs.encode", "sources.tif_read", "icelite.commit", "icelite.upsert", "icelite.read")

  val extraMetrics: Seq[(String, String)] = Seq(
    "corpus.dedup.useful_ratio" -> "ratio", "codecs.decode.mpx" -> "Mpx",
    "rasterize.burn.cells" -> "count", "knn.interp.cells" -> "count",
    "icelite.commit.write_amp" -> "ratio", "icelite.upsert.write_amp" -> "ratio",
    "trace.overhead_ratio" -> "ratio")

  def session(root: File): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("hrbench")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.adaptive.enabled", "true")
      // the pipeline's shuffle rows are small descriptors that expand into
      // 65,536-pixel kernels; byte-based coalescing would fold them into
      // one task
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.parquet.columnarReaderBatchSize", "256")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", new File(root, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(root, "tmp").getPath)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      size: String, root: File, selfTest: Boolean, train: Boolean)

  private def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, kv.getOrElse("seconds", "10").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("size", "full"), new File(need("root")),
      kv.getOrElse("selftest", "0") == "1", kv.getOrElse("train", "0") == "1")
  }

  def workload(a: Args): Workload = {
    val sz = Sizes.of(a.size)
    val fixtures = new File(a.root, s"fixtures-${a.size}")
    fixtures.mkdirs()
    a.workload match {
      case "tile_pipeline" => new TilePipeline(sz, a.seed, fixtures)
      case "dem_hydrology" => new DemHydrology(sz, a.seed)
      case "tile_ingest" => new TileIngest(sz, a.seed, fixtures)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }

  private def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.train) train(a) else measure(a)
  }

  /** Runs one untraced and one traced pass of every workload at the smoke
    * size, with its checks, so that the class archive the build records
    * at this JVM's exit holds every class a run loads. */
  private def train(a: Args): Unit = {
    val spark = session(a.root)
    try for (name <- Seq("tile_pipeline", "dem_hydrology", "tile_ingest")) {
      val w = workload(a.copy(workload = name, size = "smoke"))
      val work = new File(a.root, s"work-$name")
      try {
        w.prepare(spark)
        w.load(spark)
        for (active <- Seq(false, true)) {
          work.mkdirs()
          val tr = new Tracer(spark, active)
          tr.beginPass("train")
          try w.pass(spark, tr, work).checks()
          finally {
            tr.close()
            Common.releaseCaches(spark)
            Common.deleteTree(work)
          }
        }
      } finally w.close()
    } finally spark.stop()
  }

  private def measure(a: Args): Unit = {
    val w = workload(a)
    val work = new File(a.root, s"work-${a.workload}")
    try {
      if (a.selfTest) selfTest(a, w, work) else run(a, w, work)
    } finally {
      w.close()
      Common.deleteTree(work)
    }
  }

  private def selfTest(a: Args, w: Workload, work: File): Unit = {
    val spark = session(a.root)
    try {
      w.prepare(spark)
      w.load(spark)
      work.mkdirs()
      val missed = w.selfTest(spark, work)
      println("RESULT " + s"""{"workload": ${quote(w.name)}, "missed": ${missed.map(quote).mkString("[", ", ", "]")}}""")
    } finally spark.stop()
  }

  private def run(a: Args, w: Workload, work: File): Unit = {
    var attempted = 0L
    var measuredS = 0.0
    var failed = 0L
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]

    /** Runs one pass; a pass that throws fails all of its steps, and a
      * check that fails fails its step. Warm-up passes skip the output
      * checks. Returns the result and what the pass cost the host, if all
      * checks held. */
    def onePass(spark: SparkSession, tr: Tracer, label: String,
        check: Boolean): Option[(PassResult, HostUse)] = {
      work.mkdirs()
      // every pass starts from a collected heap, so its heap peak does not
      // depend on where the previous pass left the collector
      System.gc()
      tr.beginPass(label)
      val host0 = HostSample()
      val t0 = System.nanoTime()
      try {
        val r = try w.pass(spark, tr, work)
        finally if (check) measuredS += (System.nanoTime() - t0) / 1e9
        tr.endPass(t0, t0 + (r.seconds * 1e9).toLong)
        val use = HostSample().since(host0)
        val (bad, checkS) = Common.timed(if (check) r.checks().filter(_.error.nonEmpty) else Nil)
        System.err.println(f"[perfbench] $label ${r.seconds}%.3f s (steal ${use.stealShare}%.3f), checks ${checkS}%.3f s")
        if (check) attempted += w.steps.size
        failed += bad.map(_.step).distinct.size
        bad.foreach(c => failures += s"$label ${c.step}: ${c.error.get}")
        if (bad.isEmpty) Some((r, use)) else None
      } catch {
        case NonFatal(e) =>
          attempted += w.steps.size
          failed += w.steps.size
          failures += s"$label threw ${e.getClass.getName}: ${e.getMessage}"
          None
      } finally {
        Common.releaseCaches(spark)
        Common.deleteTree(work)
      }
    }

    var prep: SparkSession = null
    try w.prepare { if (prep == null) prep = session(a.root); prep }
    finally if (prep != null) prep.stop()

    // set-up: session start and fixture load, several times on fresh
    // sessions (the first start in a JVM also loads Spark's classes, which
    // the median leaves out), then the JIT warm passes on the last session
    val starts = scala.collection.mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to SetupRounds) {
      if (spark != null) spark.stop()
      val (s, secs) = Common.timed { val s = session(a.root); w.load(s); s }
      spark = s
      starts += secs
      System.err.println(f"[perfbench] setup$i session start and load ${secs}%.3f s")
    }
    val plain = new Tracer(spark, active = false)
    val warmS = (1 to WarmPasses).map { k =>
      onePass(spark, plain, s"warmup$k", check = false)
        .map { case (r, u) => u.stealFree(r.seconds) }.getOrElse(Double.NaN)
    }
    val setupS = Common.median(starts.toSeq) + warmS.sum

    val untraced = scala.collection.mutable.ArrayBuffer.empty[(PassResult, HostUse)]
    val traced = scala.collection.mutable.ArrayBuffer.empty[(PassResult, Seq[(String, StepStats)])]
    val tracer = new Tracer(spark, active = a.trace)
    // the loop counts pass time only, so the output checks do not eat into
    // it; it stops when one more round would end nearer to `--seconds`
    // past than short of it, runs at least two passes, and stops at a
    // wall-clock cap if passes keep failing early
    val wallCap = System.nanoTime() + (6 * a.seconds * 1e9).toLong
    var i = 0
    var roundS = 0.0
    try {
      do {
        i += 1
        val before = measuredS
        onePass(spark, plain, s"pass$i", check = true).foreach(untraced += _)
        if (a.trace)
          onePass(spark, tracer, s"traced$i", check = true).foreach(r => traced += ((r._1, tracer.steps)))
        roundS = measuredS - before
      } while ((measuredS + roundS / 2 < a.seconds || (!a.trace && i < 2)) && System.nanoTime() < wallCap)
    } finally {
      tracer.close()
      writeSpans(a, tracer.spans)
      spark.stop()
    }

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("mcells_per_s", Common.median(untraced.map { case (r, u) => w.cells / u.stealFree(r.seconds) / 1e6 }.toSeq), "Mcells/s"),
        ("setup_s", setupS, "s"),
        ("peak_heap_mb", Common.median(untraced.map(_._1.heapMb).toSeq), "MB"))
      else {
        val perStep = for {
          step <- allSteps
          (m, unit, get) <- stepMetrics
        } yield {
          val vs = traced.flatMap(_._2.find(_._1 == step)).map(s => get(s._2)).toSeq
          (s"$step.$m", if (vs.isEmpty) 0.0 else Common.median(vs), unit)
        }
        val overhead = Common.median(traced.map(_._1.seconds).toSeq) /
          Common.median(untraced.map(_._1.seconds).toSeq)
        val extras = extraMetrics.map { case (m, unit) =>
          val v =
            if (m == "trace.overhead_ratio") overhead
            else {
              val vs = traced.flatMap(_._1.counts.get(m)).toSeq
              if (vs.isEmpty) 0.0 else Common.median(vs)
            }
          (m, v, unit)
        }
        perStep ++ extras
      }

    val stepCover =
      if (traced.isEmpty) Double.NaN
      else Common.median(traced.map { case (r, st) => st.map(_._2.wallS).sum / r.seconds }.toSeq)
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    val ok = failed == 0 && untraced.nonEmpty && (!a.trace || traced.nonEmpty) &&
      metrics.forall(m => !m._2.isNaN)
    val out = new StringBuilder("{")
    out ++= s""""correct": $ok, "attempted": $attempted, "failed": $failed, """
    out ++= metrics.map { case (n, v, u) => s"${quote(n)}: {\"value\": ${json(v)}, \"unit\": ${quote(u)}}" }
      .mkString("\"metrics\": {", ", ", "}, ")
    out ++= s""""detail": {"workload": ${quote(w.name)}, "seed": ${a.seed}, "size": ${quote(a.size)}, """
    out ++= s""""cells_per_pass": ${w.cells}, "fail_ratio": ${json(failed.toDouble / attempted)}, """
    out ++= s""""pass_s": ${untraced.map(r => json(r._1.seconds)).mkString("[", ", ", "]")}, """
    out ++= s""""traced_pass_s": ${traced.map(r => json(r._1.seconds)).mkString("[", ", ", "]")}, """
    out ++= s""""pass_cpu_s": ${untraced.map(u => json(u._2.cpuS)).mkString("[", ", ", "]")}, """
    out ++= s""""pass_jit_s": ${untraced.map(u => json(u._2.jitS)).mkString("[", ", ", "]")}, """
    out ++= s""""pass_steal_share": ${untraced.map(u => json(u._2.stealShare)).mkString("[", ", ", "]")}, """
    out ++= s""""step_wall_cover": ${json(stepCover)}, """
    out ++= s""""session_load_s": ${starts.map(json).mkString("[", ", ", "]")}, "warmup_s": ${warmS.map(json).mkString("[", ", ", "]")}, """
    out ++= s""""failures": ${failures.take(20).map(quote).mkString("[", ", ", "]")}, """
    out ++= s""""jvm": ${quote(System.getProperty("java.vm.name") + " " + System.getProperty("java.runtime.version"))}, """
    out ++= s""""spark": ${quote(org.apache.spark.SPARK_VERSION)}, """
    out ++= s""""max_heap_mb": ${Runtime.getRuntime.maxMemory / (1024 * 1024)}, """
    out ++= s""""jvm_args": ${rt.getInputArguments.toArray.map(x => quote(x.toString)).filter(x => x.contains("-X")).mkString("[", ", ", "]")}, """
    out ++= s""""gc": ${gcs.toArray.map(g => quote(g.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getName)).mkString("[", ", ", "]")}}}"""
    println("RESULT " + out.toString)
  }

  private def writeSpans(a: Args, spans: Seq[Span]): Unit = if (spans.nonEmpty) {
    val dir = new File(a.root, "traces")
    dir.mkdirs()
    val body = spans.map(s =>
      s"""{"name": ${quote(s.name)}, "parent": ${quote(s.parent)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    Files.writeString(new File(dir, s"${a.workload}-seed${a.seed}.json").toPath,
      body.mkString("[\n", ",\n", "\n]\n"))
  }
}
