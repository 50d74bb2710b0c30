package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Profiling main; it writes no correctness or bench output. Sessions use
  * the Bench settings, so its numbers compare with the bench's.
  *
  *   runMain graft.Prof pipeline <cpus> <reps>
  *     times [[Bench.pipeline]] on the bench corpus (SPARK_GRAFT_BENCH_TILES
  *     tiles, default 16384; written first if missing): one untimed warm
  *     pass, then `reps` timed passes. SPARK_GRAFT_BENCH_DEBUG=1 adds the
  *     per-branch `[stage]` lines.
  *
  *   runMain graft.Prof queries <sfDir> <reps> [name,name,...]
  *     for each named gated query (every query when none are named) at
  *     SPARK_GRAFT_CPUS cores (default 32): one untimed warm pass, then
  *     `reps` timed passes. Prints every streaming micro-batch's progress,
  *     every Spark job of the last pass, the pass times and the query's
  *     `.explain("formatted")` plan. A job line reads
  *       job <id> <wall>s tasks=<n> busy=<task-seconds>s occ=<occupancy> <description>
  *     where occupancy = busy / (wall x cores): a job that keeps only two
  *     of four cores busy reads at most 0.50.
  */
object Prof {

  private val usage =
    "usage: Prof pipeline <cpus> <reps> | Prof queries <sfDir> <reps> [name,name,...]"

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("pipeline", cpus, reps) => profilePipeline(cpus.toInt, reps.toInt)
    case Seq("queries", sfDir, reps, names @ _*) =>
      profileQueries(sfDir, reps.toInt,
        names.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty))
    case _ => throw new IllegalArgumentException(usage)
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def profilePipeline(cpus: Int, reps: Int): Unit = {
    val nTiles = sys.env.getOrElse("SPARK_GRAFT_BENCH_TILES", "16384").toLong
    val gridW = 32
    val corpusPath = s"/dev/shm/graft_bench_corpus_$nTiles"
    val s = Bench.session(cpus)
    Bench.writeCorpus(s, corpusPath, nTiles, gridW)
    Bench.pipeline(s, corpusPath, nTiles, gridW) // JIT warm, as the bench does
    for (r <- 1 to reps) {
      val t0 = System.nanoTime()
      Bench.pipeline(s, corpusPath, nTiles, gridW)
      println(f"[pipeline rep $r] ${secsSince(t0)}%.2fs")
    }
    s.stop()
  }

  /** Wall time, task count, busy task time, occupancy on `cores` and
    * description of each Spark job while enabled. */
  private final class JobLog(cores: Int) extends SparkListener {
    case class J(id: Int, t0: Long, desc: String) {
      @volatile var tasks = 0
      @volatile var busyMs = 0L
    }
    private val open = scala.collection.concurrent.TrieMap[Int, J]()
    private val jobOfStage = scala.collection.concurrent.TrieMap[Int, Int]()
    private val executions = scala.collection.concurrent.TrieMap[String, String]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var enabled = false
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => executions.put(s.executionId.toString, s.description)
      case s: SparkListenerSQLExecutionEnd => executions.remove(s.executionId.toString)
      case _ =>
    }
    override def onJobStart(js: SparkListenerJobStart): Unit = if (enabled) {
      def prop(k: String) = Option(js.properties)
        .flatMap(p => Option(p.getProperty(k))).getOrElse("")
      // one line per job (a stream batch's description spans several); a
      // DataFrame job by its SQL execution (AQE stage jobs carry its id,
      // their call site is a pool frame), else its result stage's name
      val desc = Seq(prop("spark.job.description"),
          executions.getOrElse(prop("spark.sql.execution.id"), ""), prop("callSite.short"))
        .map(_.replaceAll("\\s+", " ").trim).find(_.nonEmpty)
        .getOrElse(js.stageInfos.maxByOption(_.stageId).fold("")(_.name))
      open.put(js.jobId, J(js.jobId, System.nanoTime(), desc))
      js.stageIds.foreach(jobOfStage.put(_, js.jobId))
    }
    // the listener bus delivers events one at a time, so the counters of
    // one job are never updated concurrently
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      jobOfStage.get(te.stageId).flatMap(open.get).foreach { j =>
        j.tasks += 1
        j.busyMs += te.taskInfo.duration
      }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = if (enabled) {
      open.remove(je.jobId).foreach { j =>
        val wall = secsSince(j.t0)
        val busy = j.busyMs / 1e3
        val occ = if (wall > 0) busy / (wall * cores) else 0.0
        lines.add(f"    job ${j.id}%4d $wall%7.3fs  tasks=${j.tasks}%-4d busy=$busy%7.3fs occ=$occ%.2f  ${j.desc}")
      }
      jobOfStage.filterInPlace((_, job) => job != je.jobId)
    }
  }

  /** One line per streaming micro-batch: input rows, the phase durations
    * (longest first) and each state operator's commit time and size. */
  private object StreamLog extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      import scala.jdk.CollectionConverters._
      val d = p.durationMs.asScala.toSeq.sortBy(-_._2)
        .map { case (k, v) => s"$k=$v" }.mkString(" ")
      val so = p.stateOperators.map { o =>
        s"${o.operatorName}[commit=${o.commitTimeMs} rows=${o.numRowsTotal} mem=${o.memoryUsedBytes}]"
      }.mkString(" ")
      println(s"    [stream ${p.name} batch ${p.batchId}] rows=${p.numInputRows} $d | $so")
    }
  }

  private def profileQueries(sfDir: String, reps: Int, names: Seq[String]): Unit = {
    require(reps >= 1, usage)
    val picked = SparkEntry.select(names)
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      coalesce = true)
    val jobs = new JobLog(spark.sparkContext.defaultParallelism)
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(StreamLog)
    picked.foreach { g =>
      // one untimed warm pass (JIT/codegen/footers), as in Bench
      g.run(spark, sfDir).count()
      val timed = (1 to reps).map { _ =>
        jobs.lines.clear()
        jobs.enabled = true
        val t0 = System.nanoTime()
        val df = g.run(spark, sfDir)
        df.count()
        val sec = secsSince(t0)
        jobs.enabled = false
        (df, sec)
      }
      val secs = timed.map(_._2)
      println(s"  [${g.name} rep$reps] jobs:")
      jobs.lines.forEach(println(_))
      println(f"${g.name}%-28s min=${secs.min}%7.3fs  reps=${secs.map(x => f"$x%.3f").mkString(",")}")
      println(timed.last._1.queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
