package hrbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One traced interval: a step inside a pass, or the pass itself. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task totals of one job group (one step of one traced pass). */
final class GroupTotals {
  var jobs = 0
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Aggregates the tasks of every job by the job group it was submitted
  * under. Stages are attributed to the group of the job that submitted
  * them. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, GroupTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.foreach { g =>
      totals.getOrElseUpdate(g, new GroupTotals).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = totals.getOrElseUpdate(g, new GroupTotals)
      t.cpuNs += m.executorCpuTime
      t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.taskMs += m.executorRunTime
    }
  }

  def take(group: String): GroupTotals = synchronized {
    totals.remove(group).getOrElse(new GroupTotals)
  }
}

/** Per-step metrics of one traced pass. */
final case class StepStats(wallS: Double, cpuS: Double, gcS: Double, jobs: Int,
    shuffleMb: Double, spillMb: Double, skew: Double)

/** Wraps each call into a layer. Inactive, it only runs the body; active,
  * it tags the body's jobs with the step's own job group, records a span,
  * the GC time the JVM spent during the step, and the step's task totals.
  * Spans stay in memory until [[Tracer.spans]] is written out. */
final class Tracer(spark: SparkSession, val active: Boolean) {
  private val listener = new GroupListener
  if (active) spark.sparkContext.addSparkListener(listener)
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val stepBuf = mutable.LinkedHashMap.empty[String, StepStats]
  private var pass = ""

  def spans: Seq[Span] = spanBuf.toSeq

  /** Step stats of the latest pass, in step order. */
  def steps: Seq[(String, StepStats)] = stepBuf.toSeq

  def beginPass(name: String): Unit = { pass = name; stepBuf.clear() }

  def endPass(startNs: Long, endNs: Long): Unit =
    if (active) spanBuf += Span(pass, "", startNs, endNs)

  def step[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val sc = spark.sparkContext
      val group = s"$pass/$name"
      sc.setJobGroup(group, name, interruptOnCancel = false)
      val gc0 = Tracer.gcMs()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.clearJobGroup()
        org.apache.spark.BenchBus.drain(sc)
        val gc = (Tracer.gcMs() - gc0) / 1e3
        val t = listener.take(group)
        val sorted = t.taskMs.sorted
        val skew =
          if (sorted.isEmpty) 1.0
          else sorted.last.toDouble / math.max(1L, sorted(sorted.length / 2))
        spanBuf += Span(name, pass, t0, t1)
        stepBuf(name) = StepStats((t1 - t0) / 1e9, t.cpuNs / 1e9, gc, t.jobs,
          t.shuffleBytes / 1e6, t.spillBytes / 1e6, skew)
      }
    }

  def close(): Unit = if (active) spark.sparkContext.removeSparkListener(listener)
}

object Tracer {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
