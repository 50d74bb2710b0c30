package hrbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Input sizes of one benchmark size class. The seed never changes them. */
final case class Sizes(
    corpusTiles: Int, // tile_pipeline: corpus rows (256x256 tiles)
    corpusGridW: Int, // tile_pipeline: corpus mosaic width in tiles
    demSide: Int, // dem_hydrology: DEM is demSide x demSide cells
    demPoints: Int, // dem_hydrology: scattered points interpolated onto it
    ingestTiles: Int, // tile_ingest: corpus tiles encoded per pass
    tifSide: Int) // tile_ingest: GeoTIFF is tifSide x tifSide cells

object Sizes {
  val full = Sizes(corpusTiles = 512, corpusGridW = 32, demSide = 512,
    demPoints = 6250, ingestTiles = 128, tifSide = 2048)
  val smoke = Sizes(corpusTiles = 256, corpusGridW = 16, demSide = 256,
    demPoints = 1600, ingestTiles = 16, tifSide = 1024)
  def of(name: String): Sizes = name match {
    case "full" => full
    case "smoke" => smoke
    case other => throw new IllegalArgumentException(s"unknown size '$other' (full|smoke)")
  }
}

/** The outcome of one output check. */
final case class Check(step: String, error: Option[String])

object Check {
  def apply(step: String, ok: Boolean, what: => String): Check =
    Check(step, if (ok) None else Some(what))
}

/** What one pass reports back: the timed seconds, the heap peak during the
  * timed part, the layer counts, and the output checks, which run when
  * called (after the timed part, on the pass's cached outputs). */
final case class PassResult(seconds: Double, heapMb: Double, counts: Map[String, Double],
    checks: () => Seq[Check])

trait Workload {
  def name: String
  /** Step names, in the order a traced pass runs them. */
  def steps: Seq[String]
  /** Raster cells of work in one pass (the mcells_per_s numerator). */
  def cells: Long
  /** Builds the fixture files once; later runs with the same size and
    * seed find them in place. `spark` is only started if it is used. */
  def prepare(spark: => SparkSession): Unit
  /** Loads the fixtures into a fresh session (part of set-up). */
  def load(spark: SparkSession): Unit
  /** One pass. Steps go through `tr`; output checks run after the timed
    * part. */
  def pass(spark: SparkSession, tr: Tracer, work: File): PassResult
  /** Runs every output check on a deliberately corrupted output and
    * returns the checks that failed to notice. */
  def selfTest(spark: SparkSession, work: File): Seq[String]
  def close(): Unit = ()
}

/** What one pass cost the host: the JVM's CPU seconds, the JIT compiler's
  * seconds, and the share of the CPUs' wanted time that the hypervisor
  * kept for other guests (stolen / (stolen + busy), from /proc/stat). */
final case class HostUse(cpuS: Double, jitS: Double, stealShare: Double) {
  /** Seconds of wall time `s` less the share the hypervisor stole: what
    * the pass would have taken on CPUs not shared with other guests. */
  def stealFree(s: Double): Double = s * (1 - stealShare)
}

final case class HostSample(cpuNs: Long, jitMs: Long, stolen: Long, busy: Long) {
  def since(a: HostSample): HostUse = HostUse((cpuNs - a.cpuNs) / 1e9, (jitMs - a.jitMs) / 1e3,
    (stolen - a.stolen).toDouble / math.max(1L, stolen - a.stolen + busy - a.busy))
}

object HostSample {
  def apply(): HostSample = {
    val f = scala.io.Source.fromFile("/proc/stat")
    val v = try f.getLines().next().split("\\s+").drop(1).map(_.toLong) finally f.close()
    HostSample(
      ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      if (v.length > 7) v(7) else 0L, v(0) + v(1) + v(2) + v(5) + v(6))
  }
}

object Common {
  /** SplitMix64 finalizer: a stateless, seedable 64-bit mix. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform [0, 1) from (seed, index, stream). */
  def u01(seed: Long, i: Long, stream: Int): Double =
    (mix(mix(seed * 0x632BE59BD9B4E019L + stream) ^ i) >>> 11) * (1.0 / (1L << 53))

  /** Terrain phase of a seed, one of three independent angles. */
  def phase(seed: Long, k: Int): Double = u01(seed, k, 7) * 2 * math.Pi

  /** Order-independent checksum term of one tile (sum these, wrapping). */
  def tileChecksum(cellId: Long, payload: Array[Double]): Long = {
    var h = mix(cellId)
    var i = 0
    while (i < payload.length) {
      h = h * 31 + java.lang.Double.doubleToLongBits(payload(i))
      i += 1
    }
    mix(h)
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  /** Runs `body` and returns its result, wall seconds and the peak heap
    * used meanwhile (sum of the heap pools' peaks, reset at the start). */
  def measure[A](body: => A): (A, Double, Double) = {
    heapPools.foreach(_.resetPeakUsage())
    val (a, s) = timed(body)
    val peak = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    (a, s, peak)
  }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Releases every cached frame and checkpoint of a pass. */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
