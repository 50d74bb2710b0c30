package graft.core

import scala.reflect.ClassTag
import scala.util.DynamicVariable
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.{coalesce, lit, sum}

/** The one driver-vs-distributed gate. Its budget is in bytes: the smaller
  * of `spark.driver.maxResultSize` (0 = no bound) and 1/16 of the driver
  * JVM's max heap. Callers state an element's bytes as the driver heap it
  * costs (measured: the collected object and its share of the solve's maps,
  * above its serialized size). `fits` decides a size known before any job;
  * `place` sizes a Dataset in one job, then collects it or leaves it
  * distributed; `placeRows` does so for fixed-size rows in one bounded
  * collect. Its jobs carry the operator and the branch; each decision is
  * logged. */
private[graft] object DriverGate {

  /** Rows of a solve: `Left` on the driver, `Right` distributed. */
  type Placed[T] = Either[Array[T], Dataset[T]]

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val budgetOverride = new DynamicVariable[Option[Long]](None)

  /** `body` with the budget at `bytes` on this thread (0 forces distributed). */
  def withBudget[A](bytes: Long)(body: => A): A =
    budgetOverride.withValue(Some(bytes))(body)

  def budget(spark: SparkSession): Long = budgetOverride.value.getOrElse {
    val heap = Runtime.getRuntime.maxMemory / 16
    val maxResult = spark.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (maxResult > 0) math.min(maxResult, heap) else heap
  }

  def fits(spark: SparkSession, op: String, bytes: Long): Boolean = {
    val b = budget(spark)
    log.info(s"$op: ${if (bytes <= b) "driver" else "distributed"} placement, $bytes of $b bytes")
    bytes <= b
  }

  /** `ds` collected when its elements' `bytesOf`, summed, fit; else `ds`. */
  def place[T](op: String, ds: Dataset[T])(bytesOf: T => Long): Placed[T] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val bytes = labelled(spark, s"$op: sizing") {
      ds.map(bytesOf).toDF("n").agg(coalesce(sum($"n"), lit(0L))).collect()(0).getLong(0)
    }
    if (fits(spark, op, bytes))
      Left(labelled(spark, s"$op: driver placement ($bytes bytes)")(ds.collect()))
    else Right(ds)
  }

  /** [[place]] for elements of `rowBytes` each, with no sizing job: a
    * `limit` collect of at most one row past the budget, kept if it fits. */
  def placeRows[T](op: String, ds: Dataset[T], rowBytes: Long): Placed[T] = {
    val spark = ds.sparkSession
    val n = math.min(budget(spark) / rowBytes, Int.MaxValue - 1L).toInt
    val rows = if (n == 0) None else Some(labelled(spark,
      s"$op: driver placement (at most $n rows of $rowBytes bytes)")(ds.limit(n + 1).collect()))
    if (fits(spark, op, rows.fold(rowBytes)(_.length * rowBytes))) Left(rows.get) else Right(ds)
  }

  def mapPlaced[T, U: Encoder: ClassTag](p: Placed[T])(f: T => U): Placed[U] =
    p.fold(a => Left(a.map(f)), ds => Right(ds.map(f)))

  def toDs[T: Encoder](spark: SparkSession, p: Placed[T]): Dataset[T] =
    p.fold(a => spark.createDataset(a.toSeq), identity)

  /** `body` with its jobs described as `label`. */
  def labelled[A](spark: SparkSession, label: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setLocalProperty("spark.job.description", prev)
  }
}
