package graft.core

import org.apache.spark.JobDescriptions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class DriverGateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("the budget is the smaller of spark.driver.maxResultSize and 1/16 of the heap") {
    val maxResult = spark.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    assert(DriverGate.budget(spark) == math.min(maxResult, Runtime.getRuntime.maxMemory / 16))
  }

  test("placement counts bytes, not rows") {
    import spark.implicits._
    val fewWide = Seq.fill(3)(new Array[Double](10000)).toDS()
    val manyNarrow = spark.range(50000).as[Long]
    DriverGate.withBudget(100000) {
      // 3 rows, 240,000 bytes
      assert(DriverGate.place("wide", fewWide)(8L * _.length).isRight)
      // 50,000 rows, 50,000 bytes
      val placed = DriverGate.place("narrow", manyNarrow)(_ => 1L)
      assert(placed.fold(_.length, _ => -1) == 50000)
    }
  }

  test("the gate's jobs carry the operator and the branch") {
    import spark.implicits._
    val ds = spark.range(10).as[Long]
    val (_, driver) = JobDescriptions(spark.sparkContext)(DriverGate.place("op", ds)(_ => 8L))
    assert(driver.contains("op: sizing"), driver)
    assert(driver.contains("op: driver placement (80 bytes)"), driver)
    val (_, distributed) = JobDescriptions(spark.sparkContext) {
      DriverGate.withBudget(79)(DriverGate.place("op", ds)(_ => 8L))
    }
    assert(distributed.contains("op: sizing") && !distributed.exists(_.contains("driver")),
      distributed)
  }

  test("fixed-size rows: a bounded collect, kept when it fits; no job when no row fits") {
    import spark.implicits._
    val ds = spark.range(10).as[Long]
    val sc = spark.sparkContext
    val (fit, fitJobs) = JobDescriptions(sc)(DriverGate.withBudget(80)(DriverGate.placeRows("op", ds, 8L)))
    assert(fit.fold(_.sorted.toSeq, _ => Nil) == (0L until 10L))
    assert(fitJobs.nonEmpty && fitJobs.forall(_ == "op: driver placement (at most 10 rows of 8 bytes)"),
      fitJobs)
    val (over, _) = JobDescriptions(sc)(DriverGate.withBudget(79)(DriverGate.placeRows("op", ds, 8L)))
    assert(over.isRight)
    val (none, noJobs) = JobDescriptions(sc)(DriverGate.withBudget(7)(DriverGate.placeRows("op", ds, 8L)))
    assert(none.isRight && noJobs.isEmpty, noJobs)
  }

  test("the override is restored when its body throws") {
    val before = DriverGate.budget(spark)
    DriverGate.withBudget(5) {
      intercept[IllegalStateException] {
        DriverGate.withBudget(0)(throw new IllegalStateException("body failed"))
      }
      assert(DriverGate.budget(spark) == 5)
    }
    assert(DriverGate.budget(spark) == before)
  }
}
