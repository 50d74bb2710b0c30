package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{expr, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.corpus.Synth
import graft.operators.TileOps

class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("cell_in_window rewrites to scan-prunable Z ranges (optimizer rule)") {
    GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("ext").toString + "/tiles"
    TileOps.tileGrid(spark, Synth.demRef, 6)(Synth.demValue)
      .write.mode("overwrite").parquet(dir)
    val pred = "cell_in_window(cellId, 20, 90, 30, 100, 6)"

    // rule OFF: the predicate stays a black box (interpreted eval)
    val naive = spark.read.parquet(dir).filter(expr(pred))
      .select("cellId").collect().map(_.getLong(0)).toSet
    assert(spark.read.parquet(dir).filter(expr(pred))
      .queryExecution.optimizedPlan.toString.contains("cellinwindow"))

    // rule ON (runtime injection)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ RewriteCellWindowPredicates
    try {
      val df = spark.read.parquet(dir).filter(expr(pred))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.toLowerCase.contains("cellinwindow"))
      assert(optimized.contains(">=")) // range predicates present
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.contains("PushedFilters") &&
        phys.contains("GreaterThanOrEqual(cellId"),
        s"ranges did not reach the scan:\n$phys")
      val rewritten = df.select("cellId").collect().map(_.getLong(0)).toSet
      assert(rewritten == naive)
      // ground truth: cover membership straight from CellId math
      val want = CellId.coverWindow(20, 90, 30, 100, 6).toSet
        .intersect(naiveAll(dir))
      assert(rewritten == want)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ eq RewriteCellWindowPredicates)
    }
  }

  private def naiveAll(dir: String): Set[Long] =
    spark.read.parquet(dir).select("cellId").collect().map(_.getLong(0)).toSet

  test("degenerate windows fold to false at plan time (never a bad alloc)") {
    GraftFunctions.register(spark)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ RewriteCellWindowPredicates
    try {
      import spark.implicits._
      // NOT a LocalRelation: ConvertToLocalRelation would fold a
      // literal-backed filter away before the extra optimization ever
      // ran, so the rule would go unexercised
      val df = spark.range(1)
        .select(lit(CellId.encode(6, 0, 0)).as("cellId"))
      // inverted, fully-above-grid, fully-left-of-grid: all must plan
      // (no NegativeArraySizeException) and return zero rows
      for (pred <- Seq(
          "cell_in_window(cellId, 90, 20, 0, 100, 6)",
          "cell_in_window(cellId, -40, -1, 0, 100, 6)",
          "cell_in_window(cellId, 0, 100, -40, -1, 6)")) {
        val q = df.filter(expr(pred))
        assert(q.count() == 0, pred)
        assert(!q.queryExecution.optimizedPlan.toString
          .toLowerCase.contains("cellinwindow"), pred)
      }
      // huge window: stays interpreted (no plan-time materialization)
      val big = df.filter(expr(
        s"cell_in_window(cellId, 0, ${1L << 40}, 0, ${1L << 40}, 6)"))
      assert(big.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("cellinwindow"))
      assert(big.count() == 1)
      // planet-scale literal: the span arithmetic must not WRAP past the
      // cap and hand coverWindow a negative count — stays interpreted
      val planet = df.filter(expr(
        s"cell_in_window(cellId, 0, ${Long.MaxValue}, 0, 0, 6)"))
      assert(planet.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("cellinwindow"))
      assert(planet.count() == 1)
      // res outside the 5-bit id field: rewrite declines (Long >> wraps
      // shift counts mod 64 — plan-time must not reinterpret)
      val badRes = df.filter(expr("cell_in_window(cellId, 0, 100, 0, 100, 64)"))
      assert(badRes.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("cellinwindow"))
      assert(badRes.count() == 0) // interpreted eval: res mismatch = false
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ eq RewriteCellWindowPredicates)
    }
  }

  test("interpreted cell_in_window agrees with the plan-time fold on " +
      "inverted windows") {
    // a res-4 cell covers pixel rows/cols 0-15: with bounds (10, 5) the
    // two interval comparisons alone would BOTH pass (0 <= 5 and
    // 15 >= 10), but an inverted window is an empty pixel set — the
    // interpreted kernel must return false exactly like the optimizer
    // fold, or the same query returns different rows depending on
    // whether the rewrite rule fired
    val cell = CellId.encode(4, 0, 0)
    assert(!GraftFunctions.cellInWindow(cell, 10, 5, 0, 15, 4))
    assert(!GraftFunctions.cellInWindow(cell, 0, 15, 10, 5, 4))
    // non-inverted single-row window still matches
    assert(GraftFunctions.cellInWindow(cell, 10, 10, 0, 15, 4))
  }
}
