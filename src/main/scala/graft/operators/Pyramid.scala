package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Overview pyramid (the COG / slippy-map "overviews" primitive): level-L
  * cell (r, c) summarizes the base cells in its 2^L x 2^L block. Built
  * INCREMENTALLY — level L aggregates level L-1, not the base — so the
  * base is scanned exactly once and each later level's shuffle is 1/4 of
  * the previous (a geometric tail: the whole pyramid costs < 4/3 of one
  * base pass, at 100 TB as at 60k rows). Levels carry exact Long
  * `(n, sum_q)` instead of a rounded mean: partial sums of Longs are
  * associative and order-free, which keeps every level bit-stable under
  * any partitioning (an avg-of-avgs pyramid would accumulate
  * order-dependent rounding by level 2). The mean is `sum_q / n` at read
  * time. Fully declarative groupBy/sum — whole-stage codegen, no custom
  * kernel. */
object Pyramid {

  /** `vals`: (row, col, q: Long) for VALID base cells. Returns
    * (level, row, col, n, sum_q) for levels 1..`levels`; level-L (r, c)
    * covers base rows [r*2^L, (r+1)*2^L). Cells whose block holds no
    * valid base cell are absent (never emitted, matching the NaN-hole
    * convention of the focal family). */
  def build(vals: DataFrame, levels: Int): DataFrame = {
    require(levels >= 1, s"levels must be >= 1, got $levels")
    var cur = vals.select(col("row").cast("long").as("row"),
      col("col").cast("long").as("col"),
      lit(1L).as("n"), col("q").cast("long").as("sum_q"))
    val out = (1 to levels).map { l =>
      cur = cur
        .groupBy(shiftright(col("row"), 1).as("row"),
          shiftright(col("col"), 1).as("col"))
        .agg(sum(col("n")).as("n"), sum(col("sum_q")).as("sum_q"))
      // each level feeds two consumers (its output branch and level L+1)
      // of the returned union: an eager lineage cut computes it once —
      // level sizes shrink 4x per step, so the materialized footprint is
      // < 1/3 of the base
      if (l < levels) cur = cur.localCheckpoint(true)
      cur.select(lit(l.toLong).as("level"), col("row"), col("col"),
        col("n"), col("sum_q"))
    }
    out.reduce(_ unionByName _)
  }
}
