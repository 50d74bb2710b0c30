package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.core._

/** Window-aggregate resample kernels — the reference `resample` methods
  * average/max/min/med/q1/q3/mode (Raster.py:369-405 via rasterio
  * Resampling). Semantics standardized as: target pixel (tr, tc) aggregates
  * the source pixels whose CENTERS fall inside its map extent, NaN sources
  * ignored, all-NaN window -> null. Target grid: same origin, cellsize =
  * factor * source cellsize, dims = ceil(src/factor) so the whole source is
  * covered. (Deliberate deviation from the reference at non-divisible
  * sizes: Raster.py:388-399 rounds dims with np.around and then writes a
  * `cellsize` header that disagrees with the rasterio transform it used —
  * there is no consistent semantics to copy there.)
  *
  * Scale shape: when `factor` divides the tile size (it divides 2^res for
  * any power-of-two factor <= tile), every target window lives INSIDE one
  * source tile, so each stat computes in a per-tile kernel with ZERO
  * shuffle — embarrassingly parallel over tiles; the per-pixel groupBy
  * fallback is never needed on aligned grids. med/q1/q3 are exact within
  * the window (factor^2 values), not approximations. */
object Downsample {

  val methods = Seq("average", "max", "min", "med", "q1", "q3", "mode")

  /** DuckDB-compatible continuous quantile over a SORTED array:
    * pos = p*(n-1), linear interpolation between the bracketing values. */
  def quantileCont(sorted: Array[Double], p: Double): Double = {
    val n = sorted.length
    val pos = p * (n - 1)
    val lo = math.floor(pos).toInt
    val frac = pos - lo
    if (frac == 0.0) sorted(lo)
    else sorted(lo) + frac * (sorted(lo + 1) - sorted(lo))
  }

  /** Aggregate one window's VALID values. `vals` may be mutated (sorted). */
  def statOf(vals: Array[Double], n: Int, method: String): Double = {
    if (n == 0) return Double.NaN
    method match {
      case "average" =>
        var s = 0.0
        var i = 0
        while (i < n) { s += vals(i); i += 1 }
        s / n
      case "max" =>
        var m = vals(0); var i = 1
        while (i < n) { if (vals(i) > m) m = vals(i); i += 1 }
        m
      case "min" =>
        var m = vals(0); var i = 1
        while (i < n) { if (vals(i) < m) m = vals(i); i += 1 }
        m
      case "med" | "q1" | "q3" =>
        java.util.Arrays.sort(vals, 0, n)
        val s = java.util.Arrays.copyOf(vals, n)
        quantileCont(s, method match {
          case "med" => 0.5
          case "q1" => 0.25
          case _ => 0.75
        })
      case "mode" =>
        // most frequent value; ties -> LOWEST value (deterministic)
        java.util.Arrays.sort(vals, 0, n)
        var best = vals(0); var bestCnt = 0
        var i = 0
        while (i < n) {
          var j = i
          while (j < n && vals(j) == vals(i)) j += 1
          if (j - i > bestCnt) { best = vals(i); bestCnt = j - i }
          i = j
        }
        best
      case other => throw new IllegalArgumentException(s"method: $other")
    }
  }

  /** Downsample by integer `factor` with the given method. Requires the
    * tile size (2^res) to be a multiple of factor (free for power-of-two
    * factors) so windows never straddle tiles. Emits one row per target
    * pixel that has >= 1 source pixel in window (partial edge windows
    * included), (row, col, v) with v null when the window is all-NaN. */
  def stats(tiles: Dataset[Tile], srcRef: GridRef, res: Int, factor: Int,
      method: String): DataFrame = {
    require(factor >= 1 && (1 << res) % factor == 0,
      s"factor $factor must divide tile size ${1 << res}")
    require(methods.contains(method), s"unknown method $method")
    import tiles.sparkSession.implicits._
    val blocks = tiles.map { t =>
      // tiles are anchored at multiples of 2^res, so row0 % factor == 0
      val trLo = t.row0 / factor
      val trHi = (t.row0 + t.h - 1) / factor
      val tcLo = t.col0 / factor
      val tcHi = (t.col0 + t.w - 1) / factor
      val tw = tcHi - tcLo + 1
      val buf = new Array[Double](factor * factor)
      val out = new Array[Double]((trHi - trLo + 1) * tw)
      var tr = trLo
      while (tr <= trHi) {
        val r0 = math.max(t.row0, tr * factor)
        val r1 = math.min(t.row0 + t.h - 1, tr * factor + factor - 1)
        var tc = tcLo
        while (tc <= tcHi) {
          val c0 = math.max(t.col0, tc * factor)
          val c1 = math.min(t.col0 + t.w - 1, tc * factor + factor - 1)
          var n = 0
          var r = r0
          while (r <= r1) {
            var c = c0
            while (c <= c1) {
              val v = t.payload((r - t.row0) * t.w + (c - t.col0))
              if (!v.isNaN) { buf(n) = v; n += 1 }
              c += 1
            }
            r += 1
          }
          out((tr - trLo) * tw + tc - tcLo) = statOf(buf, n, method)
          tc += 1
        }
        tr += 1
      }
      (trLo, tcLo, tw, out)
    }
    CellView(blocks.toDF("row0", "col0", "w", "v"), IntegerType, Seq("v"), keep = Some(lit(true)))
      .withColumn("v", when(isnan($"v"), lit(null)).otherwise($"v"))
  }

  /** The target header of a factor-downsample (ceil dims, same origin
    * anchored at the TOP-left like all tile math). */
  def targetRef(srcRef: GridRef, factor: Int): GridRef = {
    val tNrows = (srcRef.nrows + factor - 1) / factor
    val tNcols = (srcRef.ncols + factor - 1) / factor
    val cs = srcRef.cellsize * factor
    GridRef(tNcols, tNrows, srcRef.left, srcRef.top - tNrows * cs, cs,
      srcRef.nodata, srcRef.crs)
  }
}
