package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.core._

/** 2-D stencils with distributed halo exchange — the reference's
  * "window functions" are neighborhood kernels, not SQL windows
  * (hillshade `grid_show.py:136-158`; SURVEY.md §2.5 W1).
  *
  * Shape: every tile ships its 1-pixel border strips to the 8 neighbor
  * cells (tiny fraction of payload), groupByKey(cell) assembles a padded
  * (h+2)x(w+2) plane, the kernel runs as a tight JVM loop. One shuffle
  * whose volume is ~4/2^res of the data — at res 8, 1.6% overhead. */
object Stencil {

  /** A fragment addressed to `targetCell`: either the full tile payload or
    * a border strip from a neighbor, in GLOBAL pixel coords. */
  final case class Frag(targetCell: Long, row0: Int, col0: Int, h: Int, w: Int,
      payload: Array[Double])

  /** Emit self + 8 border fragments per tile. `maxCx`/`maxCy` bound the
    * neighbor lattice ABOVE as well: without them every right/bottom
    * edge tile ships up to 3 fragments addressed past the grid through
    * the shuffle only for [[padded]] to discard them. */
  def withHalo(tiles: Dataset[Tile], res: Int,
      maxCx: Long = Long.MaxValue, maxCy: Long = Long.MaxValue): Dataset[Frag] = {
    import tiles.sparkSession.implicits._
    tiles.flatMap { t =>
      val self = Frag(t.cellId, t.row0, t.col0, t.h, t.w, t.payload)
      val cx = CellId.cx(t.cellId)
      val cy = CellId.cy(t.cellId)
      val frags = Iterator.newBuilder[Frag]
      frags += self
      def strip(r0: Int, c0: Int, h: Int, w: Int): Array[Double] = {
        val out = new Array[Double](h * w)
        var r = 0
        while (r < h) {
          var c = 0
          while (c < w) {
            out(r * w + c) = t.payload((r0 - t.row0 + r) * t.w + (c0 - t.col0 + c))
            c += 1
          }
          r += 1
        }
        out
      }
      val top = t.row0
      val bot = t.row0 + t.h - 1
      val left = t.col0
      val right = t.col0 + t.w - 1
      def neigh(dx: Long, dy: Long): Option[Long] =
        if (cx + dx < 0 || cy + dy < 0 || cx + dx > maxCx || cy + dy > maxCy)
          None
        else Some(CellId.encode(CellId.res(t.cellId), cx + dx, cy + dy))
      // edges
      neigh(0, -1).foreach(n => frags += Frag(n, top, left, 1, t.w, strip(top, left, 1, t.w)))
      neigh(0, 1).foreach(n => frags += Frag(n, bot, left, 1, t.w, strip(bot, left, 1, t.w)))
      neigh(-1, 0).foreach(n => frags += Frag(n, top, left, t.h, 1, strip(top, left, t.h, 1)))
      neigh(1, 0).foreach(n => frags += Frag(n, top, right, t.h, 1, strip(top, right, t.h, 1)))
      // corners
      neigh(-1, -1).foreach(n => frags += Frag(n, top, left, 1, 1, strip(top, left, 1, 1)))
      neigh(1, -1).foreach(n => frags += Frag(n, top, right, 1, 1, strip(top, right, 1, 1)))
      neigh(-1, 1).foreach(n => frags += Frag(n, bot, left, 1, 1, strip(bot, left, 1, 1)))
      neigh(1, 1).foreach(n => frags += Frag(n, bot, right, 1, 1, strip(bot, right, 1, 1)))
      frags.result()
    }
  }

  /** A tile with an assembled 1-pixel halo: payload is (h+2)x(w+2),
    * NaN where no neighbor contributed (grid edge). */
  final case class Padded(cellId: Long, row0: Int, col0: Int, h: Int, w: Int,
      pad: Array[Double]) {
    /** value at GLOBAL pixel (r, c), valid for the tile window +-1. */
    def at(r: Int, c: Int): Double = pad((r - row0 + 1) * (w + 2) + (c - col0 + 1))
  }

  /** Assemble halo'd tiles: one shuffle keyed by cell id. */
  def padded(tiles: Dataset[Tile], ref: GridRef, res: Int): Dataset[Padded] = {
    import tiles.sparkSession.implicits._
    val nrows = ref.nrows
    val ncols = ref.ncols
    withHalo(tiles, res, maxCx = (ncols - 1).toLong >> res,
        maxCy = (nrows - 1).toLong >> res)
      .groupByKey(_.targetCell).flatMapGroups { (cid, it) =>
      val frags = it.toArray
      val (r0L, c0L, size) = CellId.pixelWindow(cid)
      val r0 = r0L.toInt
      val c0 = c0L.toInt
      // groups keyed by a cell with no tile of its own (off-grid neighbors)
      // only ever receive border frags, which are anchored OUTSIDE the
      // group's own window — only the self frag is anchored at (r0, c0)
      val hasSelf = frags.exists(f => f.row0 == r0 && f.col0 == c0)
      if (r0 >= nrows || c0 >= ncols || !hasSelf) Iterator.empty
      else {
        val h = math.min(size, nrows - r0)
        val w = math.min(size, ncols - c0)
        val ph = h + 2
        val pw = w + 2
        val pad = Array.fill(ph * pw)(Double.NaN)
        frags.foreach { f =>
          var r = 0
          while (r < f.h) {
            val pr = f.row0 + r - (r0 - 1)
            if (pr >= 0 && pr < ph) {
              var c = 0
              while (c < f.w) {
                val pc = f.col0 + c - (c0 - 1)
                if (pc >= 0 && pc < pw) pad(pr * pw + pc) = f.payload(r * f.w + c)
                c += 1
              }
            }
            r += 1
          }
        }
        Iterator.single(Padded(cid, r0, c0, h, w, pad))
      }
    }
  }

  /** Horn 3x3 gradient planes of one padded tile: per pixel with all 9
    * neighbors valid,
    *   gx = ((tr + 2*r + br) - (tl + 2*l + bl)) / (8*cs)   [eastward]
    *   gy = ((tl + 2*t + tr) - (bl + 2*b + br)) / (8*cs)   [northward]
    * and NaN in both where any of the 9 is NaN or off the grid. */
  private def hornPlanes(pt: Padded, cs: Double): (Array[Double], Array[Double]) = {
    val h = pt.h
    val w = pt.w
    val pw = w + 2
    val pad = pt.pad
    val gxs = Array.fill(h * w)(Double.NaN)
    val gys = Array.fill(h * w)(Double.NaN)
    var r = 1
    while (r <= h) {
      var c = 1
      while (c <= w) {
        val tl = pad((r - 1) * pw + (c - 1)); val tp = pad((r - 1) * pw + c); val tr = pad((r - 1) * pw + (c + 1))
        val l = pad(r * pw + (c - 1)); val ct = pad(r * pw + c); val rt = pad(r * pw + (c + 1))
        val bl = pad((r + 1) * pw + (c - 1)); val bt = pad((r + 1) * pw + c); val br = pad((r + 1) * pw + (c + 1))
        if (!(tl.isNaN || tp.isNaN || tr.isNaN || l.isNaN || ct.isNaN || rt.isNaN ||
          bl.isNaN || bt.isNaN || br.isNaN)) {
          gxs((r - 1) * w + c - 1) = ((tr + 2 * rt + br) - (tl + 2 * l + bl)) / (8 * cs)
          gys((r - 1) * w + c - 1) = ((tl + 2 * tp + tr) - (bl + 2 * bt + br)) / (8 * cs)
        }
        c += 1
      }
      r += 1
    }
    (gxs, gys)
  }

  /** Horn 3x3 gradient (the hillshade core, [[hornPlanes]]): (row, col,
    * gx, gy) for every pixel whose 3x3 neighborhood is fully valid. */
  def hornGradient(tiles: Dataset[Tile], ref: GridRef, res: Int): DataFrame = {
    import tiles.sparkSession.implicits._
    val cs = ref.cellsize
    val blocks = padded(tiles, ref, res).map { pt =>
      val (gx, gy) = hornPlanes(pt, cs)
      (pt.row0, pt.col0, pt.w, gx, gy)
    }
    CellView(blocks.toDF("row0", "col0", "w", "gx", "gy"), IntegerType, Seq("gx", "gy"))
  }

  /** Full hillshade (azdeg 315, altdeg 45 like the reference default,
    * grid_show.py:136-158): illumination = cos(slope)cos(alt-complement)…
    * standard GIS formula over the Horn gradient, computed in the gradient
    * kernel. Trig makes it unsuitable for cross-engine hash oracles;
    * parity is tested against RefKernel. */
  def hillshade(tiles: Dataset[Tile], ref: GridRef, res: Int,
      azdeg: Double = 315.0, altdeg: Double = 45.0): DataFrame = {
    import tiles.sparkSession.implicits._
    val cs = ref.cellsize
    val az = math.toRadians(360.0 - azdeg + 90.0)
    val alt = math.toRadians(altdeg)
    val blocks = padded(tiles, ref, res).map { pt =>
      val (gx, gy) = hornPlanes(pt, cs)
      (pt.row0, pt.col0, pt.w, Array.tabulate(gx.length) { i =>
        val slope = math.atan(math.hypot(gx(i), gy(i)))
        val aspect = math.atan2(gy(i), -gx(i))
        val shade = math.sin(alt) * math.cos(slope) +
          math.cos(alt) * math.sin(slope) * math.cos(az - aspect)
        math.max(0.0, math.min(1.0, shade)) // NaN where gx is NaN
      })
    }
    CellView(blocks.toDF("row0", "col0", "w", "shade"), IntegerType, Seq("shade"))
  }

  /** MULTIDIRECTIONAL hillshade over the Horn gradient — the
    * soft-shadow rendering pass (GDAL `-multidirectional` family): the
    * mean of four Lambertian shades lit from azimuths 225/270/315/360
    * deg at altitude 45. Formulated WITHOUT transcendentals — shade_az =
    * max(0, (sin_alt - cos_alt*(gx*sin_az + gy*cos_az)) /
    * sqrt(1 + gx^2 + gy^2)), the light-vector dot unit-normal with
    * every constant one of {0, +-1, +-sqrt(0.5)} — so unlike
    * [[hillshade]] (libm trig, last-ulp engine divergence) every value
    * is a chain of correctly-rounded IEEE ops and the surface
    * cross-engine HASH-gates (r65). Entirely declarative codegen'd
    * Columns over [[hornGradient]]: one whole-stage span, no second
    * kernel, no extra shuffle. */
  def multidirShade(grad: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val s45 = math.sqrt(0.5) // sin 45 = cos 45; also |sin/cos| of 225/315
    def shade(sinAz: Double, cosAz: Double) =
      greatest(lit(0.0),
        (lit(s45) - lit(s45) * (col("gx") * lit(sinAz) + col("gy") * lit(cosAz))) /
          sqrt(lit(1.0) + col("gx") * col("gx") + col("gy") * col("gy")))
    grad.withColumn("shade",
      (shade(-s45, -s45) + shade(-1.0, 0.0) + shade(-s45, s45) +
        shade(0.0, 1.0)) / lit(4.0))
  }

  /** Slope/aspect classification over the Horn gradient (W1): per interior
    * pixel, `tan2_slope` = gx^2 + gy^2 (tan^2 of the slope angle — kept
    * rational: no sqrt/atan so a SQL oracle is bit-exact) and the aspect
    * classified into 8 compass sectors with boundaries at 22.5 deg
    * (tan(pi/8) as a shared double literal; downslope direction =
    * -gradient). Flat pixels (gx = gy = 0) get octant -1 / "FLAT".
    * Entirely declarative: codegen'd Column expressions over
    * [[hornGradient]] — one whole-stage span, no second kernel. */
  def aspectClass(tiles: Dataset[Tile], ref: GridRef, res: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val t = 0.4142135623730951 // tan(pi/8), shared literal with the oracle
    val g = hornGradient(tiles, ref, res)
    // downslope (aspect) direction: water flows along -grad
    val dx = -col("gx"); val dy = -col("gy")
    val adx = abs(dx); val ady = abs(dy)
    val octant = when(col("gx") === 0.0 && col("gy") === 0.0, -1)
      .when(ady <= adx * t, when(dx > 0, 2).otherwise(6))          // E / W
      .when(adx <= ady * t, when(dy > 0, 0).otherwise(4))          // N / S
      .otherwise(when(dy > 0, when(dx > 0, 1).otherwise(7))        // NE / NW
        .otherwise(when(dx > 0, 3).otherwise(5)))                  // SE / SW
    val compass = element_at(
      array(Seq("N", "NE", "E", "SE", "S", "SW", "W", "NW").map(lit): _*),
      octant + 1) // 1-based; the -1 (flat) branch never reaches here —
                  // CaseWhen below evaluates this arm only when octant >= 0
    g.withColumn("tan2_slope", col("gx") * col("gx") + col("gy") * col("gy"))
      .withColumn("octant", octant.cast("int"))
      .withColumn("compass",
        when(col("octant") === -1, "FLAT").otherwise(compass))
      .select("row", "col", "tan2_slope", "octant", "compass")
  }

  /** Zevenbergen & Thorne (1987) quadratic-surface curvature over the 3x3
    * neighborhood (the terrain derivative the reference's flood users
    * compute right after slope; pairs with [[hornGradient]] W1). With the
    * partial quadratic z = Dx^2 + Ey^2 + Fxy + Gx + Hy + I fitted to the
    * 8-neighborhood at spacing L = cellsize:
    *
    *   D = ((left + right)/2 - z) / L^2      E = ((top + bottom)/2 - z) / L^2
    *   F = (-tl + tr + bl - br) / (4 L^2)    G = (-left + right) / (2 L)
    *   H = (top - bottom) / (2 L)
    *
    * Outputs per fully-valid interior pixel:
    *   curv = -2 (D + E)                       (ArcGIS CURVATURE, x100 omitted)
    *   prof = 2 (D G^2 + E H^2 + F G H) / (G^2 + H^2)   (0 on flats)
    *   plan = -2 (D H^2 + E G^2 - F G H) / (G^2 + H^2)  (0 on flats)
    *
    * Pure rational arithmetic in a fixed textual order — every step is a
    * correctly-rounded IEEE op, so a SQL oracle spelling the identical
    * expressions is bit-exact (same argument as hornGradient; no trig).
    * NaN anywhere in the 3x3 -> no output row. One halo exchange. */
  def curvature(tiles: Dataset[Tile], ref: GridRef, res: Int): DataFrame = {
    import tiles.sparkSession.implicits._
    val cs = ref.cellsize
    val blocks = padded(tiles, ref, res).map { pt =>
      val h = pt.h; val w = pt.w; val pw = w + 2
      val pad = pt.pad
      val (curvs, profs, plans) =
        (Array.fill(h * w)(Double.NaN), new Array[Double](h * w), new Array[Double](h * w))
      var r = 1
      while (r <= h) {
        var c = 1
        while (c <= w) {
          val tl = pad((r - 1) * pw + (c - 1)); val tp = pad((r - 1) * pw + c); val tr = pad((r - 1) * pw + (c + 1))
          val l = pad(r * pw + (c - 1)); val z = pad(r * pw + c); val rt = pad(r * pw + (c + 1))
          val bl = pad((r + 1) * pw + (c - 1)); val bt = pad((r + 1) * pw + c); val br = pad((r + 1) * pw + (c + 1))
          if (!(tl.isNaN || tp.isNaN || tr.isNaN || l.isNaN || z.isNaN || rt.isNaN ||
            bl.isNaN || bt.isNaN || br.isNaN)) {
            val dd = ((l + rt) / 2 - z) / (cs * cs)
            val ee = ((tp + bt) / 2 - z) / (cs * cs)
            val ff = (-tl + tr + bl - br) / (4 * cs * cs)
            val gg = (-l + rt) / (2 * cs)
            val hh = (tp - bt) / (2 * cs)
            val den = gg * gg + hh * hh
            val i = (r - 1) * w + c - 1
            curvs(i) = -2 * (dd + ee)
            profs(i) = if (den == 0) 0.0 else 2 * (dd * gg * gg + ee * hh * hh + ff * gg * hh) / den
            plans(i) = if (den == 0) 0.0 else -2 * (dd * hh * hh + ee * gg * gg - ff * gg * hh) / den
          }
          c += 1
        }
        r += 1
      }
      (pt.row0, pt.col0, w, curvs, profs, plans)
    }
    CellView(blocks.toDF("row0", "col0", "w", "curv", "prof", "plan"), LongType,
      Seq("curv", "prof", "plan"))
  }

  /** Focal terrain indices over the valid 8-neighborhood:
    * TPI (topographic position index, Weiss 2001) = `z - mean(neighbors)`;
    * TRI (terrain ruggedness index, Riley et al. 1999) =
    * `sqrt(sum((z - zn)^2))`. Cells with zero valid neighbors emit
    * nothing. Hash-exact cross-engine: the dyadic fixture makes every
    * square and sum exact, and mean/sqrt of identical exact operands are
    * identical correctly-rounded doubles in any IEEE engine. */
  def terrainIndices(tiles: Dataset[Tile], ref: GridRef, res: Int): DataFrame = {
    import tiles.sparkSession.implicits._
    val offsets = Array((0, 1), (1, 1), (1, 0), (1, -1), (0, -1), (-1, -1), (-1, 0), (-1, 1))
    val blocks = padded(tiles, ref, res).map { pt =>
      val (tpis, tris) = (Array.fill(pt.h * pt.w)(Double.NaN), new Array[Double](pt.h * pt.w))
      var r = 0
      while (r < pt.h) {
        var c = 0
        while (c < pt.w) {
          val z = pt.at(pt.row0 + r, pt.col0 + c)
          if (!z.isNaN) {
            var s = 0.0
            var s2 = 0.0
            var n = 0
            var k = 0
            while (k < 8) {
              val zn = pt.at(pt.row0 + r + offsets(k)._1, pt.col0 + c + offsets(k)._2)
              if (!zn.isNaN) { s += zn; s2 += (z - zn) * (z - zn); n += 1 }
              k += 1
            }
            if (n > 0) { tpis(r * pt.w + c) = z - s / n; tris(r * pt.w + c) = math.sqrt(s2) }
          }
          c += 1
        }
        r += 1
      }
      (pt.row0, pt.col0, pt.w, tpis, tris)
    }
    CellView(blocks.toDF("row0", "col0", "w", "tpi", "tri"), LongType, Seq("tpi", "tri"))
  }
}
