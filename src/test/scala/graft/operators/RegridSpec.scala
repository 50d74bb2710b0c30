package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.Raster
import graft.corpus.Synth
import scala.collection.mutable

/** Parity for the wave-4 operators: bilinear regrid, gather resample,
  * vectorize component stats — all vs the RefKernel oracle. */
class RegridSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import graft.core.{Fixtures => F}

  test("bilinear regrid matches oracle exactly (incl. NaN corners)") {
    val dem = TileOps.tileGrid(spark, Synth.demRef, 6)(Synth.demValue)
    val got = Bilinear.resample(dem, Synth.demRef, Synth.resampleTargetRef, 6)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    val oracle = RefKernel.resampleBilinear(F.demGrid, Synth.resampleTargetRef)
    assert(got.size == Synth.resampleTargetRef.numCells)
    for (r <- 0 until oracle.ref.nrows; c <- 0 until oracle.ref.ncols) {
      val w = oracle(r, c)
      val g = got((r, c))
      assert(g == w || (g.isNaN && w.isNaN), s"($r,$c): $g vs $w")
    }
  }

  test("gather resample-nearest matches oracle (r6 target)") {
    val dem = TileOps.tileGrid(spark, Synth.demRef, 6)(Synth.demValue)
    val got = Gather.resampleNearest(dem, Synth.demRef, Synth.resampleTargetRef, 6,
        clamp = false)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    val oracle = RefKernel.resampleNearest(F.demGrid, Synth.resampleTargetRef)
    for (r <- 0 until oracle.ref.nrows; c <- 0 until oracle.ref.ncols) {
      val w = oracle(r, c)
      val g = got((r, c))
      assert(g == w || (g.isNaN && w.isNaN), s"($r,$c)")
    }
  }

  test("downsample window-agg kernels match per-window direct computation (W2)") {
    val dem = TileOps.tileGrid(spark, Synth.demRef, 6)(Synth.demValue)
    val f = 4
    val ref = Synth.demRef
    val tNrows = (ref.nrows + f - 1) / f
    val tNcols = (ref.ncols + f - 1) / f
    // independent per-window expected values straight off the fixture fn
    def window(tr: Int, tc: Int): Array[Double] = (for {
      r <- tr * f until math.min((tr + 1) * f, ref.nrows)
      c <- tc * f until math.min((tc + 1) * f, ref.ncols)
      v = Synth.demValue(r, c) if !v.isNaN
    } yield v).toArray
    def quant(xs: Array[Double], p: Double): Double = {
      val s = xs.sorted
      val pos = p * (s.length - 1)
      val lo = math.floor(pos).toInt
      val frac = pos - lo
      if (frac == 0) s(lo) else s(lo) + frac * (s(lo + 1) - s(lo))
    }
    val expect: String => (Array[Double] => Double) = {
      case "average" => xs => xs.sum / xs.length
      case "max" => xs => xs.max
      case "min" => xs => xs.min
      case "med" => xs => quant(xs, 0.5)
      case "q1" => xs => quant(xs, 0.25)
      case "q3" => xs => quant(xs, 0.75)
      case "mode" => xs =>
        xs.groupBy(identity).toSeq.map { case (v, g) => (-g.length, v) }.min._2
    }
    for (m <- Downsample.methods) {
      val got = Downsample.stats(dem, ref, 6, f, m)
        .collect().map(r => (r.getInt(0), r.getInt(1)) ->
          (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
      assert(got.size == tNrows * tNcols, m)
      for (tr <- 0 until tNrows; tc <- 0 until tNcols) {
        val w = window(tr, tc)
        val e = if (w.isEmpty) Double.NaN else expect(m)(w)
        val g = got((tr, tc))
        assert(g == e || (g.isNaN && e.isNaN), s"$m ($tr,$tc): $g vs $e")
      }
    }
  }

  test("assign_to clamp: out-of-source targets take edge values (W4)") {
    val src = TileOps.tileGrid(spark, Synth.gridARef, 6)(Synth.gridAValue)
    val outside = GridRef(10, 10, Synth.gridARef.right + 100,
      Synth.gridARef.top + 100, 5) // fully outside, clamps to NE corner area
    val got = Gather.resampleNearest(src, Synth.gridARef, outside, 6, clamp = true)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    val oracle = RefKernel.assignTo(F.gridA, outside)
    assert(got.size == outside.numCells)
    for (r <- 0 until outside.nrows; c <- 0 until outside.ncols) {
      val w = oracle(r, c)
      val g = got((r, c))
      assert(g == w || (g.isNaN && w.isNaN), s"($r,$c)")
    }
  }

  test("grid_interpolate nearest == point_interpolate over exploded cells (J6)") {
    // sparse source grid: a handful of valid cells become the point cloud
    val srcRef = GridRef(40, 40, 0, 0, 1)
    def sparse(r: Int, c: Int): Double =
      if ((r * 7 + c * 3) % 41 == 5) ((r * 29 + c) % 50).toDouble else Double.NaN
    val src = TileOps.tileGrid(spark, srcRef, 5)(sparse)
    val target = GridRef(20, 20, 0, 0, 2)
    val got = Raster(src, srcRef, 5).gridInterpolate(target, "nearest")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    // oracle: brute nearest over the same exploded points
    val pts = for {
      r <- 0 until srcRef.nrows; c <- 0 until srcRef.ncols
      v = sparse(r, c) if !v.isNaN
    } yield (r.toLong * srcRef.ncols + c, srcRef.sub2map(r, c)._1, srcRef.sub2map(r, c)._2, v)
    val oracle = RefKernel.nearestInterp(target,
      pts.map(_._2).toArray, pts.map(_._3).toArray, pts.map(_._4).toArray)
    for (r <- 0 until target.nrows; c <- 0 until target.ncols)
      assert(got((r, c)) == oracle(r, c), s"($r,$c)")
  }

  test("grid_interpolate linear == driver-global Delaunay over exploded cells (J6)") {
    val srcRef = GridRef(40, 40, 0, 0, 1)
    def sparse(r: Int, c: Int): Double =
      if ((r * 7 + c * 3) % 41 == 5) ((r * 29 + c) % 50).toDouble else Double.NaN
    val src = TileOps.tileGrid(spark, srcRef, 5)(sparse)
    val target = GridRef(20, 20, 0, 0, 2)
    val got = Raster(src, srcRef, 5).gridInterpolate(target, "linear")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val pts = (for {
      r <- 0 until srcRef.nrows; c <- 0 until srcRef.ncols
      v = sparse(r, c) if !v.isNaN
    } yield PtRec(r.toLong * srcRef.ncols + c,
      srcRef.sub2map(r, c)._1, srcRef.sub2map(r, c)._2, v)).toArray
    val want = Delaunay.interpolateGridLocal(pts, target)
    assert(got.size == target.numCells)
    var inHull = 0
    for (r <- 0 until target.nrows; c <- 0 until target.ncols) {
      val w = want(r * target.ncols + c)
      val g = got((r, c))
      if (w.isNaN) assert(g.isNaN, s"($r,$c): want NaN got $g")
      else { assert(math.abs(g - w) < 1e-9, s"($r,$c): want $w got $g"); inHull += 1 }
    }
    assert(inHull > 100, s"hull too small: $inHull")
  }

  test("grid_interpolate cubic == driver-global Clough-Tocher over exploded cells (J6)") {
    val srcRef = GridRef(40, 40, 0, 0, 1)
    def sparse(r: Int, c: Int): Double =
      if ((r * 7 + c * 3) % 41 == 5) ((r * 29 + c) % 50).toDouble else Double.NaN
    val src = TileOps.tileGrid(spark, srcRef, 5)(sparse)
    val target = GridRef(20, 20, 0, 0, 2)
    val got = Raster(src, srcRef, 5).gridInterpolate(target, "cubic")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val pts = (for {
      r <- 0 until srcRef.nrows; c <- 0 until srcRef.ncols
      v = sparse(r, c) if !v.isNaN
    } yield PtRec(r.toLong * srcRef.ncols + c,
      srcRef.sub2map(r, c)._1, srcRef.sub2map(r, c)._2, v)).toArray
    val want = Delaunay.interpolateGridLocalCubic(pts, target)
    assert(got.size == target.numCells)
    var inHull = 0
    for (r <- 0 until target.nrows; c <- 0 until target.ncols) {
      val w = want(r * target.ncols + c)
      val g = got((r, c))
      if (w.isNaN) assert(g.isNaN, s"($r,$c): want NaN got $g")
      else { assert(math.abs(g - w) < 1e-9, s"($r,$c): want $w got $g"); inHull += 1 }
    }
    assert(inHull > 100, s"hull too small: $inHull")
  }

  test("vectorize component stats match single-threaded BFS oracle") {
    val blocky = TileOps.tileGrid(spark, Synth.gridARef, 6)(Synth.blockyValue)
    val got = Vectorize.componentStats(blocky, Synth.gridARef, 6)
      .collect().map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
    val data = Array.tabulate(Synth.gridARef.ncols * Synth.gridARef.nrows)(i =>
      Synth.blockyValue(i / Synth.gridARef.ncols, i % Synth.gridARef.ncols))
    val want = RefKernel.componentStats(RefKernel.Grid(Synth.gridARef, data))
    assert(got == want, s"got=$got\nwant=$want")
  }

  test("vectorize is partitioning-invariant (seam merge correctness)") {
    // a finer tile size forces many more seams; counts must not change
    val blocky4 = TileOps.tileGrid(spark, Synth.gridARef, 4)(Synth.blockyValue)
    val blocky6 = TileOps.tileGrid(spark, Synth.gridARef, 6)(Synth.blockyValue)
    val a = Vectorize.componentStats(blocky4, Synth.gridARef, 4)
      .collect().map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
    val b = Vectorize.componentStats(blocky6, Synth.gridARef, 6)
      .collect().map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(a == b)
  }

  test("merge with cellsize mismatch: resample-to-target + NaN-skipping scatter (J2)") {
    // origin: 10m grid overlapping the 5m gridA target (Raster.py:884-894)
    val oRef = GridRef(45, 35, 250, 150, 10)
    def oVal(r: Int, c: Int): Double =
      if ((r * 45 + c) % 31 == 4) Double.NaN else ((r * 7 + c * 3) % 60) / 4.0
    val base = TileOps.tileGrid(spark, Synth.gridARef, 6)(Synth.gridAValue)
    val over = TileOps.tileGrid(spark, oRef, 6)(oVal)
    val got = TileOps.cells(Regrid.mergeInto(base, Synth.gridARef, over, oRef, 6))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    assert(got.size == Synth.gridARef.numCells)
    // oracle: single-threaded bilinear resample to 5m (dims = rint(n*2)),
    // then per-cell map2sub scatter skipping NaN — the reference merge loop
    val oGrid = RefKernel.Grid(oRef,
      Array.tabulate(45 * 35)(i => oVal(i / 45, i % 45)))
    val ref2 = GridRef(90, 70, 250, 150, 5)
    val rs = RefKernel.resampleBilinear(oGrid, ref2)
    val out = Array.tabulate(80 * 100)(i => Synth.gridAValue(i / 100, i % 100))
    for (r <- 0 until 70; c <- 0 until 90) {
      val v = rs(r, c)
      if (!v.isNaN) {
        val (x, y) = ref2.sub2map(r, c)
        val (tr, tc) = Synth.gridARef.map2sub(x, y)
        if (tr >= 0 && tr < 80 && tc >= 0 && tc < 100) out(tr * 100 + tc) = v
      }
    }
    for (r <- 0 until 80; c <- 0 until 100) {
      val e = out(r * 100 + c)
      val g = got((r, c))
      assert(g == e || (g.isNaN && e.isNaN), s"($r,$c): $g vs $e")
    }
  }

  test("vectorize distributed min-label propagation == driver union-find") {
    import spark.implicits._
    val blocky = TileOps.tileGrid(spark, Synth.gridARef, 6)(Synth.blockyValue)
    val viaDriver = Vectorize.componentStats(blocky, Synth.gridARef, 6)
      .as[(Double, Long, Long)].collect().toSet
    val viaPropagation = Vectorize
      .componentStats(blocky, Synth.gridARef, 6, driverLimit = 0L)
      .as[(Double, Long, Long)].collect().toSet
    assert(viaPropagation == viaDriver)

    // full polygons under driverLimit=0: the (g -> root) mapping is joined
    // (never collected), on a fixture with a few hundred seam labels —
    // result must equal the driver-UF path row for row (WKT included)
    val polyDriver = Vectorize.polygons(blocky, Synth.gridARef, 6)
      .collect().map(_.toSeq).toSet
    val polyJoin = Vectorize.polygons(blocky, Synth.gridARef, 6, driverLimit = 0L)
      .collect().map(_.toSeq).toSet
    assert(polyJoin == polyDriver)
    assert(polyJoin.nonEmpty)
  }

  test("convolution kernels (cubic/cubic_spline/lanczos/gauss) == direct computation") {
    val dem = TileOps.tileGrid(spark, Synth.demRef, 6)(Synth.demValue)
    val src = Synth.demRef
    val dst = Synth.resampleTargetRef
    for (m <- Convolve.methods) {
      val rad = Convolve.radius(m)
      val got = Convolve.resample(dem, src, dst, 6, m)
        .collect().map(r => (r.getInt(0), r.getInt(1)) ->
          (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
      assert(got.size == dst.numCells, m)
      for (tr <- 0 until dst.nrows; tc <- 0 until dst.ncols) {
        val (x, y) = dst.sub2map(tr, tc)
        val (fr, fc) = src.map2subFrac(x, y)
        val r0 = math.floor(fr).toInt - (rad - 1)
        val c0 = math.floor(fc).toInt - (rad - 1)
        var num = 0.0; var den = 0.0; var any = false
        for (r <- r0 until r0 + 2 * rad; c <- c0 until c0 + 2 * rad
             if r >= 0 && r < src.nrows && c >= 0 && c < src.ncols) {
          val w = Convolve.weight(m, math.abs(fr - r)) *
            Convolve.weight(m, math.abs(fc - c))
          val v = Synth.demValue(r, c)
          if (w != 0.0 && !v.isNaN) { num += w * v; den += w; any = true }
        }
        val e = if (!any || den == 0.0) Double.NaN else num / den
        val g = got((tr, tc))
        assert(g == e || (g.isNaN && e.isNaN) ||
          math.abs(g - e) < 1e-9, s"$m ($tr,$tc): $g vs $e")
      }
    }
    // kernel sanity: interpolating kernels reproduce constants exactly and
    // hit the sample at integer offsets
    assert(Convolve.weight("cubic", 0.0) == 1.0)
    assert(Convolve.weight("cubic", 1.0) == 0.0)
    assert(Convolve.weight("lanczos", 0.0) == 1.0)
    assert(math.abs(Convolve.weight("lanczos", 1.0)) < 1e-15)
  }

  test("reproject warp (W5): distributed nearest gather == direct per-pixel transform") {
    val ref = Synth.demRef.withEpsg(27700)
    val dem = TileOps.tileGrid(spark, ref, 6)(Synth.demValue)
    val (warped, dstRef) = Reproject.warp(dem, ref, 32630, 6)
    assert(dstRef.epsg == 32630)
    // cal_tsf-ish: similar pixel budget, square cells
    assert(math.abs(dstRef.cellsize - ref.cellsize) / ref.cellsize < 0.05)
    val got = TileOps.cells(warped)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    assert(got.size == dstRef.numCells)
    val src = Proj.fromEpsg(27700)
    val dst = Proj.fromEpsg(32630)
    var valid = 0
    for (r <- 0 until dstRef.nrows; c <- 0 until dstRef.ncols) {
      val (x, y) = dstRef.sub2map(r, c)
      val (sx, sy) = Proj.transform(dst, src, x, y)
      val (sr, sc) = ref.map2sub(sx, sy)
      val e =
        if (sr >= 0 && sr < ref.nrows && sc >= 0 && sc < ref.ncols)
          Synth.demValue(sr, sc)
        else Double.NaN
      val g = got((r, c))
      assert(g == e || (g.isNaN && e.isNaN), s"($r,$c): $g vs $e")
      if (!e.isNaN) valid += 1
    }
    assert(valid > dstRef.numCells / 2, s"only $valid valid pixels")
  }

  test("vectorize polygons: even-odd rasterization recovers each component's exact pixel set") {
    import spark.implicits._
    val ref = Synth.gridARef
    val blocky = TileOps.tileGrid(spark, ref, 6)(Synth.blockyValue)
    val polys = Vectorize.polygons(blocky, ref, 6)
      .select("feature_id", "v", "n_pixels", "wkt")
      .as[(Long, Double, Long, String)].collect()

    // single-threaded BFS components straight off the fixture fn
    val vals = Array.tabulate(ref.nrows, ref.ncols)(Synth.blockyValue)
    val comp = Array.fill(ref.nrows, ref.ncols)(-1)
    var nComp = 0
    val compPixels = mutable.ArrayBuffer[mutable.Set[(Int, Int)]]()
    for (r <- 0 until ref.nrows; c <- 0 until ref.ncols
         if comp(r)(c) < 0 && !vals(r)(c).isNaN) {
      val id = nComp; nComp += 1
      val pix = mutable.Set[(Int, Int)]()
      val q = mutable.Queue((r, c))
      comp(r)(c) = id
      while (q.nonEmpty) {
        val (rr, cc) = q.dequeue()
        pix += ((rr, cc))
        for ((dr, dc) <- Seq((-1, 0), (1, 0), (0, -1), (0, 1))) {
          val (r2, c2) = (rr + dr, cc + dc)
          if (r2 >= 0 && r2 < ref.nrows && c2 >= 0 && c2 < ref.ncols &&
            comp(r2)(c2) < 0 && vals(r2)(c2) == vals(rr)(cc)) {
            comp(r2)(c2) = id
            q += ((r2, c2))
          }
        }
      }
      compPixels += pix
    }
    assert(polys.length == nComp)

    // parse WKT rings back to pixel-corner coords
    def parse(wkt: String): Array[Array[(Double, Double)]] =
      wkt.stripPrefix("POLYGON (").stripSuffix(")")
        .split("\\), \\(").map(_.stripPrefix("(").stripSuffix(")")
          .split(", ").map { p =>
            val Array(x, y) = p.split(" ")
            (x.toDouble, y.toDouble)
          })
    // even-odd PIP over all rings, in map coords
    def inside(px: Double, py: Double, rings: Array[Array[(Double, Double)]]): Boolean = {
      var crossings = 0
      for (ring <- rings; i <- 1 until ring.length) {
        val (x1, y1) = ring(i - 1)
        val (x2, y2) = ring(i)
        if ((y1 > py) != (y2 > py) &&
          px < (x2 - x1) * (py - y1) / (y2 - y1) + x1) crossings += 1
      }
      crossings % 2 == 1
    }
    val byFeature = polys.map(p => p._1 -> p).toMap
    for (pix <- compPixels) {
      val fid = pix.map { case (r, c) => r.toLong * ref.ncols + c }.min
      val (_, v, nPix, wkt) = byFeature(fid)
      assert(nPix == pix.size, s"feature $fid")
      assert(v == vals(pix.head._1)(pix.head._2), s"feature $fid")
      val rings = parse(wkt)
      // every pixel center of the component is inside; a ring-bbox sample
      // of outside pixels is outside
      for ((r, c) <- pix) {
        val (x, y) = ref.sub2map(r, c)
        assert(inside(x, y, rings), s"feature $fid pixel ($r,$c) not inside")
      }
      val rs = pix.map(_._1); val cs = pix.map(_._2)
      for (r <- math.max(0, rs.min - 1) to math.min(ref.nrows - 1, rs.max + 1);
           c <- math.max(0, cs.min - 1) to math.min(ref.ncols - 1, cs.max + 1)
           if !pix.contains((r, c))) {
        val (x, y) = ref.sub2map(r, c)
        assert(!inside(x, y, rings), s"feature $fid pixel ($r,$c) wrongly inside")
      }
    }
  }

  test("r23 edge decomposition: WKT-parsed unit edges == mask boundary edges") {
    val ref = Synth.gridARef
    val got = graft.SparkEntry.select(Seq("r23_vectorize_edges")).head.run(spark, "")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    // direct oracle off the fixture fn: BFS component roots (min global
    // pixel index) + every pixel side whose 4-neighbor is NaN/off-grid or
    // a different value, normalized min-endpoint-first
    val vals = Array.tabulate(ref.nrows, ref.ncols)(Synth.blockyValue)
    val root = Array.fill(ref.nrows, ref.ncols)(-1L)
    for (r <- 0 until ref.nrows; c <- 0 until ref.ncols
         if root(r)(c) < 0 && !vals(r)(c).isNaN) {
      val pix = mutable.ArrayBuffer[(Int, Int)]()
      val q = mutable.Queue((r, c))
      root(r)(c) = 0 // mark visited
      while (q.nonEmpty) {
        val (rr, cc) = q.dequeue()
        pix += ((rr, cc))
        for ((dr, dc) <- Seq((-1, 0), (1, 0), (0, -1), (0, 1))) {
          val (r2, c2) = (rr + dr, cc + dc)
          if (r2 >= 0 && r2 < ref.nrows && c2 >= 0 && c2 < ref.ncols &&
            root(r2)(c2) < 0 && vals(r2)(c2) == vals(rr)(cc)) {
            root(r2)(c2) = 0
            q += ((r2, c2))
          }
        }
      }
      val fid = pix.map { case (pr, pc) => pr.toLong * ref.ncols + pc }.min
      pix.foreach { case (pr, pc) => root(pr)(pc) = fid }
    }
    val want = mutable.Set[(Long, Long, Long, Long, Long)]()
    for (r <- 0 until ref.nrows; c <- 0 until ref.ncols if !vals(r)(c).isNaN) {
      val fid = root(r)(c)
      def diff(r2: Int, c2: Int): Boolean =
        r2 < 0 || r2 >= ref.nrows || c2 < 0 || c2 >= ref.ncols ||
          vals(r2)(c2).isNaN || vals(r2)(c2) != vals(r)(c)
      if (diff(r - 1, c)) want += ((fid, c.toLong, r.toLong, c + 1L, r.toLong))
      if (diff(r + 1, c)) want += ((fid, c.toLong, r + 1L, c + 1L, r + 1L))
      if (diff(r, c - 1)) want += ((fid, c.toLong, r.toLong, c.toLong, r + 1L))
      if (diff(r, c + 1)) want += ((fid, c + 1L, r.toLong, c + 1L, r + 1L))
    }
    assert(got.size == want.size, s"${got.size} != ${want.size}")
    assert(got == want)
  }

  test("hillshade runs end-to-end and is bounded [0,1]") {
    val dem = TileOps.tileGrid(spark, Synth.demRef, 6)(Synth.demValue)
    val rows = Stencil.hillshade(dem, Synth.demRef, 6).collect()
    assert(rows.length > 25000)
    assert(rows.forall { r => val s = r.getDouble(2); s >= 0.0 && s <= 1.0 })
  }

  test("multidirShade: bounded, flat cells shade sqrt(0.5), == driver formula") {
    val dem = TileOps.tileGrid(spark, Synth.demRef, 6)(Synth.demValue)
    val g = Stencil.hornGradient(dem, Synth.demRef, 6)
    val rows = Stencil.multidirShade(g).collect()
    assert(rows.length == g.count())
    val s45 = math.sqrt(0.5)
    def sh(gx: Double, gy: Double, sa: Double, ca: Double): Double =
      math.max(0.0,
        (s45 - s45 * (gx * sa + gy * ca)) /
          math.sqrt(1.0 + gx * gx + gy * gy))
    rows.foreach { r =>
      val gx = r.getDouble(2); val gy = r.getDouble(3)
      val s = r.getDouble(4)
      assert(s >= 0.0 && s <= 1.0)
      val want = (sh(gx, gy, -s45, -s45) + sh(gx, gy, -1.0, 0.0) +
        sh(gx, gy, -s45, s45) + sh(gx, gy, 0.0, 1.0)) / 4.0
      assert(s == want, s"(${r.get(0)},${r.get(1)})")
      if (gx == 0.0 && gy == 0.0) assert(s == s45)
    }
  }
}
