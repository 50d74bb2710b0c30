package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.corpus.Synth
import graft.operators.PtRec

/** End-to-end exercise of the user-facing Raster facade: every method
  * routes to an operator that carries its own correctness gate, so these
  * tests pin the WIRING (refs, windows, delegation) plus a few
  * closed-form results. */
class RasterApiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val dem: Raster = Raster.fromGrid(spark, Synth.demRef)(Synth.demValue)

  test("rect_clip rebases onto the clipped header exactly") {
    val clipped = dem.rectClip(Synth.tutorialClip)
    val (r0, r1, c0, c1) = Synth.demRef.clipWindow(Synth.tutorialClip)
    assert(clipped.ref == Synth.demRef.windowRef(r0, r1, c0, c1))
    val arr = clipped.toArray
    var checked = 0
    for (r <- r0 to r1; c <- c0 to c1) {
      val e = Synth.demValue(r, c)
      val g = arr((r - r0) * clipped.ref.ncols + (c - c0))
      assert(g == e || (g.isNaN && e.isNaN), s"($r,$c)")
      checked += 1
    }
    assert(checked == clipped.ref.numCells)
  }

  test("combine: union extent, later raster wins; merge keeps base header") {
    val a = Raster.fromGrid(spark, Synth.gridARef)(Synth.gridAValue)
    val b = Raster.fromGrid(spark, Synth.gridBRef)(Synth.gridBValue)
    val m = a.combine(b)
    assert(m.ref.left == 0 && m.ref.bottom == 0)
    assert(m.ref.right == Synth.gridBRef.right && m.ref.top == Synth.gridBRef.top)
    // overlap cell: B (seq 1) wins where both valid
    val arr = m.toArray
    val (bx, by) = Synth.gridBRef.sub2map(10, 10)
    val (mr, mc) = m.ref.map2sub(bx, by)
    assert(arr(mr * m.ref.ncols + mc) == Synth.gridBValue(10, 10))
    val merged = a.merge(b)
    assert(merged.ref == a.ref)
  }

  test("point_interpolate linear reproduces a plane through the facade") {
    val pts = spark.createDataset(
      Synth.delaunayPlanePoints(2.0, 0.5, 0.25).toSeq.map(p =>
        PtRec(p._1, p._2, p._3, p._4)))(
      org.apache.spark.sql.Encoders.product[PtRec])
    val knn = Raster(spark.emptyDataset(
      org.apache.spark.sql.Encoders.product[Tile]), Synth.knnRef, 5)
    val got = knn.pointInterpolate(pts, "linear").collect()
    assert(got.length == Synth.knnRef.numCells)
    got.foreach { row =>
      val r = row.getInt(0); val c = row.getInt(1); val v = row.getDouble(2)
      val (x, y) = Synth.knnRef.sub2map(r, c)
      assert(math.abs(v - (2.0 + 0.5 * x + 0.25 * y)) < 1e-5, s"($r,$c)")
    }
  }

  test("write_asc / from_asc and write_tif / from_tif round-trip") {
    val dir = Files.createTempDirectory("rasterapi")
    val asc = dir.resolve("d.asc").toString
    dem.writeAsc(asc)
    val back = Raster.fromAsc(spark, asc)
    assert(back.ref.ncols == dem.ref.ncols && back.ref.nrows == dem.ref.nrows)
    assert(java.util.Arrays.equals(back.toArray, dem.toArray))
    val tif = dir.resolve("d.tif").toString
    dem.writeTif(tif)
    val back2 = Raster.fromTif(spark, tif)
    // GeoTIFF payload is Float32 — compare at float precision
    back2.toArray.zip(dem.toArray).zipWithIndex.foreach { case ((g, e), i) =>
      assert((g.isNaN && e.isNaN) || math.abs(g - e) <= math.ulp(e.toFloat.toDouble),
        s"px $i")
    }
  }

  test("rasterize/editBy, classify, toInt, zipJoin, line2sub, stats wiring") {
    val burned = dem.rasterize(Synth.ca1Features, useAttr = true)
    assert(burned.count() > 0)
    val edited = dem.editBy(Synth.ca1Features)
    assert(edited.columns.toSeq == Seq("row", "col", "v", "burn"))
    assert(edited.count() == dem.ref.numCells)
    assert(dem.classify(Array(50.0, 100.0)).cells.count() == dem.ref.numCells)
    assert(dem.toInt.cells.count() == dem.ref.numCells)
    assert(dem.zipJoin(dem).count() == dem.ref.numCells)
    val (lx, ly) = Synth.fixtureLine
    val knnGrid = Raster.fromGrid(spark, Synth.knnRef, 5)((_, _) => 1.0)
    assert(knnGrid.line2sub(lx, ly).count() == 60) // r7's gated cell count
    val st = dem.stats.collect()(0)
    assert(st.getLong(3) > 0) // valid count
  }

  test("reproject via facade matches the operator; renderPng/makeGif/makeMp4 produce media") {
    val bng = dem.setCrs(27700)
    val warped = bng.reproject(32630)
    assert(warped.ref.epsg == 32630 && warped.ref.ncols > 0)
    assert(warped.cells.count() == warped.ref.numCells)
    val pngs = dem.renderPng(0, 250).collect()
    assert(pngs.nonEmpty && pngs.forall(_._2.length > 8))
    val dir = Files.createTempDirectory("rastermedia")
    val small = Raster.fromGrid(spark,
      GridRef(48, 32, 0, 0, 1), 5)((r, c) => ((r * 31 + c * 17) % 251).toDouble)
    Raster.makeGif(dir.resolve("m.gif").toString, Seq(small, small), 0, 250)
    Raster.makeMp4(dir.resolve("m.avi").toString, Seq(small, small), 0, 250)
    assert(Files.size(dir.resolve("m.gif")) > 100)
    assert(graft.sources.MjpegAvi.readFrameJpegs(
      Files.readAllBytes(dir.resolve("m.avi"))).length == 2)
    // XYZ pyramid: 64x64 grid at res 5 (32px tiles) -> z0: 2x2, z1: 1
    val pyr = Raster.fromGrid(spark, GridRef(64, 64, 0, 0, 1), 5)(
      (r, c) => ((r * 31 + c * 17) % 251).toDouble)
      .tilePyramidPng(levels = 2, 0, 251)
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        r.getAs[Array[Byte]](3)))
    assert(pyr.map(_._1).toSet ==
      Set((0L, 0L, 0L), (0L, 0L, 1L), (0L, 1L, 0L), (0L, 1L, 1L), (1L, 0L, 0L)))
    pyr.foreach { case (_, png) =>
      val (px, w, h) = graft.codecs.ImageCodec.decode(png, "png")
      assert(w == 32 && h == 32 && px.length == 1024)
    }
    // progressive fold == from-base downsample at every level, including
    // the odd-dimension fallback (26 -> 13 rows: level 2 re-bases)
    val oref = GridRef(40, 26, 0, 0, 1)
    val og = Raster.fromGrid(spark, oref, 5)(
      (r, c) => ((r * 7 + c * 3) % 97).toDouble)
    val opyr = og.tilePyramidPng(3, 0, 97).collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        r.getAs[Array[Byte]](3))).toMap
    (1 to 2).foreach { lvl =>
      val fromBase = graft.operators.Downsample.stats(
        og.tiles, oref, 5, 1 << lvl, "average")
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      fromBase.foreach { case ((row, col), v) =>
        val (tx, ty) = (col / 32, row / 32)
        val (px, w, _) = graft.codecs.ImageCodec.decode(
          opyr((lvl.toLong, tx.toLong, ty.toLong)), "png")
        val got = px((row - ty * 32) * w + (col - tx * 32))
        val want = Math.rint(v / 97.0 * 1000.0 * 64.0) / 64.0
        assert(got == want, s"level $lvl cell ($row,$col): $got vs $want")
      }
    }
    intercept[IllegalArgumentException] { og.tilePyramidPng(7, 0, 97) }

    // NaN holes + EVEN dims: the progressive fold would average partial
    // 2x2 windows equally at the next level (mean-of-means bias); the
    // pyramid must detect the holes and fall back to from-base
    // downsampling at every level (ADVICE r4 #1)
    val nref = GridRef(64, 64, 0, 0, 1)
    val ng = Raster.fromGrid(spark, nref, 5)((r, c) =>
      if ((r * 64 + c) % 19 == 3) Double.NaN
      else ((r * 7 + c * 3) % 97).toDouble)
    val npyr = ng.tilePyramidPng(3, 0, 97).collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        r.getAs[Array[Byte]](3))).toMap
    (1 to 2).foreach { lvl =>
      val fromBase = graft.operators.Downsample.stats(
        ng.tiles, nref, 5, 1 << lvl, "average")
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      fromBase.foreach { case ((row, col), v) =>
        val (tx, ty) = (col / 32, row / 32)
        val (px, w, _) = graft.codecs.ImageCodec.decode(
          npyr((lvl.toLong, tx.toLong, ty.toLong)), "png")
        val got = px((row - ty * 32) * w + (col - tx * 32))
        val want =
          if (v.isNaN) Double.NaN
          else Math.rint(v / 97.0 * 1000.0 * 64.0) / 64.0
        assert(got == want || (got.isNaN && want.isNaN),
          s"NaN pyramid level $lvl cell ($row,$col): $got vs $want")
      }
    }
  }

  test("tilePyramidPng's NaN probe fills a lazy cut of the caller's tiles in its first job") {
    for (holey <- Seq(false, true)) {
      val g = Raster.fromGrid(spark, GridRef(128, 64, 0, 0, 1), 5)((r, c) =>
        if (holey && (r * 128 + c) % 23 == 5) Double.NaN
        else ((r * 7 + c * 3) % 97).toDouble)
      val cut = g.tiles.localCheckpoint(false)
      val parts = cut.queryExecution.toRdd.getNumPartitions
      val (levels, starts) = org.apache.spark.JobStarts(spark.sparkContext) {
        Raster(cut, g.ref, 5).tilePyramidPng(2, 0, 97).collect().map(_.getLong(0))
      }
      val jobs = starts.map(_.stageInfos.map(_.numTasks))
      // 4 x 2 base tiles of 32 px; level 1 is 64 x 32 px: 2 x 1 tiles
      assert(levels.count(_ == 0L) == 8 && levels.count(_ == 1L) == 2, s"holey=$holey")
      // the probe is the cut's first reader: one task per partition
      assert(jobs.head == Seq(parts), s"holey=$holey: $jobs")
    }
  }

  test("resample family wiring: cellsize, window agg, convolution kernels") {
    val half = dem.resampleToCellsize(10.0, "nearest")
    assert(half.ref.cellsize == 10.0)
    assert(half.cells.count() == half.ref.numCells)
    assert(dem.resampleWindow(4, "average").count() > 0)
    assert(dem.resampleTo(Synth.resampleTargetRef, "cubic").count() ==
      Synth.resampleTargetRef.numCells)
    val vect = Raster.fromGrid(spark, Synth.gridARef)(Synth.blockyValue)
    assert(vect.componentStats.count() == 5)
    assert(vect.vectorize.count() > 0)
  }

  test("hydrology suite wiring: flow routing, watershed, fill, terrain indices") {
    import spark.implicits._
    val g = Raster.fromGrid(spark, Synth.gridARef, 5)(Synth.gridAValue)
    val valid = g.stats.collect()(0).getLong(3)
    assert(g.flowDir.count() == valid)
    assert(g.flowAcc.count() == valid)
    val ws = g.watershed
    assert(ws.columns.toSeq ==
      Seq("row", "col", "basin_r", "basin_c", "ncard", "ndiag"))
    assert(ws.count() == valid)
    assert(g.streamNetwork(threshold = 10L).count() > 0)
    assert(g.flowLength.count() == valid)
    assert(g.terrainIndices.count() > 0)
    // wetness composite: sca = acc*cs everywhere, spi = sca*slope, and
    // twi_arg only null on true flats (slope exactly 0)
    val tw = g.wetness
    assert(tw.columns.toSeq == Seq("row", "col", "sca", "slope", "spi", "twi_arg"))
    val twBad = tw.where($"sca" <= 0.0 ||
      ($"slope" =!= 0.0 && ($"twi_arg".isNull || $"spi" =!= $"sca" * $"slope")) ||
      ($"slope" === 0.0 && $"twi_arg".isNotNull)).count()
    assert(twBad == 0L, "wetness invariants violated")
    assert(tw.count() > 0)
    assert(g.contour(level = 12.125).count() > 0)
    // terrain derivative wiring: curvature + aspect route to the stencils
    val cv = g.curvature
    assert(cv.columns.toSeq == Seq("row", "col", "curv", "prof", "plan"))
    assert(cv.count() > 0)
    val asp = g.aspect
    assert(asp.columns.toSeq ==
      Seq("row", "col", "tan2_slope", "octant", "compass"))
    assert(asp.where($"compass".isNull).count() == 0)
    val vs = g.viewshed(Seq(graft.operators.Viewshed.Observer(0, 9, 9)),
      radius = 6)
    assert(vs.columns.toSeq == Seq("oid", "row", "col", "visible"))
    assert(vs.count() > 0)
    val dt = g.distanceTransform($"v" >= 15.0)
    assert(dt.columns.toSeq == Seq("row", "col", "dist2"))
    assert(dt.count() == g.ref.nrows.toLong * g.ref.ncols)
    assert(dt.where($"dist2" === 0).count() > 0)
    // filled surface: same georeference, fill >= z everywhere, real raises
    val filled = g.fillSinks
    assert(filled.ref == g.ref)
    // cells() canonicalizes NODATA NaN to SQL NULL — filter on nullness
    val joined = filled.cells.where($"v".isNotNull).select($"row", $"col", $"v".as("f"))
      .join(g.cells.where($"v".isNotNull).select($"row", $"col", $"v".as("z")),
        Seq("row", "col"))
      .select(($"f" >= $"z").as("ge"), ($"f" > $"z").as("gt"))
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.when($"ge", 0L).otherwise(1L)).as("below"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when($"gt", 1L).otherwise(0L)).as("raised"))
      .collect()(0)
    assert(joined.getLong(0) == 0L, "fill below terrain")
    assert(joined.getLong(1) > 0L, "nothing filled")
  }

  test("paste_on matches the reference kernel both ways incl. edge clipping") {
    val small = Raster.fromGrid(spark, Synth.pasteRef)(Synth.pasteValue)
    val demGrid = RefKernel.Grid(Synth.demRef,
      Array.tabulate(Synth.demRef.numCells.toInt)(i =>
        Synth.demValue(i / Synth.demRef.ncols, i % Synth.demRef.ncols)))
    val smallGrid = RefKernel.Grid(Synth.pasteRef,
      Array.tabulate(Synth.pasteRef.numCells.toInt)(i =>
        Synth.pasteValue(i / Synth.pasteRef.ncols, i % Synth.pasteRef.ncols)))
    for (ignoreNan <- Seq(true, false)) {
      val got = small.pasteOn(dem, ignoreNan)
      assert(got.ref == Synth.demRef)
      val want = RefKernel.pasteOn(demGrid, smallGrid, ignoreNan,
        index0Quirk = false).data
      assert(java.util.Arrays.equals(got.toArray, want), s"ignoreNan=$ignoreNan")
    }
  }

  test("to_points coordinates and axis stats match direct computation") {
    val ref = Synth.demRef
    val pts = dem.toPoints.collect()
    assert(pts.length == ref.numCells)
    pts.take(500).foreach { row =>
      val (r, c) = (row.getInt(0), row.getInt(1))
      assert(row.getDouble(2) == ref.left + (c + 0.5) * ref.cellsize)
      assert(row.getDouble(3) == ref.top - (r + 0.5) * ref.cellsize)
    }
    // per-row stats (axis=1) vs direct nanmin/nanmax/nanmedian
    val byRow = dem.statsAxis(1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(byRow.size == ref.nrows)
    for (r <- Seq(0, 7, 101, ref.nrows - 1)) {
      val vs = (0 until ref.ncols).map(Synth.demValue(r, _)).filterNot(_.isNaN).sorted
      val med = if (vs.length % 2 == 1) vs(vs.length / 2)
                else (vs(vs.length / 2 - 1) + vs(vs.length / 2)) / 2.0
      val (n, mn, mx, m) = byRow(r.toLong)
      assert(n == vs.length && mn == vs.head && mx == vs.last && m == med, s"row $r")
    }
    assert(dem.statsAxis(0).count() == ref.ncols)
  }

  test("map-algebra facade wiring: focal stats/extrema/median, pyramid, cost distance, KDE") {
    import org.apache.spark.sql.functions.col
    val ref = Synth.demRef
    // focal stats at an interior cell with a full hole-free 3x3 window
    val (tr, tc) = (100, 100)
    val win = for {
      r <- tr - 1 to tr + 1; c <- tc - 1 to tc + 1
      v = Synth.demValue(r, c) if !v.isNaN
    } yield (v * 4).toLong
    assert(win.size == 9, "pick a hole-free window for the closed form")
    val fs = dem.focalStats(k = 1, scale = 4)
      .filter(col("row") === tr && col("col") === tc).head()
    assert(fs.getLong(2) == 9L && fs.getLong(3) == win.sum)
    val fe = dem.focalExtrema(k = 1, scale = 4)
      .filter(col("row") === tr && col("col") === tc).head()
    assert(fe.getLong(2) == win.min && fe.getLong(3) == win.max)
    val sortedWin = win.sorted
    val fm = dem.focalMedian(k = 1, scale = 4)
      .filter(col("row") === tr && col("col") === tc).head()
    assert(fm.getDouble(2) == sortedWin(4).toDouble)
    // pyramid level-1 block (50, 25) = base cells rows 100-101, cols 50-51
    val blk = for {
      r <- 100 to 101; c <- 50 to 51
      v = Synth.demValue(r, c) if !v.isNaN
    } yield (v * 4).toLong
    val py = dem.pyramid(levels = 1, scale = 4)
      .filter(col("row") === 50 && col("col") === 25).head()
    assert(py.getLong(3) == blk.size && py.getLong(4) == blk.sum)
    // focal majority over the 4-class rank raster (classes 1..4 + nulls)
    val classed = dem.classify(Array(50.0, 100.0, 150.0, 200.0))
    val mj = classed.focalMajority(k = 1, nClasses = 5)
    assert(mj.columns.toSeq == Seq("row", "col", "mode_cls", "n_mode"))
    assert(mj.count() > 0)
    // cost distance: sources themselves are 0
    val cd = dem.costDistance(_ >= 240.0)
      .filter(col("dist") === 0.0).count()
    val nSrc = dem.cells.filter(col("v") >= 240.0).count()
    assert(cd == nSrc && nSrc > 0)
    // KDE: a cell hosting a point has density >= (R^2)^2
    val kd = dem.kernelDensity((col("v") * 4).cast("long") % 61 === 7, radius = 4)
    val pts = dem.cells.filter((col("v") * 4).cast("long") % 61 === 7)
      .select(col("row"), col("col"))
    val atPoint = kd.join(pts, Seq("row", "col")).head()
    assert(atPoint.getLong(3) >= 16L * 16L)
  }

  test("sat/boxSumAt facade: SAT corner equals global sum; box sums match brute") {
    import org.apache.spark.sql.functions.col
    val s = dem.sat
    assert(s.ref == dem.ref)
    // bottom-right SAT cell = NaN-ignoring global sum
    val global = dem.cells.agg(org.apache.spark.sql.functions.sum(col("v")))
      .head().getDouble(0)
    val br = s.cells.filter(col("row") === dem.ref.nrows - 1 &&
      col("col") === dem.ref.ncols - 1).head().getDouble(2)
    assert(br == global)
    // one interior probe at radius 3 vs a direct windowed aggregate
    val (qr, qc, k) = (dem.ref.nrows / 2, dem.ref.ncols / 2, 3)
    val pts = spark.createDataFrame(Seq((qr, qc))).toDF("qr", "qc")
    val got = s.boxSumAt(pts, k).head()
    val want = dem.cells.filter(col("row").between(qr - k, qr + k) &&
        col("col").between(qc - k, qc + k))
      .agg(org.apache.spark.sql.functions.sum(col("v"))).head().getDouble(0)
    assert(got.getLong(2) == (2L * k + 1) * (2 * k + 1))
    assert(got.getDouble(3) == want)
  }

  test("set_nodata reaches the ASC header; duplicate is independent") {
    val d2 = dem.setNodata(-3.5).duplicate
    assert(dem.ref.nodata == -9999.0 && d2.ref.nodata == -3.5)
    val dir = Files.createTempDirectory("rasternodata")
    val asc = dir.resolve("n.asc").toString
    d2.setCrs(27700).writeAsc(asc)
    val header = scala.io.Source.fromFile(asc).getLines().take(6).toSeq
    assert(header.exists(l => l.startsWith("NODATA_value") && l.contains("-3.5")))
  }
}
