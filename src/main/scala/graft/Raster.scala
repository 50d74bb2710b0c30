package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.core._
import graft.operators._
import graft.sources.{AscIO, GeoTiffReader, GeoTiffWriter, GifWriter, MjpegAvi}

/** User-facing facade mirroring the reference `hydro_raster.Raster` API
  * surface over the engine's distributed tile model — the "switch your
  * imports, keep your workflow" entry point. Each method cites the
  * reference operation it re-expresses and delegates to the Spark-first
  * operator that implements it (all correctness gates live on those
  * operators: DuckDB oracles + ScalaTest parity, SURVEY.md §8).
  *
  * A `Raster` is (tiles, header): a `Dataset[Tile]` of fixed-size payload
  * tiles plus the `GridRef` georeference — the distributed analogue of
  * the reference's (array, header) pair (Raster.py:59-97). `res` is the
  * tile resolution exponent (2^res-pixel tiles; default 6 = 64 px).
  *
  * Methods returning `Raster` stay distributed end to end. Methods that
  * mirror reference calls returning per-pixel structures return the cell
  * DataFrame (row, col, v). Driver-convenience constructors read one
  * file on the driver exactly like the reference; the distributed ingest
  * paths are `AscIO.readTiles` / `GeoTiffReader.readTiles`. */
final case class Raster(tiles: Dataset[Tile], ref: GridRef, res: Int = 6) {

  private def spark: SparkSession = tiles.sparkSession

  /** Cell-level view (row, col, v) with NODATA as null (Raster.py:104-109
    * NaN canonicalization at the column boundary). */
  def cells: DataFrame = TileOps.cells(tiles)

  /** NaN-ignoring max/min/median/valid-count (Raster.py:844-854). */
  def stats: DataFrame = TileOps.stats(tiles)

  /** Header summary (Raster.py:134-150 `_summary`). */
  def summary: Map[String, String] = ref.summary

  /** `set_crs` (Raster.py:167-183). */
  def setCrs(epsg: Int): Raster = copy(ref = ref.withEpsg(epsg))

  /** Reference `set_nodata` (Raster.py:683-692): header metadata only — the
    * in-memory canonical form stays NaN; the new value takes effect on
    * export (`writeAsc` NODATA_value line, GeoTIFF GDAL_NODATA). */
  def setNodata(v: Double): Raster = copy(ref = ref.copy(nodata = v))

  /** Reference `duplicate` (Raster.py:856-861, copy.deepcopy). Tiles are
    * immutable Datasets and GridRef is a value class, so a shallow copy IS
    * an independent object — no data copy needed or performed. */
  def duplicate: Raster = copy()

  /** Cell-center coordinates of every cell — reference `to_points`
    * (Raster.py:553-567); columns (row, col, x, y, v), v NULL at NODATA. */
  def toPoints: DataFrame = TileOps.toPoints(tiles, ref)

  /** Per-row/per-column NaN-ignoring min/max/median — the reference's
    * `max/min/median(axis=...)` (Raster.py:844-854). axis follows numpy:
    * 0 → one row per column, 1 → one row per grid row. */
  def statsAxis(axis: Int): DataFrame = TileOps.axisStats(tiles, axis)

  /** `rect_clip` (Raster.py:218-240): snap the extent to the grid, prune
    * tiles, and rebase onto the clipped header (one aligned-mosaic
    * shuffle — the crop the reference does with array slicing). */
  def rectClip(e: Extent): Raster = {
    val (clipped, (r0, r1, c0, c1)) = TileOps.rectClip(tiles, ref, e, res)
    val winRef = ref.windowRef(r0, r1, c0, c1)
    val rebased = TileOps.mosaic(
      TileOps.alignedPatches(clipped, ref, winRef, res, seq = 0, coverAll = true))
    Raster(rebased, winRef, res)
  }

  /** `clip` by polygon features (Raster.py:242-275, rasterio.mask
    * semantics): PIP mask, then crop to the features' bounds. */
  def clip(features: Seq[Feature]): Raster = {
    val masked = Raster(ClipPolygon(tiles, ref, res, features), ref, res)
    val xs = features.flatMap(_.xs); val ys = features.flatMap(_.ys)
    masked.rectClip(Extent(xs.min, xs.max, ys.min, ys.max))
  }

  /** `assign_to` (Raster.py:500-515): nearest regrid with out-of-range
    * clamp onto `target`. */
  def assignTo(target: GridRef): Raster =
    Raster(Gather.resampleNearestTiles(tiles, ref, target, res, clamp = true),
      target, res)

  /** `grid_resample_nearest` (Raster.py:407-417). */
  def gridResampleNearest(target: GridRef): Raster =
    Raster(Gather.resampleNearestTiles(tiles, ref, target, res, clamp = false),
      target, res)

  /** `to_int` (Raster.py:152-165): round-half-even, NODATA refill. */
  def toInt: Raster = Raster(TileFns.toInt(tiles), ref, res)

  /** `rankshow` classification (grid_show.py:96-135 break semantics). */
  def classify(breaks: Array[Double]): Raster =
    Raster(TileFns.classify(tiles, breaks), ref, res)

  /** `rasterize` burn layer (Raster.py:277-338): burned pixels only,
    * sequential last-wins, automatic hot-cell salting. */
  def rasterize(features: Seq[Feature], useAttr: Boolean = false): Dataset[CellPx] =
    Rasterize(spark, features, ref, res, useAttr)

  /** `rasterize` from a distributed feature table — the 100 TB form. */
  def rasterize(features: Dataset[Feature], useAttr: Boolean): Dataset[CellPx] =
    Rasterize(features, ref, res, useAttr)

  /** The tutorial's "edit DEM by features" join (demo/tutorial_edit_DEM
    * cells 4-12): burn layer left-joined onto the cells. */
  def editBy(features: Seq[Feature], useAttr: Boolean = true): DataFrame =
    Rasterize.editJoin(cells, rasterize(features, useAttr))

  /** `merge` (Raster.py:873-894): non-NaN pixels of `origin` overwrite
    * this raster's pixels; cross-cellsize origins resample first. */
  def merge(origin: Raster, method: String = "bilinear"): Raster =
    Raster(Regrid.mergeInto(tiles, ref, origin.tiles, origin.ref, res, method),
      ref, res)

  /** `paste_on` (Raster.py:517-551): paste THIS raster onto `large`'s grid
    * (equal cellsize, window clipped to `large`'s bounds), returning a
    * raster on `large`'s georeference. `ignoreNan=true` (the reference
    * default) leaves `large` intact under this raster's NODATA holes;
    * false pastes the raw window including NODATA. Distributed form: this
    * raster's tiles become precedence-1 [[TilePatch]]es on `large`'s tiling
    * (pure index shift, no driver materialization) folded over `large`'s
    * tiles by the streaming mosaic — one shuffle on the target cell id.
    * The reference's `rows > 0` off-by-one (its window clip silently drops
    * target row/col 0) is a quirk we do NOT reproduce; the parity kernel
    * [[graft.core.RefKernel.pasteOn]] carries it behind `index0Quirk` for
    * oracle tests. */
  def pasteOn(large: Raster, ignoreNan: Boolean = true): Raster = {
    require(ref.cellsize == large.ref.cellsize,
      "paste_on requires equal cellsize (Raster.py:520)")
    val base = TileOps.alignedPatches(
      large.tiles, large.ref, large.ref, large.res, seq = 0, coverAll = true)
    val patch = TileOps.alignedPatches(
      tiles, ref, large.ref, large.res, seq = 1, coverAll = !ignoreNan)
    Raster(TileOps.mosaic(base union patch), large.ref, large.res)
  }

  /** `combine_raster` (spatial_analysis.py:244-298): union-extent mosaic,
    * later arguments win on overlap (sequential combine order). */
  def combine(others: Raster*): Raster = {
    val all = this +: others
    require(all.forall(_.ref.cellsize == ref.cellsize),
      "combine requires equal cellsize (resample first)")
    val xmin = all.map(_.ref.left).min
    val xmax = all.map(_.ref.right).max
    val ymin = all.map(_.ref.bottom).min
    val ymax = all.map(_.ref.top).max
    // TRUNCATION, not rounding: the reference computes the union dims
    // with int() (spatial_analysis.py:267-279) and RefKernel.combine
    // replicates that — a fractional extent/cellsize ratio must produce
    // the same (smaller) grid here or the parity oracle diverges
    val u = GridRef(((xmax - xmin) / ref.cellsize).toInt,
      ((ymax - ymin) / ref.cellsize).toInt,
      xmin, ymin, ref.cellsize, ref.nodata, ref.crs)
    val patches = all.zipWithIndex.map { case (r, i) =>
      TileOps.alignedPatches(r.tiles, r.ref, u, res, seq = i, coverAll = true)
    }.reduce(_ union _)
    Raster(TileOps.mosaic(patches), u, res)
  }

  /** `point_interpolate` (Raster.py:419-498): scattered points -> this
    * grid. Methods: nearest (exact 1-NN), linear (distributed Delaunay),
    * cubic (reduced Clough-Tocher C1), idw (exact-k inverse distance). */
  def pointInterpolate(points: Dataset[PtRec], method: String = "nearest",
      k: Int = 4, power: Double = 2.0): DataFrame =
    interpolate("point_interpolate", points, ref, method, k, power)

  /** `grid_interpolate` (Raster.py:431-455): this grid's non-NaN cells as
    * sites, interpolated onto `target`. */
  def gridInterpolate(target: GridRef, method: String = "nearest",
      k: Int = 4, power: Double = 2.0): DataFrame =
    interpolate("grid_interpolate", GridInterpolate.explodeCells(tiles, ref),
      target, method, k, power)

  private def interpolate(op: String, points: Dataset[PtRec], target: GridRef,
      method: String, k: Int, power: Double): DataFrame = method match {
    case "nearest" => Knn.nearestBucketed(spark, points, target, res)
    case "linear" => Delaunay.linearBucketed(spark, points, target, res)
    case "cubic" => Delaunay.cubicBucketed(spark, points, target, res)
    case "idw" => Knn.idwBucketed(spark, points, target, res, k, power)
    case other => throw new IllegalArgumentException(
      s"$op method '$other' (nearest|linear|cubic|idw)")
  }

  /** `resample` to a new cellsize (Raster.py:369-405), nearest|bilinear:
    * returns the resampled raster on the derived header. */
  def resampleToCellsize(newCellsize: Double,
      method: String = "bilinear"): Raster = {
    val (out, ref2) = Regrid.resampleToCellsize(tiles, ref, newCellsize, method, res)
    Raster(out, ref2, res)
  }

  /** `resample` onto an explicit target grid with an interpolating kernel
    * (bilinear / cubic / cubic_spline / lanczos / gauss — the rasterio
    * kernel set, Raster.py:382-384). Returns target cells (row, col, v). */
  def resampleTo(target: GridRef, method: String): DataFrame = method match {
    case "nearest" => Gather.resampleNearest(tiles, ref, target, res, clamp = false)
    case "bilinear" => Bilinear.resample(tiles, ref, target, res)
    case m if Convolve.methods.contains(m) => Convolve.resample(tiles, ref, target, res, m)
    case other => throw new IllegalArgumentException(
      s"resample kernel '$other' (nearest|bilinear|${Convolve.methods.mkString("|")})")
  }

  /** Integer-factor window-aggregate `resample` (average/max/min/median/
    * q1/q3/mode — the zero-shuffle downsample family). */
  def resampleWindow(factor: Int, method: String): DataFrame =
    Downsample.stats(tiles, ref, res, factor, method)

  /** `reproject` (Raster.py:695-733): cal_tsf-style target grid + nearest
    * warp; see core/Proj for the supported EPSG registry and the
    * documented Helmert accuracy bound. */
  def reproject(dstEpsg: Int): Raster = reproject(dstEpsg, None)

  /** Reproject with an OSTN/NTv2-style datum lattice applied on the
    * OSGB36 leg (load one with `ShiftGrid.read`); `None` = Helmert path. */
  def reproject(dstEpsg: Int, gridShift: Option[graft.core.ShiftGrid]): Raster = {
    val (out, dstRef) = Reproject.warp(tiles, ref, dstEpsg, res, gridShift)
    Raster(out, dstRef, res)
  }

  /** Horn gradient (grid_show.py hillshade's first stage). */
  def gradient: DataFrame = Stencil.hornGradient(tiles, ref, res)

  /** `hillshade` (grid_show.py:138-160, matplotlib LightSource
    * convention). */
  def hillshade(azdeg: Double = 315.0, altdeg: Double = 45.0): DataFrame =
    Stencil.hillshade(tiles, ref, res, azdeg, altdeg)

  /** D8 flow direction (beyond-reference hydrology: the natural next step
    * after hydro-raster's terrain prep; ESRI power-of-two codes, 0 = pit). */
  def flowDir: DataFrame = Flow.flowDir(tiles, ref, res)

  /** D8 flow accumulation (cells draining through, incl. self). */
  def flowAcc: DataFrame = Flow.flowAcc(tiles, ref, res)

  /** Watershed basins + downstream path step counts per cell. */
  def watershed: DataFrame = Flow.downstream(tiles, ref, res)

  /** Strahler stream order per stream cell (Strahler 1957) — chain-head
    * resolve + junction-forest fold
    * ([[graft.operators.Flow.strahlerOrder]]). */
  def strahler(threshold: Long): DataFrame =
    Flow.strahlerOrder(tiles, ref, res, threshold)

  /** Stream network: D8 edges with accumulation >= `threshold` cells. */
  def streamNetwork(threshold: Long): DataFrame =
    Flow.streamNetwork(tiles, ref, res, threshold)

  /** Longest upstream drainage path per cell (cardinal/diagonal counts). */
  def flowLength: DataFrame = Flow.longestUpstream(tiles, ref, res)

  /** Depression-filled DEM as a new Raster (Priority-Flood minimax fill). */
  def fillSinks: Raster = Raster(Flow.fillSinksTiles(tiles, ref, res), ref, res)

  /** HAND — Height Above Nearest Drainage (Rennó et al. 2008), the classic
    * flood-susceptibility product: for every cell whose D8 path reaches a
    * stream (flow accumulation >= `threshold`), the first stream cell
    * touched, exact step counts, and `hand` = z(cell) − z(stream cell).
    * Stream cells themselves have hand 0. Composition of
    * [[graft.operators.Flow.nearestDrainage]] with two cell-key equi-joins
    * (the stream-z side is the acc>=threshold subset — AQE broadcasts it
    * when it fits; no hint, so the plan degrades gracefully at scale). */
  def hand(threshold: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    val nd = Flow.nearestDrainage(tiles, ref, res, threshold)
    val z = cells.where(col("v").isNotNull)
      .select(col("row").cast("long").as("row"), col("col").cast("long").as("col"), col("v"))
    val zs = z.select(col("row").as("stream_r"), col("col").as("stream_c"), col("v").as("vs"))
    nd.join(z, Seq("row", "col"))
      .join(zs, Seq("stream_r", "stream_c"))
      .select(col("row"), col("col"), col("stream_r"), col("stream_c"),
        col("ncard"), col("ndiag"), (col("v") - col("vs")).as("hand"))
  }

  /** Topographic wetness / stream power composite (Beven & Kirkby 1979,
    * Moore et al. 1991): per cell the specific catchment area
    * `sca = flowAcc * cellsize`, Horn slope magnitude, stream power
    * `spi = sca * slope` and the wetness argument `twi_arg = sca / slope`
    * (null on flats). ln() is left to the caller — it is monotone, so
    * ranking/thresholding on `twi_arg` is equivalent, and omitting it
    * keeps every value a chain of correctly-rounded IEEE ops (exactly
    * reproducible cross-engine). One row/col equi-join of the flowAcc
    * condensation with the gradient stencil — no new kernel. */
  def wetness: DataFrame = {
    import org.apache.spark.sql.functions._
    val acc = Flow.flowAcc(tiles, ref, res)
    val grad = Stencil.hornGradient(tiles, ref, res)
      .select(col("row").cast("long").as("row"),
        col("col").cast("long").as("col"), col("gx"), col("gy"))
    acc.join(grad, Seq("row", "col"))
      .select(col("row"), col("col"),
        (col("acc").cast("double") * lit(ref.cellsize)).as("sca"),
        sqrt(col("gx") * col("gx") + col("gy") * col("gy")).as("slope"))
      .withColumn("spi", col("sca") * col("slope"))
      .withColumn("twi_arg", when(col("slope") =!= 0.0, col("sca") / col("slope")))
  }

  /** Focal terrain indices: (row, col, tpi, tri) over the 8-neighborhood. */
  def terrainIndices: DataFrame = Stencil.terrainIndices(tiles, ref, res)

  /** Zevenbergen-Thorne curvature: (row, col, curv, prof, plan). */
  def curvature: DataFrame = Stencil.curvature(tiles, ref, res)

  /** Summed-area table (integral image) as a Raster: cell (r, c) holds
    * the sum over all (r' <= r, c' <= c), NaN counted as 0 — one global
    * prefix pass after which a box sum of ANY radius is four lookups
    * (pair with an indicator SAT for NaN-ignoring counts). Gated r61;
    * multi-scale TPI consumer gated r62. */
  def sat: Raster = copy(tiles = Sat.satTiles(tiles))

  /** Box sums of radius `k` (clamped windows) around query points
    * (qr, qc), evaluated against [[sat]] in O(1) lookups per point:
    * (qr, qc, box_n, box_sum). Call on the SAT raster, e.g.
    * `dem.sat.boxSumAt(pts, 300)`. */
  def boxSumAt(pts: DataFrame, k: Int): DataFrame =
    Sat.boxSumAt(tiles, ref, res, pts, k)

  /** Bounded-radius R3 viewshed from the given observers:
    * (oid, row, col, visible). */
  def viewshed(observers: Seq[Viewshed.Observer], radius: Int,
      eyeH: Double = 1.7): DataFrame =
    Viewshed(tiles, ref, res, observers, radius, eyeH)

  /** Exact squared Euclidean distance (in cells) from every grid cell to
    * the nearest cell satisfying `pred`: (row, col, dist2). */
  def distanceTransform(pred: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions.col
    DistanceTransform.squared(
      cells.filter(pred).select(col("row"), col("col")), ref.nrows, ref.ncols)
  }

  /** Slope/aspect sectors: (row, col, tan2_slope, octant, compass). */
  def aspect: DataFrame = Stencil.aspectClass(tiles, ref, res)

  /** Valid cells in the fixed-point domain the focal/pyramid family
    * computes in: q = v * `scale` truncated to Long. CALLERS CHOOSE the
    * scale to match their data's resolution — exact only when values are
    * multiples of 1/scale (the quarter-unit DEM fixtures use scale=4;
    * centimetre-grade survey DEMs want 100); a too-coarse scale silently
    * truncates, which is why there is no default. */
  private def fixedPointCells(scale: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    cells.filter(col("v").isNotNull)
      .select(col("row"), col("col"), (col("v") * scale).cast("long").as("q"))
  }

  /** Fixed-point focal (moving-window) statistics over a (2k+1)^2
    * neighborhood: (row, col, n, sum_q) — see [[fixedPointCells]] for the
    * `scale` contract. */
  def focalStats(k: Int, scale: Long): DataFrame =
    Focal.window(fixedPointCells(scale), ref.nrows, ref.ncols, k)

  /** Morphological erosion + dilation: windowed (min_q, max_q) in the
    * same fixed-point domain as [[focalStats]]. */
  def focalExtrema(k: Int, scale: Long): DataFrame =
    Focal.extrema(fixedPointCells(scale), ref.nrows, ref.ncols, k)

  /** Focal median despeckle: (row, col, med_q), SQL median semantics. */
  def focalMedian(k: Int, scale: Long): DataFrame =
    Focal.median(fixedPointCells(scale), ref.nrows, ref.ncols, k)

  /** Focal majority (mode) filter over a CATEGORICAL raster whose valid
    * values are integer class ids in [0, nClasses): (row, col, mode_cls,
    * n_mode), ties to the smallest class. */
  def focalMajority(k: Int, nClasses: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    Focal.majority(cells.filter(col("v").isNotNull)
        .select(col("row"), col("col"), col("v").cast("int").as("cls")),
      ref.nrows, ref.ncols, k, nClasses)
  }

  /** Incremental overview pyramid: (level, row, col, n, sum_q) for
    * levels 1..`levels`; level-L (r, c) covers 2^L x 2^L base cells. */
  def pyramid(levels: Int, scale: Long): DataFrame =
    Pyramid.build(fixedPointCells(scale), levels)

  /** Weighted cost distance from the cells satisfying `isSource`,
    * treating this raster as the friction surface: (row, col, dist)
    * with the midpoint rule x20 and rational diagonal 14. */
  def costDistance(isSource: Double => Boolean): DataFrame =
    CostDistance.accumulate(tiles, ref, res, isSource)

  /** Quartic kernel-density surface of the cells satisfying `pred`:
    * (row, col, n_pts, density) with density = sum (R^2 - d^2)^2. */
  def kernelDensity(pred: org.apache.spark.sql.Column, radius: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    Density.quartic(cells.filter(pred).select(col("row"), col("col")),
      ref.nrows, ref.ncols, radius)
  }

  /** Iso-line segments at `level` (marching squares; pixel coordinates). */
  def contour(level: Double): DataFrame = Contour.segments(tiles, ref, res, level)

  /** Contour set at several levels, extracted in one halo pass. */
  def contours(levels: Seq[Double]): DataFrame =
    Contour.segmentSet(tiles, ref, res, levels)

  /** `vectorize` (Raster.py:745-777): one row per connected component
    * with POLYGON WKT (exterior + holes), value and pixel count. */
  def vectorize: DataFrame = Vectorize.polygons(tiles, ref, res)

  /** Per-value component stats (the r22 oracle-gated form). */
  def componentStats: DataFrame = Vectorize.componentStats(tiles, ref, res)

  /** `line2sub` (Raster.py:340-367): polyline -> traversed cells in
    * sequence (endpoint-drop quirk preserved). */
  def line2sub(xs: Array[Double], ys: Array[Double]): DataFrame =
    Line2Sub.cells(spark.createDataset(Seq(Line2Sub.LineRec(0L, xs, ys)))(
      org.apache.spark.sql.Encoders.product[Line2Sub.LineRec]), ref)

  /** Pair this raster's cells with another same-grid raster (the
    * vectorshow pairing; J7 zip join). Columns (row, col, v, u). */
  def zipJoin(other: Raster): DataFrame =
    cells.join(other.cells.withColumnRenamed("v", "u"), Seq("row", "col"))

  /** `write_asc` (spatial_analysis.py:130-170): distributed row-band
    * export, %g formatting, NaN -> NODATA, optional .gz by extension. */
  def writeAsc(path: String): Unit = AscIO.writeTiles(tiles, ref, path)

  /** `write_tif` (Raster.py:605-651): single-file GeoTIFF — collects to
    * the driver like the reference's single-array write; bounded by one
    * raster's size, not the dataset's. */
  def writeTif(path: String, tileSize: Int = 64): Unit =
    GeoTiffWriter.write(path, ref, toArray, tileSize = tileSize)

  /** `mapshow` pixel content (grid_show.py:33-94 without matplotlib
    * styling): per-tile 16-bit grayscale PNGs. */
  def renderPng(lo: Double, hi: Double): Dataset[(Long, Array[Byte])] =
    TileFns.renderPng(tiles, lo, hi)

  /** `mapshow` STYLED figure (grid_show.py:33-95): continuous-colormap
    * RGB PNG of the whole raster + colorbar strip — the figure's data
    * content without matplotlib chrome. Driver-side single image like
    * the reference (bounded by the [[toArray]] guard); the distributed
    * tile-served form is [[operators.Style.rgbTiles]]. */
  def mapshowPng(lo: Double, hi: Double,
      ramp: operators.Style.Ramp = operators.Style.Terrain): Array[Byte] =
    operators.Style.mapshowPng(toArray, ref.ncols, ref.nrows, lo, hi, ramp)

  /** `rankshow` STYLED figure (grid_show.py:96-135): discrete rank
    * classes from `breaks` (below the first break -> nodata, the
    * reference rule), Blues ramp, rank legend strip. */
  def rankshowPng(breaks: Array[Double],
      ramp: operators.Style.Ramp = operators.Style.Blues): Array[Byte] =
    operators.Style.rankshowPng(toArray, ref.ncols, ref.nrows, breaks, ramp)

  /** `vectorshow` (grid_show.py:160-186): U/V quiver arrow field; `this`
    * carries U, `other` V on the same grid. */
  def vectorshowPng(other: Raster, step: Int = 8,
      scale: Double = 1.0): Array[Byte] = {
    require(other.ref.ncols == ref.ncols && other.ref.nrows == ref.nrows,
      "vectorshow: the shapes must be the same") // the reference's check
    operators.Style.quiverPng(toArray, other.toArray, ref.ncols, ref.nrows,
      step, scale)
  }

  /** `plot_shape_file` (grid_show.py:239-292): feature outlines drawn on
    * this raster's pixel frame. */
  def plotShapePng(features: Seq[core.Feature]): Array[Byte] =
    operators.Style.plotShapePng(features, ref)

  /** Tile-pyramid PNG export (beyond-reference; the raster-serving op):
    * OVERVIEW levels 0..levels-1 in the GDAL/COG convention — level 0 is
    * the full-resolution base, each next level average-downsamples by 2
    * — with XYZ-style (x, y) tile addressing inside each level. To serve
    * as slippy-map tiles, map `z = maxZoom - level` (slippy zoom counts
    * the other way). Levels fold PROGRESSIVELY: level L+1 downsamples
    * level L's tiles (factor 2), so the whole pyramid reads each level
    * once (~4N/3 cells total) instead of re-scanning the base per level;
    * while both dims stay even every 2x2 window is complete and the
    * mean-of-means equals the direct mean exactly — an odd dimension
    * falls back to a from-base downsample for that level to avoid
    * partial-window mean-of-means bias. Returns (level, x, y, png). */
  def tilePyramidPng(levels: Int, lo: Double, hi: Double)
      : org.apache.spark.sql.DataFrame = {
    require(levels >= 1 && levels <= res + 1,
      s"tilePyramidPng: levels must be in [1, res + 1 = ${res + 1}] " +
        s"(factor 2^level must divide the ${1 << res}px tile), got $levels")
    val spark = tiles.sparkSession
    import spark.implicits._
    // NaN/nodata holes break the progressive fold's exactness: 'average'
    // ignores NaN sources, so a 2x2 window with a hole yields a mean over
    // fewer cells that the NEXT level would weight equally (mean-of-means
    // bias — the same bias the odd-dimension fallback avoids). Detect
    // holes once on the base; a holey raster downsamples every level
    // directly from the base instead (ADVICE r4 #1).
    // (levels == 1 never downsamples, so skip the detection scan — the
    // flag is only consulted by the level > 0 fold branch)
    val hasNaN = levels > 1 &&
      tiles.filter(_.payload.exists(_.isNaN)).limit(1).count() > 0
    var cur = tiles
    var curRef = ref
    var exact = !hasNaN // dims even + hole-free -> progressive fold exact
    var prevCached: Option[Dataset[Tile]] = None
    val parts = (0 until levels).map { level =>
      if (level > 0) {
        if (exact && (curRef.nrows % 2 == 0) && (curRef.ncols % 2 == 0)) {
          val cellsL = operators.Downsample.stats(cur, curRef, res, 2, "average")
          curRef = operators.Downsample.targetRef(curRef, 2)
          // persist each level: without it, evaluating level L lazily
          // re-runs the whole chain from the base (O(levels^2) scans)
          // localCheckpoint, not persist: blocks release with the RDD
          // once the pyramid's frames go out of scope (a CacheManager
          // entry pinned them for the session), and the columnar encode
          // of tile payloads is skipped
          cur = TileOps.tilesFromCells(cellsL, curRef, res)
            .localCheckpoint(false)
        } else {
          // odd dimension or NaN holes: partial/hole-reduced 2x2 windows
          // would bias mean-of-means; this level (and the rest)
          // downsample from the base directly
          exact = false
          val cellsL = operators.Downsample.stats(tiles, ref, res, 1 << level,
            "average")
          curRef = operators.Downsample.targetRef(ref, 1 << level)
          cur = TileOps.tilesFromCells(cellsL, curRef, res)
        }
      }
      // eager per-level materialization (localCheckpoint) so the PREVIOUS
      // level's cache releases immediately — repeated pyramid calls no
      // longer accumulate cached blocks for the session lifetime
      // (ADVICE r4 #2)
      val png = TileFns.renderPng(cur, lo, hi).map { case (cid, png) =>
        (level.toLong, core.CellId.cx(cid), core.CellId.cy(cid), png)
      }.toDF("level", "x", "y", "png").localCheckpoint(true)
      prevCached.foreach(_.unpersist())
      prevCached = if (cur ne tiles) Some(cur) else None
      png
    }
    prevCached.foreach(_.unpersist())
    parts.reduce(_ unionByName _)
  }

  /** Driver-side dense array (row-major, NaN holes) — the reference's
    * `array` view; driver-bounded by construction. The cell-count guard
    * makes misuse on a corpus-scale grid fail loudly (like Flow's
    * driverLimit) instead of OOMing the driver (VERDICT r4 #8). */
  def toArray: Array[Double] = {
    require(ref.nrows.toLong * ref.ncols <= (1L << 28),
      s"toArray is a driver-side view: ${ref.nrows}x${ref.ncols} = " +
        s"${ref.nrows.toLong * ref.ncols} cells exceeds the 2^28 (~2 GB) " +
        "driver bound — use tiles/cells for distributed access")
    val arr = Array.fill(ref.nrows * ref.ncols)(Double.NaN)
    tiles.collect().foreach { t =>
      var r = 0
      while (r < t.h) {
        var c = 0
        while (c < t.w) {
          arr((t.row0 + r) * ref.ncols + (t.col0 + c)) = t.payload(r * t.w + c)
          c += 1
        }
        r += 1
      }
    }
    arr
  }
}

object Raster {

  /** Read one ASC (+.gz) file — driver-convenience mirror of the
    * reference ctor (spatial_analysis.py:38-96); distributed ingest:
    * `AscIO.readTiles`. */
  def fromAsc(spark: SparkSession, path: String, res: Int = 6): Raster = {
    val (ref, data) = AscIO.readFile(path)
    fromArray(spark, ref, data, res)
  }

  /** Read one GeoTIFF — driver-convenience mirror of `from_tif`
    * (spatial_analysis.py:174-209); distributed ingest:
    * `GeoTiffReader.readTiles` (windowed row-band tasks). */
  def fromTif(spark: SparkSession, path: String, res: Int = 6): Raster = {
    val t = GeoTiffReader.read(path)
    fromArray(spark, t.ref, t.data, res)
  }

  /** Build from a driver array (row-major, NaN holes). */
  def fromArray(spark: SparkSession, ref: GridRef, data: Array[Double],
      res: Int = 6): Raster = {
    require(data.length == ref.nrows.toLong * ref.ncols, "array/header shape")
    Raster(TileOps.tileGrid(spark, ref, res)((r, c) => data(r * ref.ncols + c)),
      ref, res)
  }

  /** Build from a value function (fixtures, synthetic fields). */
  def fromGrid(spark: SparkSession, ref: GridRef, res: Int = 6)(
      f: (Int, Int) => Double): Raster =
    Raster(TileOps.tileGrid(spark, ref, res)(f), ref, res)

  /** Composed bankline -> bathymetry surface — the reference's documented
    * river module (`docs/source/Modules/index.rst:4-15`, README features
    * 3-4): cross-section lines with endpoint depths -> stations along
    * each line's rasterized walk -> distributed Delaunay-linear
    * interpolation -> clip to the bankline polygons. See
    * [[graft.operators.LineSurface]]; hash-gated as r57. */
  def interpLine2Surface(spark: SparkSession,
      lines: Dataset[graft.operators.LineSurface.CrossLine],
      bankline: Seq[graft.core.Feature], ref: GridRef, res: Int = 6): Raster =
    Raster(graft.operators.LineSurface.bathymetry(spark, lines, bankline,
      ref, res), ref, res)

  /** `make_gif` (grid_show.py:187-215): looping GIF89a of a raster
    * sequence (frames collect to the driver, like the reference). */
  def makeGif(path: String, frames: Seq[Raster], lo: Double, hi: Double,
      delayCs: Int = 50): Unit = {
    require(frames.nonEmpty)
    val w = frames.head.ref.ncols; val h = frames.head.ref.nrows
    GifWriter.writeAnimated(path, frames.map(_.toArray), w, h, lo, hi, delayCs)
  }

  /** `make_mp4` analog (grid_show.py:217-237): Motion-JPEG-in-AVI — the
    * most widely decodable container+codec the JVM produces unaided. */
  def makeMp4(path: String, frames: Seq[Raster], lo: Double, hi: Double,
      fps: Int = 10): Unit = {
    require(frames.nonEmpty)
    val w = frames.head.ref.ncols; val h = frames.head.ref.nrows
    MjpegAvi.writeAnimated(path, frames.map(_.toArray), w, h, lo, hi, fps)
  }
}
