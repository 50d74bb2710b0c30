package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types.IntegerType
import graft.core._

/** One pixel of the global grid in map/grid space. */
final case class CellPx(row: Int, col: Int, v: Double)

/** Distributed tile-grid operators — the Spark re-expression of the
  * reference's whole-array NumPy ops (SURVEY.md §2). The unit of
  * distribution is [[Tile]] (one row per 2^res-pixel block keyed by
  * [[CellId]]); kernels are tight JVM loops over primitive payloads, plans
  * stay declarative so Catalyst prunes/pushes around them.
  */
object TileOps {

  /** Generate a deterministic synthetic grid as a distributed Dataset[Tile].
    * `f(row, col)` must be a pure, serializable function (integer-derived in
    * fixtures so any SQL oracle reproduces it bit-exactly). Scales: one task
    * per ~(tiles/parallelism); no driver materialization. */
  def tileGrid(spark: SparkSession, ref: GridRef, res: Int)(
      f: (Int, Int) => Double): Dataset[Tile] = {
    import spark.implicits._
    val size = 1 << res
    val tilesX = (ref.ncols + size - 1) / size
    val tilesY = (ref.nrows + size - 1) / size
    val ncols = ref.ncols
    val nrows = ref.nrows
    spark.range(tilesX.toLong * tilesY).map { i =>
      val tx = (i % tilesX).toInt
      val ty = (i / tilesX).toInt
      val row0 = ty * size
      val col0 = tx * size
      val h = math.min(size, nrows - row0)
      val w = math.min(size, ncols - col0)
      val payload = new Array[Double](h * w)
      var r = 0
      while (r < h) {
        var c = 0
        while (c < w) {
          payload(r * w + c) = f(row0 + r, col0 + c)
          c += 1
        }
        r += 1
      }
      Tile(CellId.encode(res, tx, ty), row0, col0, h, w, payload)
    }
  }

  /** Explode tiles to per-pixel rows (global row/col, NaN -> null v).
    * The inverse of tiling; used at SQL-comparison boundaries and as the
    * `to_points` analogue (Raster.py:553-567). */
  def cells(tiles: Dataset[Tile]): DataFrame =
    CellView.ofTiles(tiles, "v", IntegerType, keep = Some(lit(true)))
      .withColumn("v", when(isnan(col("v")), lit(null)).otherwise(col("v")))

  /** Reassemble (row, col, v) cell rows into tiles — the INVERSE of
    * [[cells]], for feeding cell-level operator output (downsampled
    * levels, stencil results) back into tile-level ops (render, write,
    * stencils). Missing cells and null v become NaN. One shuffle on the
    * tile key; payload assembly is per-group executor work. */
  def tilesFromCells(cellRows: DataFrame, ref: GridRef, res: Int): Dataset[Tile] = {
    import cellRows.sparkSession.implicits._
    val size = 1 << res
    val nrows = ref.nrows; val ncols = ref.ncols
    cellRows.select($"row".cast("long"), $"col".cast("long"),
        $"v".cast("double"))
      .as[(Long, Long, java.lang.Double)]
      .groupByKey { case (r, c, _) => CellId.encode(res, c / size, r / size) }
      .mapGroups { (cid, it) =>
        val tx = CellId.cx(cid); val ty = CellId.cy(cid)
        val row0 = (ty * size).toInt; val col0 = (tx * size).toInt
        val h = math.min(size, nrows - row0)
        val w = math.min(size, ncols - col0)
        val payload = Array.fill(h * w)(Double.NaN)
        it.foreach { case (r, c, v) =>
          if (v != null)
            payload(((r - row0) * w + (c - col0)).toInt) = v.doubleValue()
        }
        Tile(cid, row0, col0, h, w, payload)
      }
  }

  /** Compile a same-res cell cover to a Z-range predicate on `cellId`:
    * a handful of `BETWEEN lo AND hi` disjuncts (CellId.zRanges) instead
    * of one literal per cell — a 10^5-tile window stays a small plan and
    * the ranges hit Parquet min/max stats on the Z-ordered id. */
  def coverPredicate(cover: Array[Long])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    val ranges = CellId.zRanges(cover)
    if (ranges.isEmpty) lit(false)
    else ranges.map { case (lo, hi) =>
      if (lo == hi) col("cellId") === lit(lo)
      else col("cellId").between(lit(lo), lit(hi))
    }.reduce(_ || _)
  }

  /** rect_clip as a cell-pruned filter + per-tile crop (Raster.py:185-233
    * re-expressed): the cell_id RANGE predicate prunes whole tiles BEFORE
    * any payload is touched (at scale: Parquet row-group pruning on the
    * Z-ordered cell_id), edge tiles are cropped in a payload kernel.
    * Returns tiles in GLOBAL pixel coordinates plus the snapped window. */
  def rectClip(tiles: Dataset[Tile], ref: GridRef, e: Extent, res: Int)
      : (Dataset[Tile], (Int, Int, Int, Int)) = {
    import tiles.sparkSession.implicits._
    val (r0, r1, c0, c1) = ref.clipWindow(e)
    val kept = tiles.filter(
      coverPredicate(CellId.coverWindow(r0, r1, c0, c1, res)))
    val cropped = kept.map { t =>
      val nr0 = math.max(t.row0, r0)
      val nc0 = math.max(t.col0, c0)
      val nr1 = math.min(t.row0 + t.h - 1, r1)
      val nc1 = math.min(t.col0 + t.w - 1, c1)
      if (nr0 == t.row0 && nc0 == t.col0 && nr1 == t.row0 + t.h - 1 && nc1 == t.col0 + t.w - 1) t
      else {
        val nh = nr1 - nr0 + 1
        val nw = nc1 - nc0 + 1
        val payload = new Array[Double](nh * nw)
        var r = 0
        while (r < nh) {
          System.arraycopy(t.payload, (nr0 - t.row0 + r) * t.w + (nc0 - t.col0),
            payload, r * nw, nw)
          r += 1
        }
        Tile(t.cellId, nr0, nc0, nh, nw, payload)
      }
    }
    (cropped, (r0, r1, c0, c1))
  }

  /** NaN-ignoring per-tile partial stats, merged by Catalyst hash-agg —
    * the distributed form of np.nanmax/nanmin + num_valid_cells
    * (Raster.py:844-854,122). Median stays exact via percentile over the
    * exploded valid cells (fine to sf-scale; approx variant for 100TB is
    * `percentile_approx`). */
  def stats(tiles: Dataset[Tile]): DataFrame = {
    val c = cells(tiles)
    c.agg(
      max("v").as("max_v"),
      min("v").as("min_v"),
      expr("percentile(v, 0.5)").as("median_v"),
      count("v").as("valid_cells"),
      sum("v").as("sum_v"))
  }

  /** Cell-center coordinates of every raster cell — reference `to_points`
    * (Raster.py:553-567) / `sub2map` (spatial_analysis.py:392-414):
    * x = left + (col+0.5)·cellsize, y = top − (row+0.5)·cellsize. Emits ALL
    * cells (the reference meshgrid includes NODATA positions; `v` is NULL
    * there). Pure per-cell arithmetic on codegen'd built-ins — no shuffle;
    * at scale this is a projection fused into whatever consumes it. */
  def toPoints(tiles: Dataset[Tile], ref: GridRef): DataFrame = {
    import org.apache.spark.sql.functions._
    cells(tiles)
      .withColumn("x", lit(ref.left) + (col("col") + lit(0.5)) * lit(ref.cellsize))
      .withColumn("y", lit(ref.top) - (col("row") + lit(0.5)) * lit(ref.cellsize))
      .select("row", "col", "x", "y", "v")
  }

  /** Per-row (axis=1) or per-column (axis=0) NaN-ignoring stats — the
    * reference's `max/min/median(axis=...)` (Raster.py:844-854,
    * np.nanmax/nanmin/nanmedian). `axis` follows numpy: 0 reduces over rows
    * (one output per column), 1 reduces over columns (one output per row).
    * One shuffle on the surviving index with map-side partial min/max/count;
    * the exact median (numpy semantics: mean of the two middles at even
    * count) needs the group's values together — `percentile(v, 0.5)`, the
    * same exact path as [[stats]]. Scale note: an output index at 100 TB has
    * ~grid-width values; exact median is inherently a full shuffle of the
    * axis — swap `percentile_approx` in when a sketch is acceptable. */
  def axisStats(tiles: Dataset[Tile], axis: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    require(axis == 0 || axis == 1, s"axis must be 0 or 1, got $axis")
    val idx = if (axis == 0) "col" else "row"
    cells(tiles)
      .groupBy(col(idx).cast("long").as("idx"))
      .agg(
        count("v").as("n_valid"),
        min("v").as("min_v"),
        max("v").as("max_v"),
        expr("percentile(v, 0.5)").as("median_v"))
  }

  /** Convert a whole source grid (as tiles, SAME cellsize & aligned offsets)
    * into TilePatches of the target tiling with precedence `seq` — the
    * shuffle-side input of the mosaic (combine_raster paste,
    * spatial_analysis.py:288-295). Aligned fast path: pure index shift.
    * `coverAll=true` -> combine_raster semantics (later overwrites INCLUDING
    * nodata); false -> merge/paste_on(ignore_nan) (NaN source pixels leave
    * the target intact, Raster.py:546-549,889-894). */
  def alignedPatches(tiles: Dataset[Tile], srcRef: GridRef, targetRef: GridRef,
      res: Int, seq: Int, coverAll: Boolean): Dataset[TilePatch] = {
    import tiles.sparkSession.implicits._
    require(srcRef.cellsize == targetRef.cellsize, "alignedPatches requires equal cellsize")
    // integer pixel offset of source (0,0) in target coords
    val colOff = Math.rint((srcRef.left - targetRef.left) / targetRef.cellsize).toInt
    val rowOff = Math.rint((targetRef.top - srcRef.top) / targetRef.cellsize).toInt
    val tNrows = targetRef.nrows
    val tNcols = targetRef.ncols
    val size = 1 << res
    tiles.flatMap { t =>
      // source tile window in target pixel coords
      val tr0 = t.row0 + rowOff
      val tc0 = t.col0 + colOff
      val tr1 = tr0 + t.h - 1
      val tc1 = tc0 + t.w - 1
      if (tr1 < 0 || tc1 < 0 || tr0 >= tNrows || tc0 >= tNcols) Iterator.empty
      else {
        val cr0 = math.max(0, tr0); val cr1 = math.min(tNrows - 1, tr1)
        val cc0 = math.max(0, tc0); val cc1 = math.min(tNcols - 1, tc1)
        CellId.coverWindow(cr0, cr1, cc0, cc1, res).iterator.map { cid =>
          val (prow0L, pcol0L, _) = CellId.pixelWindow(cid)
          val prow0 = prow0L.toInt; val pcol0 = pcol0L.toInt
          val ph = math.min(size, tNrows - prow0)
          val pw = math.min(size, tNcols - pcol0)
          val payload = Array.fill(ph * pw)(Double.NaN)
          val cov = TilePatch.emptyCover(ph * pw)
          val wr0 = math.max(prow0, cr0); val wr1 = math.min(prow0 + ph - 1, cr1)
          val wc0 = math.max(pcol0, cc0); val wc1 = math.min(pcol0 + pw - 1, cc1)
          var r = wr0
          while (r <= wr1) {
            var c = wc0
            while (c <= wc1) {
              val v = t.payload((r - tr0) * t.w + (c - tc0))
              val idx = (r - prow0) * pw + (c - pcol0)
              payload(idx) = v
              if (coverAll || !v.isNaN) TilePatch.setBit(cov, idx)
              c += 1
            }
            r += 1
          }
          TilePatch(cid, prow0, pcol0, ph, pw, seq, payload, cov)
        }
      }
    }
  }

  /** Mosaic fold: groupBy(cell_id) + last-writer-wins by explicit per-pixel
    * seq — NEVER partition order, so seams are deterministic under any
    * parallelism (SURVEY.md §2.3 J3/J4; reference sequential paste
    * spatial_analysis.py:288-295).
    *
    * Physical shape: streaming flatMapGroups over the sort-grouped shuffle,
    * NOT a hash Aggregator — with ~0.5MB payload buffers per group, an
    * ObjectHashAggregate would trip its sort-based fallback (default 128
    * groups/partition) and collapse throughput; the streaming fold holds
    * exactly ONE group buffer at a time, so memory is flat regardless of
    * groups-per-partition (measured: 105s -> 9s on 2048 tiles at 8 cores). */
  def mosaic(patches: Dataset[TilePatch]): Dataset[Tile] = {
    import patches.sparkSession.implicits._
    patches.groupByKey(_.cellId).flatMapGroups { (_, it) =>
      val buf = it.foldLeft(MosaicAgg.zero)(MosaicAgg.reduce)
      if (buf.cellId == -1L) Iterator.empty
      else Iterator.single(MosaicAgg.finish(buf))
    }
  }

  /** Base tiles as lowest-precedence patches (seq bound by caller). */
  def asPatches(tiles: Dataset[Tile], seq: Int): Dataset[TilePatch] = {
    import tiles.sparkSession.implicits._
    tiles.map { t =>
      TilePatch(t.cellId, t.row0, t.col0, t.h, t.w, seq, t.payload,
        TilePatch.fullCover(t.h * t.w))
    }
  }
}

/** Mosaic merge buffer: per-pixel (value, seq); seq = Int.MinValue marks
  * uncovered. */
final case class MosaicBuf(cellId: Long, row0: Int, col0: Int, h: Int, w: Int,
    values: Array[Double], seqs: Array[Int])

/** Last-writer-wins per-pixel mosaic Aggregator (TypedImperativeAggregate
  * semantics via typed Aggregator). Associative & commutative: merge keeps
  * the pixel with the GREATER seq, so the result is independent of
  * partitioning/arrival order — the distributed equivalent of the
  * reference's sequential paste loop (spatial_analysis.py:288-295). */
object MosaicAgg extends Aggregator[TilePatch, MosaicBuf, Tile] {
  import org.apache.spark.sql.{Encoder, Encoders}

  override def zero: MosaicBuf =
    MosaicBuf(-1L, 0, 0, 0, 0, Array.empty, Array.empty)

  private def fromPatch(p: TilePatch): MosaicBuf = {
    val n = p.h * p.w
    val vals = new Array[Double](n)
    val seqs = new Array[Int](n)
    var i = 0
    while (i < n) {
      if (p.covered(i)) { vals(i) = p.payload(i); seqs(i) = p.seq }
      else { vals(i) = Double.NaN; seqs(i) = Int.MinValue }
      i += 1
    }
    MosaicBuf(p.cellId, p.row0, p.col0, p.h, p.w, vals, seqs)
  }

  override def reduce(b: MosaicBuf, p: TilePatch): MosaicBuf = {
    if (b.cellId == -1L) fromPatch(p)
    else {
      require(b.cellId == p.cellId && b.h == p.h && b.w == p.w,
        s"patch shape mismatch on cell ${p.cellId}")
      var i = 0
      val n = b.h * b.w
      while (i < n) {
        if (p.covered(i) && p.seq > b.seqs(i)) {
          b.values(i) = p.payload(i)
          b.seqs(i) = p.seq
        }
        i += 1
      }
      b
    }
  }

  override def merge(a: MosaicBuf, b: MosaicBuf): MosaicBuf = {
    if (a.cellId == -1L) b
    else if (b.cellId == -1L) a
    else {
      var i = 0
      val n = a.h * a.w
      while (i < n) {
        if (b.seqs(i) > a.seqs(i)) {
          a.values(i) = b.values(i)
          a.seqs(i) = b.seqs(i)
        }
        i += 1
      }
      a
    }
  }

  override def finish(b: MosaicBuf): Tile =
    Tile(b.cellId, b.row0, b.col0, b.h, b.w, b.values)

  override def bufferEncoder: Encoder[MosaicBuf] = Encoders.product[MosaicBuf]
  override def outputEncoder: Encoder[Tile] = Encoders.product[Tile]
}

/** Gather-style regrids (reference grid_resample_nearest / assign_to,
  * Raster.py:457-515): requests are generated per target TILE — one row
  * per (source cell, target tile) pair, NOT per pixel (a 10^13-pixel
  * design-point regrid shuffles numTiles descriptor rows, each a few
  * hundred bytes). The request side equi-joins source tiles on the
  * Z-ordered source cell id, a cogroup keyed by target tile assembles the
  * few source fragments, and the per-pixel map2sub gather runs INSIDE the
  * payload kernel. Targets with no source coverage still emit (all-NaN)
  * tiles via the cogroup's left side. */
object Gather {
  import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
  import org.apache.spark.sql.functions._
  import graft.core._

  /** One target tile's read request for one source cell. */
  final case class TileReq(srcCell: Long, tTile: Long)

  /** Source cells covered by the target tile's pixel window mapped into
    * source pixel space (bbox of the 4 corner pixel centers), padded by
    * `halo` source pixels and clamped to the source grid. */
  private[operators] def srcCover(srcRef: GridRef, targetRef: GridRef,
      row0: Int, col0: Int, h: Int, w: Int, res: Int, halo: Int): Array[Long] = {
    var rMin = Double.MaxValue; var rMax = Double.MinValue
    var cMin = Double.MaxValue; var cMax = Double.MinValue
    for (r <- Seq(row0, row0 + h - 1); c <- Seq(col0, col0 + w - 1)) {
      val (x, y) = targetRef.sub2map(r, c)
      val (fr, fc) = srcRef.map2subFrac(x, y)
      if (fr < rMin) rMin = fr; if (fr > rMax) rMax = fr
      if (fc < cMin) cMin = fc; if (fc > cMax) cMax = fc
    }
    // clamp BOTH ends into the grid: a tile mapping fully outside still
    // covers the nearest edge cells (assign_to clamp mode reads them);
    // non-clamp gathers just NaN those pixels in the kernel
    def cl(v: Long, n: Int): Long = math.max(0L, math.min(n - 1L, v))
    val r0 = cl(math.floor(rMin).toLong - halo, srcRef.nrows)
    val r1 = cl(math.ceil(rMax).toLong + halo, srcRef.nrows)
    val c0 = cl(math.floor(cMin).toLong - halo, srcRef.ncols)
    val c1 = cl(math.ceil(cMax).toLong + halo, srcRef.ncols)
    CellId.coverWindow(r0, r1, c0, c1, res)
  }

  /** Shared cogroup harness: target tiles x their source fragments ->
    * per-tile gather kernel -> target TILES (the unit every downstream
    * operator consumes; explode to rows only at comparison boundaries). */
  private[operators] def gatherTileDs(srcTiles: Dataset[Tile], srcRef: GridRef,
      targetRef: GridRef, res: Int, halo: Int)(
      pixel: (Int, Int, scala.collection.mutable.LongMap[Tile]) => Double)
      : Dataset[Tile] =
    gatherTileDsCover(srcTiles, targetRef, res)(
      (row0, col0, h, w) => srcCover(srcRef, targetRef, row0, col0, h, w, res, halo))(
      pixel)

  /** Harness variant with a caller-supplied cover function (row0, col0,
    * h, w of the target tile -> source cells it reads) — used by the
    * nonlinear reproject warp where the affine corner bbox is not sound. */
  private[operators] def gatherTileDsCover(srcTiles: Dataset[Tile],
      targetRef: GridRef, res: Int)(
      cover: (Int, Int, Int, Int) => Array[Long])(
      pixel: (Int, Int, scala.collection.mutable.LongMap[Tile]) => Double)
      : Dataset[Tile] = {
    val spark = srcTiles.sparkSession
    import spark.implicits._
    val size = 1 << res
    val tilesX = (targetRef.ncols + size - 1) / size
    val tilesY = (targetRef.nrows + size - 1) / size
    val (tNrows, tNcols) = (targetRef.nrows, targetRef.ncols)

    val targets = spark.range(tilesX.toLong * tilesY).map(_.toLong)
    val reqs = targets.flatMap { i =>
      val tx = (i % tilesX).toInt
      val ty = (i / tilesX).toInt
      val row0 = ty * size; val col0 = tx * size
      val h = math.min(size, tNrows - row0)
      val w = math.min(size, tNcols - col0)
      cover(row0, col0, h, w).iterator.map(c => TileReq(c, i))
    }
    val frags = reqs.joinWith(srcTiles, reqs("srcCell") === srcTiles("cellId"))
      .map { case (req, tile) => (req.tTile, tile) }
    targets.groupByKey(identity).cogroup(frags.groupByKey(_._1)) {
      (i, _, fIt) =>
        val tx = (i % tilesX).toInt
        val ty = (i / tilesX).toInt
        val row0 = ty * size; val col0 = tx * size
        val h = math.min(size, tNrows - row0)
        val w = math.min(size, tNcols - col0)
        val byCell = new scala.collection.mutable.LongMap[Tile]()
        fIt.foreach(f => byCell(f._2.cellId) = f._2)
        val payload = new Array[Double](h * w)
        var k = 0
        var r = 0
        while (r < h) {
          var c = 0
          while (c < w) {
            payload(k) = pixel(row0 + r, col0 + c, byCell)
            k += 1; c += 1
          }
          r += 1
        }
        Iterator.single(Tile(CellId.encode(res, tx, ty), row0, col0, h, w, payload))
    }
  }

  /** Row-level variant of [[gatherTileDs]] (NaN -> null v). */
  private[operators] def gatherTiles(srcTiles: Dataset[Tile], srcRef: GridRef,
      targetRef: GridRef, res: Int, halo: Int)(
      pixel: (Int, Int, scala.collection.mutable.LongMap[Tile]) => Double)
      : DataFrame =
    TileOps.cells(gatherTileDs(srcTiles, srcRef, targetRef, res, halo)(pixel))

  /** nearest regrid; `clamp=true` = assign_to edge clamping
    * (Raster.py:505-508), else out-of-source targets yield null. */
  def resampleNearest(srcTiles: Dataset[Tile], srcRef: GridRef,
      targetRef: GridRef, res: Int, clamp: Boolean): DataFrame =
    TileOps.cells(resampleNearestTiles(srcTiles, srcRef, targetRef, res, clamp))

  /** Tile-level nearest regrid (feeds merge and further tile ops). */
  def resampleNearestTiles(srcTiles: Dataset[Tile], srcRef: GridRef,
      targetRef: GridRef, res: Int, clamp: Boolean): Dataset[Tile] = {
    val (sNrows, sNcols) = (srcRef.nrows, srcRef.ncols)
    gatherTileDs(srcTiles, srcRef, targetRef, res, halo = 1) { (tr, tc, byCell) =>
      val (x, y) = targetRef.sub2map(tr, tc)
      val (sr0, sc0) = srcRef.map2sub(x, y)
      val (sr, sc) =
        if (clamp)
          (math.max(0, math.min(sNrows - 1, sr0)), math.max(0, math.min(sNcols - 1, sc0)))
        else (sr0, sc0)
      if (sr < 0 || sr >= sNrows || sc < 0 || sc >= sNcols) Double.NaN
      else byCell.get(CellId.ofPixel(sr.toLong, sc.toLong, res)) match {
        case Some(t) => t.value(sr, sc)
        case None => Double.NaN
      }
    }
  }
}

/** line2sub as a generator (reference Raster.line2sub, Raster.py:340-366):
  * polyline -> ordered cell subscripts; per segment steps =
  * max(|drow|,|dcol|)+1 linspace points rounded half-even, segment-end
  * dropped unless final, out-of-grid filtered. */
object Line2Sub {
  import org.apache.spark.sql.{DataFrame, Dataset}
  import graft.core._

  final case class LineRec(lineId: Long, xs: Array[Double], ys: Array[Double])

  def cells(lines: Dataset[LineRec], ref: GridRef): DataFrame = {
    import lines.sparkSession.implicits._
    lines.flatMap { ln =>
      RefKernel.line2sub(ref, ln.xs, ln.ys).iterator.zipWithIndex.map {
        case ((r, c), seq) => (ln.lineId, seq.toLong, r.toLong, c.toLong)
      }
    }.toDF("line_id", "seq", "row", "col")
  }
}

/** Bilinear regrid (reference resample 'bilinear' kernel, Raster.py:382-384
  * via rasterio): each target pixel interpolates the 2x2 source-pixel-center
  * neighborhood. Runs on the same tile-granular gather harness as the
  * nearest regrid (halo = 1 source pixel so the 2x2 corners of edge target
  * pixels are always in the fragment map). NaN if any corner is NaN or
  * outside the source grid. */
object Bilinear {
  import org.apache.spark.sql.{DataFrame, Dataset}
  import graft.core._

  def resample(srcTiles: Dataset[Tile], srcRef: GridRef, targetRef: GridRef,
      res: Int): DataFrame =
    TileOps.cells(resampleTiles(srcTiles, srcRef, targetRef, res))

  /** Tile-level bilinear regrid (feeds merge and further tile ops). */
  def resampleTiles(srcTiles: Dataset[Tile], srcRef: GridRef,
      targetRef: GridRef, res: Int): Dataset[Tile] = {
    val (sNrows, sNcols) = (srcRef.nrows, srcRef.ncols)
    Gather.gatherTileDs(srcTiles, srcRef, targetRef, res, halo = 1) {
      (tr, tc, byCell) =>
        val (x, y) = targetRef.sub2map(tr, tc)
        val (fr, fc) = srcRef.map2subFrac(x, y)
        val fl = math.floor(fr).toInt
        val cl = math.floor(fc).toInt
        if (fl < 0 || cl < 0 || fl + 1 >= sNrows || cl + 1 >= sNcols) Double.NaN
        else {
          val dr = fr - fl
          val dc = fc - cl
          def at(r: Int, c: Int): Double =
            byCell.get(CellId.ofPixel(r.toLong, c.toLong, res)) match {
              case Some(t) => t.value(r, c)
              case None => Double.NaN
            }
          val tl = at(fl, cl)
          val tr2 = at(fl, cl + 1)
          val bl = at(fl + 1, cl)
          val br = at(fl + 1, cl + 1)
          if (tl.isNaN || tr2.isNaN || bl.isNaN || br.isNaN) Double.NaN
          else (1 - dr) * ((1 - dc) * tl + dc * tr2) +
            dr * ((1 - dc) * bl + dc * br)
        }
    }
  }
}

/** clip-by-polygon (reference `Raster.clip`, Raster.py:235-275 =
  * rasterio.mask.mask(crop=True)): a raster<->vector SEMI-JOIN — tiles
  * whose cell cover intersects the polygons survive the cell_id filter
  * (pruning BEFORE payload work), then a pixel-center PIP mask kernel sets
  * outside-polygon cells to NaN; crop = drop tiles left with no valid
  * pixel. Features broadcast (small side); a huge feature set would swap
  * the semi-join build side. */
object ClipPolygon {
  import org.apache.spark.sql.Dataset
  import graft.core._

  def apply(tiles: Dataset[Tile], ref: GridRef, res: Int,
      features: Seq[Feature]): Dataset[Tile] = {
    import tiles.sparkSession.implicits._
    val cover = features
      .flatMap(f => CellId.coverPolygon(ref, f.xs.zip(f.ys), res))
      .toSet
    // geometry + precomputed bbox per feature: the mask kernel first
    // selects ONLY the features whose bbox intersects the tile window
    // (the burn kernel's trick, Rasterize cover/bbox restriction), so the
    // per-pixel loop is bounded by the tile's OVERLAP count, not the total
    // feature count F — at thousands of features the per-pixel O(F) scan
    // was the kernel's scale hole.
    val bc = tiles.sparkSession.sparkContext.broadcast(
      features.map { f =>
        var xmin = Double.MaxValue; var xmax = Double.MinValue
        var ymin = Double.MaxValue; var ymax = Double.MinValue
        var k = 0
        while (k < f.xs.length) {
          val x = f.xs(k); val y = f.ys(k)
          if (x < xmin) xmin = x; if (x > xmax) xmax = x
          if (y < ymin) ymin = y; if (y > ymax) ymax = y
          k += 1
        }
        (f.xs, f.ys, xmin, xmax, ymin, ymax)
      }.toArray)
    val cs = ref.cellsize
    val (gLeft, gTop) = (ref.left, ref.top)
    tiles
      .filter(TileOps.coverPredicate(cover.toArray)) // semi-join Z-range prune
      .map { t =>
        // candidate features for THIS tile: bbox vs tile pixel-window extent
        val txMin = gLeft + t.col0 * cs
        val txMax = gLeft + (t.col0 + t.w) * cs
        val tyMax = gTop - t.row0 * cs
        val tyMin = gTop - (t.row0 + t.h) * cs
        val cand = bc.value.filter { case (_, _, xmin, xmax, ymin, ymax) =>
          xmax >= txMin && xmin <= txMax && ymax >= tyMin && ymin <= tyMax
        }
        val out = new Array[Double](t.payload.length)
        var i = 0
        while (i < out.length) {
          val r = t.row0 + i / t.w
          val c = t.col0 + i % t.w
          val px = gLeft + (c + 0.5) * cs
          val py = gTop - (r + 0.5) * cs
          var inside = false
          var k = 0
          while (k < cand.length && !inside) {
            val f = cand(k)
            // per-pixel bbox rejection before the O(vertices) PIP
            if (px >= f._3 && px <= f._4 && py >= f._5 && py <= f._6)
              inside = RefKernel.pointInPolygon(px, py, f._1, f._2)
            k += 1
          }
          out(i) = if (inside) t.payload(i) else Double.NaN
          i += 1
        }
        Tile(t.cellId, t.row0, t.col0, t.h, t.w, out)
      }
      .filter(_.validCount > 0) // crop: all-nodata tiles dropped
  }
}

/** Scalar tile transforms (reference to_int Raster.py:152-165, rank
  * classification grid_show.py:320-332, mapshow/rankshow rendering). */
object TileFns {
  import org.apache.spark.sql.Dataset
  import graft.core._
  import graft.codecs.ImageCodec

  /** Round-half-even cast like the reference to_int (Math.rint = np.around). */
  def toInt(tiles: Dataset[Tile]): Dataset[Tile] = {
    import tiles.sparkSession.implicits._
    tiles.map { t =>
      val out = t.payload.map(v => if (v.isNaN) v else Math.rint(v))
      Tile(t.cellId, t.row0, t.col0, t.h, t.w, out)
    }
  }

  /** Rank classification (grid_show._set_color_rank): bucket k for
    * breaks(k-1) <= v < breaks(k); v < breaks(0) -> NaN (nodata-classed);
    * v >= last break -> open-ended top bucket. */
  def classify(tiles: Dataset[Tile], breaks: Array[Double]): Dataset[Tile] = {
    import tiles.sparkSession.implicits._
    tiles.map { t =>
      val out = t.payload.map { v =>
        if (v.isNaN || v < breaks(0)) Double.NaN
        else {
          var k = breaks.length // open-ended top
          var i = 1
          var done = false
          while (i < breaks.length && !done) {
            if (v < breaks(i)) { k = i; done = true }
            i += 1
          }
          k.toDouble
        }
      }
      Tile(t.cellId, t.row0, t.col0, t.h, t.w, out)
    }
  }

  /** Render a tile to a grayscale PNG (mapshow's pixel content without
    * matplotlib styling): values scaled to [lo, hi] -> 16-bit gray. */
  def renderPng(tiles: Dataset[Tile], lo: Double, hi: Double)
      : Dataset[(Long, Array[Byte])] = {
    import tiles.sparkSession.implicits._
    // constant raster (lo == hi): render flat 0, not 0/0 = NaN-as-nodata
    // everywhere (same guard GifWriter/MjpegAvi use)
    val span = if (hi > lo) hi - lo else 1.0
    tiles.map { t =>
      val scaled = t.payload.map(v =>
        if (v.isNaN) Double.NaN else (v - lo) / span * 1000.0)
      (t.cellId, ImageCodec.encodePng(scaled, t.w, t.h))
    }
  }
}

/** Cellsize-changing resample + cross-resolution merge (reference
  * `Raster.resample` Raster.py:369-405 for nearest/bilinear at an
  * arbitrary new cellsize, and module-level `merge` Raster.py:873-894). */
object Regrid {
  import org.apache.spark.sql.Dataset
  import graft.core._

  /** Resample to a new cellsize: dims = np.around(n * old/new) (the
    * reference's rint), the origin's TOP-LEFT corner preserved (rasterio
    * scales the transform about it). Window-agg methods live in
    * [[Downsample]]; here nearest/bilinear cover the reference's
    * up/downscale default paths. */
  def resampleToCellsize(tiles: Dataset[Tile], srcRef: GridRef,
      newCellsize: Double, method: String, res: Int)
      : (Dataset[Tile], GridRef) = {
    val ratio = srcRef.cellsize / newCellsize
    val nr = Math.rint(srcRef.nrows * ratio).toInt
    val nc = Math.rint(srcRef.ncols * ratio).toInt
    require(nr > 0 && nc > 0, s"degenerate resample dims ($nr x $nc)")
    val ref2 = GridRef(nc, nr, srcRef.left, srcRef.top - nr * newCellsize,
      newCellsize, srcRef.nodata, srcRef.crs)
    val out = method match {
      case "bilinear" => Bilinear.resampleTiles(tiles, srcRef, ref2, res)
      case "nearest" => Gather.resampleNearestTiles(tiles, srcRef, ref2, res,
        clamp = false)
      case other => throw new IllegalArgumentException(
        s"resampleToCellsize supports nearest|bilinear, got $other " +
          "(window-agg methods: Downsample.stats)")
    }
    (out, ref2)
  }

  /** merge (Raster.py:873-894): when cellsizes differ the origin raster is
    * first resampled to the target's cellsize (default bilinear), then
    * every non-NaN origin pixel overwrites the target pixel its center
    * falls on (NaN-ignoring last-wins = alignedPatches(coverAll=false) +
    * mosaic — one shuffle on the target tiling). */
  def mergeInto(base: Dataset[Tile], baseRef: GridRef,
      over: Dataset[Tile], overRef: GridRef, res: Int,
      method: String = "bilinear"): Dataset[Tile] = {
    val (ov, ovRef) =
      if (overRef.cellsize == baseRef.cellsize) (over, overRef)
      else resampleToCellsize(over, overRef, baseRef.cellsize, method, res)
    TileOps.mosaic(TileOps.asPatches(base, seq = 0)
      .union(TileOps.alignedPatches(ov, ovRef, baseRef, res, seq = 1,
        coverAll = false)))
  }
}
