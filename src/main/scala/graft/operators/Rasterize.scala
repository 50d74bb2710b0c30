package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.util.LongAccumulator
import graft.core._

/** Raster←vector burn join — the flagship operator (reference
  * `Raster.rasterize`, Raster.py:277-338), re-expressed as:
  *
  *   features --cell_cover generator--> (cell_id, feature)   [explode]
  *        groupBy cell_id (or (cell_id, band) when salted)    [shuffle]
  *   per-cell-band block kernel: pixel-center point-in-polygon,
  *   features applied in seq order so the LATER feature wins,
  *   one NaN-padded pixel block out per (cell, band)          [kernel]
  *   CellView: one posexplode of the blocks -> burned pixels  [explode]
  *
  * The shuffle key is the Z-ordered cell id, so at 100TB this is a
  * range-bucketed exchange; hot cells (many features) are split into row
  * bands by `burnSalted`, its salt chosen by `autoSalt` /
  * `autoSaltFromCover`.
  */
object Rasterize {

  /** One feature's burn task for one cell. */
  final case class CoverTask(cellId: Long, seq: Int, value: Double,
      xs: Array[Double], ys: Array[Double])

  /** Explode features to their cell covers. `useAttr=false` burns the
    * feature seq/index (the reference's `attribute=None` default,
    * Raster.py:316-330). */
  def cover(spark: SparkSession, features: Seq[Feature], ref: GridRef,
      res: Int, useAttr: Boolean): Dataset[CoverTask] =
    coverDs(spark.createDataset(features)(org.apache.spark.sql.Encoders.product[Feature]),
      ref, res, useAttr)

  /** Fully distributed cover explode over a feature DATASET — the scale
    * ingestion path: with millions of features the driver never sees a
    * geometry or a cover cell; the explode runs where the features live. */
  def coverDs(features: Dataset[Feature], ref: GridRef,
      res: Int, useAttr: Boolean): Dataset[CoverTask] = {
    import features.sparkSession.implicits._
    features.flatMap { f =>
      val burn = if (useAttr) f.attr else f.seq.toDouble
      CellId.coverPolygon(ref, f.xs.zip(f.ys), res)
        .map(cid => CoverTask(cid, f.seq, burn, f.xs, f.ys))
    }
  }

  /** Collapse EXACT duplicates (same geometry + same burn value) to the
    * max-seq representative: under sequential last-wins, re-burning an
    * identical shape is a no-op, so this is semantics-preserving — and on
    * skewed inputs (the same feature replicated many times onto one hot
    * cell) it removes the duplicate factor from the kernel cost. */
  private def dedupTasks(fs: Array[CoverTask]): Array[CoverTask] =
    fs.groupBy(f => (f.value, f.xs.toSeq, f.ys.toSeq))
      .map(_._2.maxBy(_.seq)).toArray.sortBy(_.seq)

  /** Even-odd SCANLINE burn of one pixel row [cFrom, cTo] of a polygon:
    * bit-identical pixel set to per-pixel [[RefKernel.pointInPolygon]] —
    * for fixed py the kernel's inside(px) is exactly the PARITY of
    * {crossing edges : px < xCross}, and the xCross values computed here
    * are the same doubles from the same formula — but at O(V + m log m +
    * W) per row instead of O(W * V): the crossing set is built once per
    * row and a single pointer sweep over the sorted crossings classifies
    * every pixel center. `emit` receives each inside column. */
  private def scanRow(xs: Array[Double], ys: Array[Double], py: Double,
      left: Double, cellsize: Double, cFrom: Int, cTo: Int,
      scratch: Array[Double])(emit: Int => Unit): Unit = {
    val n = xs.length
    var m = 0
    var i = 0
    var j = n - 1
    while (i < n) {
      val yi = ys(i); val yj = ys(j)
      if ((yi > py) != (yj > py)) {
        scratch(m) = (xs(j) - xs(i)) * (py - yi) / (yj - yi) + xs(i)
        m += 1
      }
      j = i
      i += 1
    }
    if (m > 0) {
      java.util.Arrays.sort(scratch, 0, m)
      var idx = 0 // count of crossings <= px so far (px increases with c)
      var c = cFrom
      while (c <= cTo) {
        val px = left + (c + 0.5) * cellsize
        while (idx < m && scratch(idx) <= px) idx += 1
        if (((m - idx) & 1) == 1) emit(c)
        c += 1
      }
    }
  }

  /** The burn kernel, for band `s` of `salt` of one cell: features are
    * applied in seq order, so the LATER feature wins (Raster.py:330
    * sequential burn), each scanned only over its pixel window (bbox ∩
    * cell window, clipped to the grid). The block spans the UNION of those
    * windows — a feature rarely fills its cell — and band `s` is the s-th
    * of `salt` contiguous row ranges of it, so one hot cell's work splits
    * across `salt` tasks while every pixel still sees all its features.
    * Emits at most one block, none for an empty band or one with nothing
    * burned, and adds its burned-pixel count to `burnedPx` once. The block
    * is dense for [[CellView]]: `(row0, col0, w, v)`, rows [row0, row0 +
    * v.length / w), NaN where no feature burned. */
  private[operators] def burnBand(cid: Long, tasks: Array[CoverTask], s: Int, salt: Int,
      ref: GridRef, burnedPx: Option[LongAccumulator])
      : Iterator[(Int, Int, Int, Array[Double])] = {
    val fs = dedupTasks(tasks)
    val (r0L, c0L, size) = CellId.pixelWindow(cid)
    val r0 = r0L.toInt
    val c0 = c0L.toInt
    val r1 = math.min(ref.nrows - 1, r0 + size - 1)
    val c1 = math.min(ref.ncols - 1, c0 + size - 1)
    // pixel centers at left+(c+0.5)cs are >= xmin iff c >= (xmin-left)/cs-0.5
    val wins = new Array[Int](fs.length * 4)
    var ur0 = Int.MaxValue; var ur1 = Int.MinValue
    var uc0 = Int.MaxValue; var uc1 = Int.MinValue
    var fi = 0
    while (fi < fs.length) {
      val f = fs(fi)
      var xmin = Double.MaxValue; var xmax = Double.MinValue
      var ymin = Double.MaxValue; var ymax = Double.MinValue
      var k = 0
      while (k < f.xs.length) {
        val x = f.xs(k); val y = f.ys(k)
        if (x < xmin) xmin = x; if (x > xmax) xmax = x
        if (y < ymin) ymin = y; if (y > ymax) ymax = y
        k += 1
      }
      val fr0 = math.max(r0, math.ceil((ref.top - ymax) / ref.cellsize - 0.5).toInt)
      val fr1 = math.min(r1, math.floor((ref.top - ymin) / ref.cellsize - 0.5).toInt)
      val fc0 = math.max(c0, math.ceil((xmin - ref.left) / ref.cellsize - 0.5).toInt)
      val fc1 = math.min(c1, math.floor((xmax - ref.left) / ref.cellsize - 0.5).toInt)
      wins(fi * 4) = fr0; wins(fi * 4 + 1) = fr1
      wins(fi * 4 + 2) = fc0; wins(fi * 4 + 3) = fc1
      if (fr0 <= fr1 && fc0 <= fc1) {
        ur0 = math.min(ur0, fr0); ur1 = math.max(ur1, fr1)
        uc0 = math.min(uc0, fc0); uc1 = math.max(uc1, fc1)
      }
      fi += 1
    }
    val uh = ur1.toLong - ur0 + 1
    val b0 = ur0 + (uh * s / salt).toInt
    val b1 = ur0 + (uh * (s + 1) / salt).toInt - 1
    if (ur0 > ur1 || uc0 > uc1 || b0 > b1) Iterator.empty
    else {
      val bw = uc1 - uc0 + 1
      val vals = Array.fill((b1 - b0 + 1) * bw)(Double.NaN)
      val scratch = new Array[Double](fs.map(_.xs.length).max)
      fi = 0
      while (fi < fs.length) {
        val f = fs(fi)
        val fr1 = math.min(b1, wins(fi * 4 + 1))
        var r = math.max(b0, wins(fi * 4))
        while (r <= fr1) {
          val py = ref.top - (r + 0.5) * ref.cellsize
          val rowBase = (r - b0) * bw - uc0
          scanRow(f.xs, f.ys, py, ref.left, ref.cellsize, wins(fi * 4 + 2),
            wins(fi * 4 + 3), scratch)(c => vals(rowBase + c) = f.value)
          r += 1
        }
        fi += 1
      }
      var n = 0L
      var i = 0
      while (i < vals.length) { if (!vals(i).isNaN) n += 1; i += 1 }
      if (n == 0) Iterator.empty
      else {
        burnedPx.foreach(_.add(n))
        Iterator.single((b0, uc0, bw, vals))
      }
    }
  }

  /** Burn: group cover tasks by cell and run the kernel once per cell.
    * Emits only burned pixels; the background stays NaN implicitly (out
    * array init, Raster.py:330). The crossing test is the same one
    * RefKernel.pointInPolygon makes — one boundary convention everywhere. */
  def burn(tasks: Dataset[CoverTask], ref: GridRef,
      burnedPx: Option[LongAccumulator] = None): Dataset[CellPx] =
    burnSalted(tasks, ref, 1, burnedPx)

  /** Skew statistic -> salt factor: max number of DISTINCT (value,
    * geometry) tasks landing on one cell (exact duplicates collapse in the
    * kernel, so they are not skew), computed driver-side from the feature
    * seq — no extra Spark job. A cell with F distinct features costs
    * F x cellArea in the PIP kernel; salting by ~F/8 splits that one hot
    * task into contiguous row bands while last-wins stays exact. */
  private[operators] def autoSalt(features: Seq[Feature], ref: GridRef,
      res: Int, useAttr: Boolean): Int = {
    // dedup the DISTINCT (value, geometry) tasks ONCE — O(#features)
    // vertex hashing — then count covers with plain Long keys. Keying a
    // seen-set by (cid, value, xs, ys) re-wrapped and re-hashed the full
    // vertex arrays once per covered cell: O(cells x vertices) driver CPU
    // serialized in front of every pipeline's job submission.
    val seenTasks =
      scala.collection.mutable.Set[(Double, Seq[Double], Seq[Double])]()
    val perCell = scala.collection.mutable.Map[Long, Int]().withDefaultValue(0)
    features.foreach { f =>
      val burnValue = if (useAttr) f.attr else f.seq.toDouble // kernel's dedup key
      if (seenTasks.add((burnValue, f.xs.toSeq, f.ys.toSeq)))
        // a distinct task covers each of its cells exactly once, so the
        // per-cell increment needs no per-cell dedup key
        CellId.coverPolygon(ref, f.xs.zip(f.ys), res).foreach(perCell(_) += 1)
    }
    val hot = if (perCell.isEmpty) 0 else perCell.values.max
    math.max(1, math.min(16, hot / 8))
  }

  /** The same skew statistic as [[autoSalt]], computed as a cheap
    * DISTRIBUTED aggregate over the already-exploded cover: max over cells
    * of distinct (value, geometry) tasks. No driver geometry walk — at
    * 100 TB the cover is exploded exactly once (persisted by the caller)
    * and this agg shuffles only (cellId, task-hash) pairs. */
  private[operators] def autoSaltFromCover(cover: Dataset[CoverTask]): Int = {
    import cover.sparkSession.implicits._
    val hotRow = cover
      .groupBy($"cellId")
      .agg(countDistinct(struct($"value", $"xs", $"ys")).as("n"))
      .agg(max($"n")).collect()
    val hot =
      if (hotRow.isEmpty || hotRow(0).isNullAt(0)) 0L else hotRow(0).getLong(0)
    math.max(1, math.min(16, (hot / 8).toInt))
  }

  /** End-to-end rasterize: features -> cover -> burn -> burned pixels.
    * Salt is selected AUTOMATICALLY from the hot-cell distinct-task max
    * (autoSalt); homogeneous covers take the plain single-task-per-cell
    * path (salt = 1). The driver-Seq form delegates to the Dataset form —
    * one distributed cover explode feeds both the skew agg and the burn. */
  def apply(spark: SparkSession, features: Seq[Feature], ref: GridRef,
      res: Int, useAttr: Boolean): Dataset[CellPx] =
    apply(spark, features, ref, res, useAttr, burnedPx = None)

  def apply(spark: SparkSession, features: Seq[Feature], ref: GridRef,
      res: Int, useAttr: Boolean,
      burnedPx: Option[LongAccumulator]): Dataset[CellPx] = {
    // features are already driver-resident here, so the skew statistic is
    // FREE on the driver (same max-distinct-tasks-per-cell number as
    // autoSaltFromCover) — routing it through the distributed agg would
    // prepend one blocking collect job to every call (measured ~20% of
    // the r4 bench pipeline wall; the Dataset form below keeps the
    // distributed agg for corpus-scale feature tables).
    val salt = autoSalt(features, ref, res, useAttr)
    val ds = spark.createDataset(features)(
      org.apache.spark.sql.Encoders.product[Feature])
    burnSalted(coverDs(ds, ref, res, useAttr), ref, salt, burnedPx)
  }

  /** Dataset[Feature] rasterize — the 100 TB ingestion API: cover explode,
    * skew statistic and burn are all executor-side. The cover is exploded
    * twice (salt agg + burn) rather than persisted: coverPolygon is cheap
    * next to the PIP burn, recomputation is deterministic, and a persist
    * here would leak one cached dataset per rasterize call (callers can
    * still persist `coverDs(...)` themselves and use `burnSalted` +
    * `autoSaltFromCover` directly when the explode dominates). */
  def apply(features: Dataset[Feature], ref: GridRef,
      res: Int, useAttr: Boolean,
      burnedPx: Option[LongAccumulator] = None): Dataset[CellPx] = {
    val salt = autoSaltFromCover(coverDs(features, ref, res, useAttr))
    burnSalted(coverDs(features, ref, res, useAttr), ref, salt, burnedPx)
  }

  /** SALTED burn for hot cells (many features on one cell id — the skew
    * the north rule calls out): every cover task is replicated to `salt`
    * sub-keys and each (cell, band) group burns one contiguous row band of
    * the cell's burn window, so one hot cell's work spreads across `salt`
    * tasks while last-wins stays exact (each pixel still sees ALL its
    * features, in seq order). salt = 1 is the plain burn: one group per
    * cell, no replication. */
  def burnSalted(tasks: Dataset[CoverTask], ref: GridRef, salt: Int,
      burnedPx: Option[LongAccumulator] = None): Dataset[CellPx] = {
    import tasks.sparkSession.implicits._
    val blocks =
      if (salt <= 1)
        tasks.groupByKey(_.cellId).flatMapGroups { (cid, it) =>
          burnBand(cid, it.toArray, 0, 1, ref, burnedPx)
        }
      else
        tasks.flatMap(t => (0 until salt).iterator.map(s => (s, t)))
          .groupByKey { case (s, t) => (t.cellId, s) }
          .flatMapGroups { (key: (Long, Int), it: Iterator[(Int, CoverTask)]) =>
            burnBand(key._1, it.map(_._2).toArray, key._2, salt, ref, burnedPx)
          }
    CellView(blocks.toDF("row0", "col0", "w", "v"), IntegerType, Seq("v")).as[CellPx]
  }

  /** Burned-pixel DataFrame joined back as a mask/edit layer: the tutorial
    * "edit DEM by features" pipeline (demo/tutorial_edit_DEM.ipynb cells
    * 4-12): burned value per pixel left-joined onto the DEM cells.
    * NO broadcast hint: burned area is O(feature area in pixels) — GBs at
    * scale — so this must stay a shuffled equi-join on (row, col); AQE
    * still demotes it to broadcast adaptively when the burn layer happens
    * to be small. */
  def editJoin(demCells: DataFrame, burned: Dataset[CellPx]): DataFrame = {
    val b = burned.toDF("row", "col", "burn")
    demCells.join(b, Seq("row", "col"), "left")
  }
}
