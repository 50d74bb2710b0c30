package hrbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.operators.{Flow, Knn, PtRec, Stencil, TileOps}

/** dem_hydrology: hydro-raster's interpolate-then-route workflow. Scattered
  * points are interpolated by nearest neighbour onto the DEM grid, the
  * cells are reassembled into tiles, sinks are filled, and D8 direction,
  * accumulation and terrain indices run on the filled DEM. Nearest-
  * neighbour plateaus are the flats that stress fill and D8. Every step's
  * output is forced on its own (the filled DEM has three consumers), so a
  * traced pass runs the same jobs as an untraced one. */
final class DemHydrology(sz: Sizes, seed: Long) extends Workload {
  val name = "dem_hydrology"
  val steps = Seq("knn.interp", "tileops.assemble", "flow.fill", "flow.dir",
    "flow.acc", "stencil.indices")

  private val side = sz.demSide
  private val res = 8
  private val ref = GridRef(side, side, 0.0, 0.0, 5.0)
  private val nCells = ref.numCells
  val cells: Long = nCells
  private val (p1, p2, p3) = (Common.phase(seed, 1), Common.phase(seed, 2), Common.phase(seed, 3))

  /** Smooth seeded terrain with a west-to-east tilt. */
  private def terrain(x: Double, y: Double): Double =
    200.0 + 30.0 * math.sin(x / 900.0 + p1) + 25.0 * math.cos(y / 700.0 + p2) +
      8.0 * math.sin((x - y) / 250.0 + p3) - 0.004 * x

  /** Expected sum (wrapping) of mix(cell index) over every cell once. */
  private lazy val cellHashSum: Long = {
    var s = 0L
    var i = 0L
    while (i < nCells) { s += Common.mix(i); i += 1 }
    s
  }

  def prepare(spark: => SparkSession): Unit = ()

  private var pts: Dataset[PtRec] = _

  def load(spark: SparkSession): Unit = {
    import spark.implicits._
    val (s, r, np) = (seed, ref, sz.demPoints)
    val (a1, a2, a3) = (p1, p2, p3)
    pts = spark.range(np.toLong).map { i =>
      val x = r.left + Common.u01(s, i, 0) * r.ncols * r.cellsize
      val y = r.bottom + Common.u01(s, i, 1) * r.nrows * r.cellsize
      PtRec(i, x, y, 200.0 + 30.0 * math.sin(x / 900.0 + a1) + 25.0 * math.cos(y / 700.0 + a2) +
        8.0 * math.sin((x - y) / 250.0 + a3) - 0.004 * x)
    }
  }

  /** kNN answers every cell exactly once: the row count and the sum of a
    * hash of the cell index both match a grid with each cell once. */
  def checkKnn(knn: DataFrame): Check = {
    import knn.sparkSession.implicits._
    val nc = side.toLong
    val (cnt, hs) = knn.select($"row".cast("long"), $"col".cast("long")).as[(Long, Long)]
      .mapPartitions { it =>
        var c = 0L; var h = 0L
        it.foreach { case (r, cc) => c += 1; h += Common.mix(r * nc + cc) }
        Iterator((c, h))
      }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    Check("knn.interp", cnt == nCells && hs == cellHashSum,
      s"kNN emitted $cnt rows (expected $nCells), cell-hash sum ${if (hs == cellHashSum) "ok" else "differs"}")
  }

  /** Fill never lowers a valid cell and keeps it valid; returns the check
    * and the number of valid DEM cells. */
  def checkFill(dem: Dataset[Tile], filled: Dataset[Tile]): (Check, Long) = {
    import dem.sparkSession.implicits._
    val (valid, bad) = dem.joinWith(filled, dem("cellId") === filled("cellId"), "left_outer")
      .map { case (d, f) =>
        var v = 0L; var b = 0L
        var i = 0
        while (i < d.payload.length) {
          val z = d.payload(i)
          if (!z.isNaN) {
            v += 1
            if (f == null || f.payload.length != d.payload.length ||
              !(f.payload(i) >= z)) b += 1
          }
          i += 1
        }
        (v, b)
      }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    (Check("flow.fill", bad == 0, s"$bad of $valid valid cells were lowered or lost by fill"), valid)
  }

  def checkRows(step: String, rows: Long, valid: Long): Check =
    Check(step, rows == valid, s"$step emitted $rows rows for $valid valid cells")

  /** D8 and accumulation each emit one row per valid cell, and every
    * cell's flow ends at exactly one terminal cell (D8 code 0, or a target
    * off the grid), so accumulation summed over the terminal cells counts
    * every valid cell once. Every cell of this DEM is valid (the fill
    * check counts them), so an on-grid target is a valid cell. */
  def checkDirAcc(dir: DataFrame, acc: DataFrame, valid: Long): Seq[Check] = {
    val codes = Seq(1 -> (0, 1), 2 -> (1, 1), 4 -> (1, 0), 8 -> (1, -1),
      16 -> (0, -1), 32 -> (-1, -1), 64 -> (-1, 0), 128 -> (-1, 1))
    def delta(axis: Int) = codes.foldLeft(lit(0)) { case (e, (code, d)) =>
      when(col("dir") === code, lit(if (axis == 0) d._1 else d._2)).otherwise(e) }
    val tr = col("row") + delta(0)
    val tc = col("col") + delta(1)
    val terminal = col("dir") === 0 || tr < 0 || tc < 0 || tr >= side || tc >= side
    val r = acc.join(dir, Seq("row", "col"), "full_outer")
      .agg(count(col("dir")), count(col("acc")),
        sum(when(terminal, col("acc")).otherwise(lit(0L))))
      .collect()(0)
    val (dirRows, accRows) = (r.getLong(0), r.getLong(1))
    val total = if (r.isNullAt(2)) 0L else r.getLong(2)
    Seq(checkRows("flow.dir", dirRows, valid), checkRows("flow.acc", accRows, valid),
      Check("flow.acc", total == valid,
        s"accumulation over terminal cells is $total for $valid valid cells"))
  }

  def pass(spark: SparkSession, tr: Tracer, work: File): PassResult = {
    val ((knn, tiles, filled, dir, acc, idxRows), secs, heap) = Common.measure {
      val knn = tr.step("knn.interp")(
        Knn.nearestBucketed(spark, pts, ref, res = 6, ringK = 1).localCheckpoint(true))
      val tiles = tr.step("tileops.assemble")(
        TileOps.tilesFromCells(knn, ref, res).localCheckpoint(true))
      val filled = tr.step("flow.fill")(Flow.fillSinksTiles(tiles, ref, res).localCheckpoint(true))
      val dir = tr.step("flow.dir")(Flow.flowDir(filled, ref, res).localCheckpoint(true))
      val acc = tr.step("flow.acc")(Flow.flowAcc(filled, ref, res).localCheckpoint(true))
      val idx = tr.step("stencil.indices")(Stencil.terrainIndices(filled, ref, res).count())
      (knn, tiles, filled, dir, acc, idx)
    }
    val counts = if (tr.active) Map("knn.interp.cells" -> knn.count().toDouble) else Map.empty[String, Double]
    PassResult(secs, heap, counts, () => {
      val (fillCheck, valid) = checkFill(tiles, filled)
      Seq(checkKnn(knn), fillCheck, checkRows("stencil.indices", idxRows, valid)) ++
        checkDirAcc(dir, acc, valid)
    })
  }

  def selfTest(spark: SparkSession, work: File): Seq[String] = {
    import spark.implicits._
    val knn = Knn.nearestBucketed(spark, pts, ref, res = 6, ringK = 1).localCheckpoint(true)
    val tiles = TileOps.tilesFromCells(knn, ref, res).localCheckpoint(true)
    val filled = Flow.fillSinksTiles(tiles, ref, res).localCheckpoint(true)
    val dir = Flow.flowDir(filled, ref, res).localCheckpoint(true)
    val acc = Flow.flowAcc(filled, ref, res).localCheckpoint(true)
    val valid = checkFill(tiles, filled)._2
    // one cell answered twice and another not at all: the row count holds
    val dupCell = knn.withColumn("row", when($"row" === 0 && $"col" === 0, lit(0))
      .otherwise($"row")).withColumn("col", when($"row" === 0 && $"col" === 0, lit(1))
      .otherwise($"col"))
    val first = tiles.head().cellId
    val lowered = filled.map(t =>
      if (t.cellId == first) t.copy(payload = t.payload.updated(0, t.payload(0) - 1.0)) else t)
    val idxRows = Stencil.terrainIndices(filled, ref, res).count()
    val plusOne = acc.withColumn("acc", $"acc" + 1)
    val notOrigin = !($"row" === 0 && $"col" === 0)
    Seq(
      "kNN cell answered twice" -> Seq(checkKnn(dupCell)),
      "fill lowered a cell" -> Seq(checkFill(tiles, lowered)._1),
      "D8 missing a row" -> checkDirAcc(dir.filter(notOrigin), acc, valid),
      "accumulation missing a row" -> checkDirAcc(dir, acc.filter(notOrigin), valid),
      "accumulation off by one" -> checkDirAcc(dir, plusOne, valid),
      "indices missing a row" -> Seq(checkRows("stencil.indices", idxRows - 1, valid))
    ).collect { case (what, cs) if cs.forall(_.error.isEmpty) => what }
  }
}
