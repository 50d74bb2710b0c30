package graft.operators

import scala.util.Random
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** The block burn (one pixel block per cell band, one explode to pixels)
  * against a brute per-pixel last-wins burn over the whole grid. */
class BurnBlockSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  // 300 x 170 at res 5: the last column and row of 32-px cells are partial
  val ref = GridRef(ncols = 300, nrows = 170, xll = 0, yll = 0, cellsize = 1)
  val res = 5

  /** Star-shaped polygons (some crossing the grid edges, every fourth with
    * a NaN attribute), a bow-tie, a box whose edges sit on pixel centers,
    * and exact duplicates that differ only in `seq`, one of them burned
    * after a feature it overlaps. */
  lazy val features: Seq[Feature] = {
    val rnd = new Random(17)
    val stars = (0 until 14).map { i =>
      val (cx, cy) = (rnd.nextDouble() * 340 - 20, rnd.nextDouble() * 210 - 20)
      val rad = 3 + rnd.nextDouble() * 60
      val angles = Array.fill(3 + rnd.nextInt(5))(rnd.nextDouble() * 2 * math.Pi).sorted
      val rs = angles.map(_ => rad * (0.4 + 0.6 * rnd.nextDouble()))
      Feature(i.toLong, "polygon", angles.indices.map(k => cx + rs(k) * math.cos(angles(k))).toArray,
        angles.indices.map(k => cy + rs(k) * math.sin(angles(k))).toArray,
        attr = if (i % 4 == 3) Double.NaN else rnd.nextInt(50).toDouble, seq = i)
    }
    val bowTie = Feature(14L, "polygon", Array(40.2, 120.7, 40.2, 120.7),
      Array(30.1, 90.3, 90.3, 30.1), attr = 77.0, seq = 14)
    val onCenters = Feature(15L, "polygon", Array(10.5, 60.5, 60.5, 10.5),
      Array(100.5, 100.5, 150.5, 150.5), attr = 88.0, seq = 15)
    val dups = Seq(stars(2), stars(3), onCenters, stars(2)).zipWithIndex.map {
      case (f, k) => f.copy(featureId = 16L + k, seq = 16 + k)
    }
    stars ++ Seq(bowTie, onCenters) ++ dups
  }

  /** Every pixel center of the grid tested against every feature in seq
    * order; a NaN burn value leaves the pixel unburned. */
  lazy val brute: Map[(Int, Int), Double] = {
    val out = Array.fill(ref.nrows * ref.ncols)(Double.NaN)
    for (f <- features.sortBy(_.seq); r <- 0 until ref.nrows; c <- 0 until ref.ncols)
      if (RefKernel.pointInPolygon(ref.left + (c + 0.5) * ref.cellsize,
          ref.top - (r + 0.5) * ref.cellsize, f.xs, f.ys))
        out(r * ref.ncols + c) = f.attr
    out.indices.filter(i => !out(i).isNaN)
      .map(i => (i / ref.ncols, i % ref.ncols) -> out(i)).toMap
  }

  /** A dense burn block (row0, col0, w, v) as its burned pixels. */
  private def pixelsOf(b: (Int, Int, Int, Array[Double])): Map[(Int, Int), Double] = {
    val (r0, c0, w, v) = b
    v.indices.filter(i => !v(i).isNaN).map(i => (r0 + i / w, c0 + i % w) -> v(i)).toMap
  }

  test("block burn == brute per-pixel last-wins burn at salt 1, 2, 7 and 300") {
    assert(brute.nonEmpty && brute.size < ref.numCells)
    for (salt <- Seq(1, 2, 7, 300)) {
      val acc = spark.sparkContext.longAccumulator(s"burned-px-$salt")
      val got = Rasterize.burnSalted(
        Rasterize.cover(spark, features, ref, res, useAttr = true), ref, salt, Some(acc))
        .collect()
      assert(got.length == brute.size, s"salt=$salt")
      assert(got.map(p => (p.row, p.col) -> p.v).toMap == brute, s"salt=$salt")
      assert(acc.value == got.length, s"salt=$salt")
    }
    val auto = Rasterize(spark, features, ref, res, useAttr = true).collect()
    assert(auto.map(p => (p.row, p.col) -> p.v).toMap == brute)
  }

  test("salted bands are disjoint row ranges of the cell's block; empty bands emit nothing") {
    val tasks = Rasterize.cover(spark, features, ref, res, useAttr = true).collect()
    val byCell = tasks.groupBy(_.cellId)
    var bandsChecked = 0
    byCell.foreach { case (cid, ts) =>
      val whole = Rasterize.burnBand(cid, ts, 0, 1, ref, None).toSeq
      assert(whole.size <= 1)
      for (salt <- Seq(2, 7, 300)) {
        val bands = (0 until salt).flatMap(s => Rasterize.burnBand(cid, ts, s, salt, ref, None))
        // every emitted band burned something, and the bands tile the block
        assert(bands.forall(b => b._4.exists(!_.isNaN)))
        val rows = bands.flatMap(b => b._1 until b._1 + b._4.length / b._3)
        assert(rows.distinct.size == rows.size, s"cell $cid salt $salt: bands overlap")
        assert(bands.map(pixelsOf).foldLeft(Map.empty[(Int, Int), Double])(_ ++ _) ==
          whole.headOption.map(pixelsOf).getOrElse(Map.empty), s"cell $cid salt $salt")
        if (salt == 300) {
          // no cell window has 300 rows: each band is at most one row
          assert(bands.forall(_._4.length == bands.head._3))
          assert(bands.size < salt)
          bandsChecked += bands.size
        }
      }
    }
    assert(bandsChecked > 0)
  }

  test("burn plan: one posexplode and no per-pixel CellPx objects under an aggregate") {
    assert(PlanShape.assertOneExplode("burn",
      Rasterize(spark, features, ref, res, useAttr = true)) == brute.size)
  }
}
