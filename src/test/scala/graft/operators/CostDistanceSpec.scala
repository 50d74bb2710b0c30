package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{DriverGate, GridRef, Tile}
import graft.corpus.Synth

/** Cost distance: iterated tile-local Dijkstra vs a driver-global
  * whole-grid Dijkstra, on the DEM fixture at two tile sizes and on
  * random holed grids. Exact dyadic arithmetic makes == comparison
  * legitimate (no tolerance). */
class CostDistanceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val D8 = Array(
    (0, 1, 10L), (1, 1, 14L), (1, 0, 10L), (1, -1, 14L),
    (0, -1, 10L), (-1, -1, 14L), (-1, 0, 10L), (-1, 1, 14L))

  /** Whole-grid multi-source Dijkstra oracle. */
  private def globalDijkstra(v: (Int, Int) => Double, nrows: Int, ncols: Int,
      isSource: Double => Boolean): Map[(Long, Long), Double] = {
    val n = nrows * ncols
    val q = Array.tabulate(n)(i => v(i / ncols, i % ncols))
    val dist = Array.fill(n)(Double.PositiveInfinity)
    val done = new Array[Boolean](n)
    val pq = new java.util.PriorityQueue[(Double, Int)](
      (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(a._1, b._1))
    for (i <- 0 until n if !q(i).isNaN && isSource(q(i))) {
      dist(i) = 0.0; pq.add((0.0, i))
    }
    while (!pq.isEmpty) {
      val (d, u) = pq.poll()
      if (!done(u) && d == dist(u)) {
        done(u) = true
        val ur = u / ncols
        val uc = u % ncols
        for ((dr, dc, wgt) <- D8) {
          val rr = ur + dr
          val cc = uc + dc
          if (rr >= 0 && rr < nrows && cc >= 0 && cc < ncols) {
            val j = rr * ncols + cc
            if (!done(j) && !q(j).isNaN) {
              val cand = d + (q(u) + q(j)) * wgt
              if (cand < dist(j)) { dist(j) = cand; pq.add((cand, j)) }
            }
          }
        }
      }
    }
    (for (i <- 0 until n if !q(i).isNaN && dist(i) != Double.PositiveInfinity)
      yield ((i / ncols).toLong, (i % ncols).toLong) -> dist(i)).toMap
  }

  private def run(v: (Int, Int) => Double, ref: GridRef, res: Int,
      isSource: Double => Boolean): Map[(Long, Long), Double] = {
    val tiles = TileOps.tileGrid(spark, ref, res)(v)
    CostDistance.accumulate(tiles, ref, res, isSource)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
  }

  test("distributed == driver-global Dijkstra on the DEM fixture, two tile sizes") {
    val want = globalDijkstra(Synth.demValue, Synth.demRef.nrows,
      Synth.demRef.ncols, _ >= 240.0)
    for (res <- Seq(6, 7)) {
      val got = run(Synth.demValue, Synth.demRef, res, _ >= 240.0)
      assert(got == want, s"res=$res")
    }
  }

  test("random holed grids == driver-global (sparse sources force propagation)") {
    val rnd = new scala.util.Random(67)
    for (trial <- 0 until 3) {
      val nrows = 40 + rnd.nextInt(60)
      val ncols = 40 + rnd.nextInt(60)
      val ref = GridRef(ncols = ncols, nrows = nrows, xll = 0, yll = 0,
        cellsize = 5, nodata = -9999)
      val seed = rnd.nextInt(1 << 20)
      // deterministic per-cell value; ~1% sources, ~8% holes
      def v(r: Int, c: Int): Double = {
        val x = (r * 7919L + c * 104729L + seed) % 1000
        if (x % 13 == 5) Double.NaN else x / 4.0
      }
      val got = run(v, ref, 5, _ >= 247.5)
      val want = globalDijkstra(v, nrows, ncols, _ >= 247.5)
      assert(got == want, s"trial $trial ${nrows}x$ncols")
    }
  }

  test("cost-distance scale smoke: 1024x1024 (1M cells, 64 tiles) == global Dijkstra") {
    val n = 1024
    val ref = GridRef(ncols = n, nrows = n, xll = 0, yll = 0,
      cellsize = 5, nodata = -9999)
    // ~0.1% sources, ~5% holes — sparse sources force multi-round
    // halo propagation across many tile boundaries
    def v(r: Int, c: Int): Double = {
      val x = (r * 7919L + c * 104729L + 77L) % 4000
      if (x % 19 == 3) Double.NaN else x / 4.0
    }
    val got = run(v, ref, 7, _ >= 999.0) // x in {3996..3999} -> ~0.1%
    val want = globalDijkstra(v, n, n, _ >= 999.0)
    assert(got.size == want.size)
    assert(got == want)
  }

  test("empty cost tiling yields an empty result, not a crash") {
    val s = spark
    import s.implicits._
    val empty = s.emptyDataset[Tile]
    val ref = GridRef(ncols = 8, nrows = 8, xll = 0, yll = 0,
      cellsize = 5, nodata = -9999)
    assert(CostDistance.accumulate(empty, ref, 3, _ >= 0.0).count() == 0)
  }

  test("backlink: every cell's direction is the SMALLEST exact witness vs global Dijkstra") {
    val ref = Synth.demRef
    val want = globalDijkstra(Synth.demValue, ref.nrows, ref.ncols, _ >= 240.0)
    val tiles = TileOps.tileGrid(spark, ref, 6)(Synth.demValue)
    val got = CostDistance.backlink(tiles, ref, 6, _ >= 240.0)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(got.keySet == want.keySet, "backlink rows == reachable cells")
    got.foreach { case ((r, c), dir) =>
      val d = want((r, c))
      if (d == 0.0) assert(dir == 0L, s"source ($r,$c)")
      else {
        val q = Synth.demValue(r.toInt, c.toInt)
        // the chosen direction witnesses optimality...
        val (dr, dc, wgt) = D8(dir.toInt - 1)
        val dn = want((r + dr, c + dc))
        assert(dn + (Synth.demValue(r.toInt + dr, c.toInt + dc) + q) * wgt == d,
          s"witness at ($r,$c) dir $dir")
        // ...and no smaller direction does
        for (k <- 0 until dir.toInt - 1) {
          val (ar, ac, aw) = D8(k)
          val ok = want.get((r + ar, c + ac)).exists { dv =>
            !Synth.demValue(r.toInt + ar, c.toInt + ac).isNaN &&
              dv + (Synth.demValue(r.toInt + ar, c.toInt + ac) + q) * aw == d
          }
          assert(!ok, s"smaller witness $k exists at ($r,$c) but dir is $dir")
        }
      }
    }
  }

  test("leastCostPath: pointer-doubled enumeration == driver walk of the backlink") {
    val ref = Synth.demRef
    val tiles = TileOps.tileGrid(spark, ref, 6)(Synth.demValue)
    val bl = CostDistance.backlink(tiles, ref, 6, _ >= 240.0)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    val dist = globalDijkstra(Synth.demValue, ref.nrows, ref.ncols, _ >= 240.0)
    // driver oracle: follow the backlink chain step by step
    var cur = (200L, 150L)
    val wantPath = scala.collection.mutable.ArrayBuffer((cur, dist(cur)))
    while (bl(cur) != 0L) {
      val (dr, dc, _) = D8(bl(cur).toInt - 1)
      cur = (cur._1 + dr, cur._2 + dc)
      wantPath += ((cur, dist(cur)))
    }
    val got = CostDistance.leastCostPath(tiles, ref, 6, _ >= 240.0, 200, 150)
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)), x.getDouble(3)))
    assert(got.map(_._1).toSeq == got.indices.map(_.toLong), "pos contiguous from 0")
    assert(got.map(g => (g._2, g._3)).toSeq == wantPath.toSeq)
    assert(got.last._3 == 0.0, "path ends at a source")
    assert(got.map(_._3).toSeq == got.map(_._3).sorted.reverse.toSeq,
      "dist non-increasing")
    // a zero driver budget forces the pointer-doubling branch: both the
    // driver-walk hybrid and the distributed enumeration stay gated
    val got2 = DriverGate.withBudget(0) {
      CostDistance.leastCostPath(tiles, ref, 6, _ >= 240.0, 200, 150).collect()
    }.map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)), x.getDouble(3)))
    assert(got2.toSeq == got.toSeq, "doubling branch == driver-walk branch")
  }

  test("leastCostPath refuses an invalid target loudly") {
    val ref = GridRef(ncols = 21, nrows = 9, xll = 0, yll = 0,
      cellsize = 5, nodata = -9999)
    def v(r: Int, c: Int): Double =
      if (c == 10) Double.NaN else if (r == 4 && c == 2) 0.0 else 5.0
    val tiles = TileOps.tileGrid(spark, ref, 4)(v)
    intercept[IllegalArgumentException] {
      CostDistance.leastCostPath(tiles, ref, 4, _ == 0.0, 4, 15) // unreachable
    }
    intercept[IllegalArgumentException] {
      CostDistance.leastCostPath(tiles, ref, 4, _ == 0.0, 4, 10) // NaN cell
    }
  }

  test("unreachable pockets are omitted; sources map to 0") {
    // a grid split by a NaN wall: right half has no source -> omitted
    val ref = GridRef(ncols = 21, nrows = 9, xll = 0, yll = 0,
      cellsize = 5, nodata = -9999)
    def v(r: Int, c: Int): Double =
      if (c == 10) Double.NaN else if (r == 4 && c == 2) 0.0 else 5.0
    val got = run(v, ref, 4, _ == 0.0)
    assert(got((4L, 2L)) == 0.0)
    assert(got.keys.forall(_._2 < 10), "right of the wall must be unreachable")
    assert(got.size == 9 * 10) // full left half reached
  }
}
