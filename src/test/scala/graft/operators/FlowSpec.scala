package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.corpus.Synth

/** D8 flow routing: distributed halo/condensation path vs a single-array
  * driver-global oracle (same rule, no tiling) on the DEM fixture. */
class FlowSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val Sqrt2 = math.sqrt(2.0)
  private val D8 = Array(
    (1, 0, 1), (2, 1, 1), (4, 1, 0), (8, 1, -1),
    (16, 0, -1), (32, -1, -1), (64, -1, 0), (128, -1, 1))

  /** Driver-global D8 over the whole grid as one array: (dir, acc). */
  private def globalFlow(ref: GridRef, f: (Int, Int) => Double)
      : (Map[(Int, Int), Int], Map[(Int, Int), Long]) = {
    val nr = ref.nrows
    val nc = ref.ncols
    val z = Array.tabulate(nr * nc)(i => f(i / nc, i % nc))
    val dir = new Array[Int](nr * nc)
    for (i <- z.indices) {
      if (z(i).isNaN) dir(i) = -1
      else {
        val r = i / nc; val c = i % nc
        var best = 0; var bestDrop = 0.0
        for ((code, dr, dc) <- D8) {
          val rr = r + dr; val cc = c + dc
          if (rr >= 0 && rr < nr && cc >= 0 && cc < nc && !z(rr * nc + cc).isNaN) {
            val dist = if (dr != 0 && dc != 0) ref.cellsize * Sqrt2 else ref.cellsize
            val drop = (z(i) - z(rr * nc + cc)) / dist
            if (drop > bestDrop) { bestDrop = drop; best = code }
          }
        }
        dir(i) = best
      }
    }
    def succ(i: Int): Int = {
      if (dir(i) <= 0) -1
      else {
        val (_, dr, dc) = D8(Integer.numberOfTrailingZeros(dir(i)))
        (i / nc + dr) * nc + (i % nc + dc)
      }
    }
    val acc = new Array[Long](nr * nc)
    val indeg = new Array[Int](nr * nc)
    for (i <- z.indices if dir(i) > 0) indeg(succ(i)) += 1
    val q = scala.collection.mutable.Queue(
      z.indices.filter(i => dir(i) >= 0 && indeg(i) == 0): _*)
    var seen = 0
    while (q.nonEmpty) {
      val u = q.dequeue(); seen += 1
      acc(u) += 1
      val v = succ(u)
      if (v >= 0) {
        acc(v) += acc(u)
        indeg(v) -= 1
        if (indeg(v) == 0) q.enqueue(v)
      }
    }
    assert(seen == z.indices.count(i => dir(i) >= 0), "global flow graph cyclic")
    val dm = (for (i <- z.indices if dir(i) >= 0) yield (i / nc, i % nc) -> dir(i)).toMap
    val am = (for (i <- z.indices if dir(i) >= 0) yield (i / nc, i % nc) -> acc(i)).toMap
    (dm, am)
  }

  test("flowDir distributed == driver-global on the DEM fixture") {
    val tiles = TileOps.tileGrid(spark, Synth.demRef, 6)(Synth.demValue)
    val got = Flow.flowDir(tiles, Synth.demRef, 6).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getInt(2)).toMap
    val (want, _) = globalFlow(Synth.demRef, Synth.demValue)
    assert(got.size == want.size)
    assert(got == want)
    // fixture exercises all the interesting shapes
    assert(got.values.exists(_ == 0), "no pits in fixture")
    assert(got.values.toSet.intersect(Set(2, 8, 32, 128)).nonEmpty, "no diagonal flow")
  }

  test("flowAcc distributed (tile condensation) == driver-global; seams carry flow") {
    val (dirG, want) = globalFlow(Synth.demRef, Synth.demValue)
    for (res <- Seq(6, 4)) { // 64x64 and 16x16 tiles: different seam sets
      val tiles = TileOps.tileGrid(spark, Synth.demRef, res)(Synth.demValue)
      val got = Flow.flowAcc(tiles, Synth.demRef, res).collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getLong(2)).toMap
      assert(got.size == want.size, s"res=$res size")
      assert(got == want, s"res=$res values")
      // cross-tile propagation is load-bearing: some path is longer than a tile
      assert(want.values.max > (1 << res), s"res=$res fixture has no cross-tile path")
    }
    assert(dirG.nonEmpty)
  }

  /** Driver-global downstream trace: basin pit + (ncard, ndiag) per cell. */
  private def globalDownstream(ref: GridRef, f: (Int, Int) => Double)
      : Map[(Int, Int), (Int, Int, Long, Long)] = {
    val nc = ref.ncols
    val (dirG, _) = globalFlow(ref, f)
    def step(rc: (Int, Int)): Option[((Int, Int), Boolean)] = {
      val d = dirG(rc)
      if (d == 0) None
      else {
        val (_, dr, dc) = D8(Integer.numberOfTrailingZeros(d))
        Some(((rc._1 + dr, rc._2 + dc), dr != 0 && dc != 0))
      }
    }
    dirG.keys.map { start =>
      var cur = start
      var ncard = 0L; var ndiag = 0L
      var going = true
      while (going) step(cur) match {
        case Some((nxt, diag)) =>
          if (diag) ndiag += 1 else ncard += 1
          cur = nxt
        case None => going = false
      }
      start -> (cur._1, cur._2, ncard, ndiag)
    }.toMap ensuring (_.size == dirG.size, nc > 0)
  }

  /** Driver-global longest-upstream (max-plus over the full D8 DAG). */
  private def globalLongest(ref: GridRef, f: (Int, Int) => Double)
      : Map[(Int, Int), (Long, Long)] = {
    val S2 = math.sqrt(2.0)
    def longer(a: (Long, Long), b: (Long, Long)): Boolean = {
      val la = a._1 + a._2 * S2; val lb = b._1 + b._2 * S2
      la > lb || (la == lb && a._1 > b._1)
    }
    val (dirG, _) = globalFlow(ref, f)
    val best = scala.collection.mutable.Map[(Int, Int), (Long, Long)]()
    dirG.keys.foreach(k => best(k) = (0L, 0L))
    val indeg = scala.collection.mutable.Map[(Int, Int), Int]().withDefaultValue(0)
    def succOf(rc: (Int, Int)): Option[((Int, Int), Boolean)] = {
      val d = dirG(rc)
      if (d == 0) None
      else {
        val (_, dr, dc) = D8(Integer.numberOfTrailingZeros(d))
        Some(((rc._1 + dr, rc._2 + dc), dr != 0 && dc != 0))
      }
    }
    dirG.keys.foreach(k => succOf(k).foreach { case (v, _) => indeg(v) += 1 })
    val q = scala.collection.mutable.Queue(dirG.keys.filter(indeg(_) == 0).toSeq: _*)
    while (q.nonEmpty) {
      val u = q.dequeue()
      succOf(u).foreach { case (v, diag) =>
        val cand = (best(u)._1 + (if (diag) 0 else 1), best(u)._2 + (if (diag) 1 else 0))
        if (longer(cand, best(v))) best(v) = cand
        indeg(v) -= 1
        if (indeg(v) == 0) q.enqueue(v)
      }
    }
    best.toMap
  }

  test("downstream distributed (condensation) == driver-global basin + counts") {
    val want = globalDownstream(Synth.demRef, Synth.demValue)
    for (res <- Seq(6, 4)) {
      val tiles = TileOps.tileGrid(spark, Synth.demRef, res)(Synth.demValue)
      val got = Flow.downstream(tiles, Synth.demRef, res).collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) ->
          (r.getLong(2).toInt, r.getLong(3).toInt, r.getLong(4), r.getLong(5))).toMap
      assert(got.size == want.size, s"res=$res size")
      assert(got == want, s"res=$res values")
      // pits self-map with zero counts; some path crosses a tile seam
      val pits = got.filter { case ((r, c), (br, bc, a, b)) => (r, c) == (br, bc) && a == 0 && b == 0 }
      assert(pits.nonEmpty, s"res=$res no pits")
      // seam machinery is load-bearing: some cell drains to a pit in ANOTHER tile
      assert(got.exists { case ((r, c), (br, bc, _, _)) =>
        (r >> res, c >> res) != (br >> res, bc >> res) }, s"res=$res no cross-tile path")
    }
  }

  test("longestUpstream distributed (max-plus condensation) == driver-global") {
    val want = globalLongest(Synth.demRef, Synth.demValue)
    for (res <- Seq(6, 4)) {
      val tiles = TileOps.tileGrid(spark, Synth.demRef, res)(Synth.demValue)
      val got = Flow.longestUpstream(tiles, Synth.demRef, res).collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> (r.getLong(2), r.getLong(3))).toMap
      assert(got.size == want.size, s"res=$res size")
      assert(got == want, s"res=$res values")
      // some longest path is longer than a tile edge at the finer res, so
      // the condensed max-plus solve (not just local solves) is exercised
      assert(got.values.map(v => v._1 + v._2).max > (1 << 4), s"res=$res no multi-tile path")
    }
  }

  test("nearestDrainage distributed (stop-aware condensation) == driver-global") {
    val ref = Synth.demRef
    val nc = ref.ncols
    val (dirG, accG) = globalFlow(ref, Synth.demValue)
    val stream = accG.filter(_._2 >= 25L).keySet
    // driver-global: walk each cell downstream to the FIRST stream cell
    val want = dirG.keys.flatMap { case (r0, c0) =>
      var r = r0; var c = c0; var ncard = 0L; var ndiag = 0L
      var out: Option[((Int, Int), (Int, Int, Long, Long))] = None
      var done = false
      while (!done) {
        if (stream((r, c))) { out = Some((r0, c0) -> (r, c, ncard, ndiag)); done = true }
        else if (dirG((r, c)) == 0) done = true // pit before any stream
        else {
          val (_, dr, dc) = D8(Integer.numberOfTrailingZeros(dirG((r, c))))
          if (dr != 0 && dc != 0) ndiag += 1 else ncard += 1
          r += dr; c += dc
        }
      }
      out
    }.toMap
    assert(want.nonEmpty && want.size < dirG.size, "fixture needs both defined and undefined cells")
    for (res <- Seq(6, 4)) {
      val tiles = TileOps.tileGrid(spark, ref, res)(Synth.demValue)
      val got = Flow.nearestDrainage(tiles, ref, res, threshold = 25L).collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) ->
          (r.getLong(2).toInt, r.getLong(3).toInt, r.getLong(4), r.getLong(5))).toMap
      assert(got.size == want.size, s"res=$res size")
      assert(got == want, s"res=$res values")
      // stream cells self-map with zero steps; some hit crosses a tile seam
      assert(stream.forall(s => got(s) == (s._1, s._2, 0L, 0L)), s"res=$res streams")
      assert(got.exists { case ((r, c), (sr, sc, _, _)) =>
        (r >> res, c >> res) != (sr >> res, sc >> res) }, s"res=$res no cross-tile hit")
    }
  }

  test("strahlerOrder distributed (doubling + junction solve) == driver-global") {
    val ref = Synth.demRef
    val (dirG, accG) = globalFlow(ref, Synth.demValue)
    val threshold = 4L
    val stream = accG.filter(_._2 >= threshold).keySet
    val succ = stream.flatMap { case (r, c) =>
      if (dirG((r, c)) == 0) None
      else {
        val (_, dr, dc) = D8(Integer.numberOfTrailingZeros(dirG((r, c))))
        Some((r, c) -> (r + dr, c + dc))
      }
    }.toMap
    val parents = succ.toSeq.groupBy(_._2).map { case (v, es) => v -> es.map(_._1) }
    val pending = scala.collection.mutable.Map[(Int, Int), Int]() ++
      stream.map(s => s -> parents.getOrElse(s, Seq.empty).length)
    val want = scala.collection.mutable.Map[(Int, Int), Long]()
    val q = scala.collection.mutable.Queue(stream.filter(s => pending(s) == 0).toSeq: _*)
    while (q.nonEmpty) {
      val u = q.dequeue()
      val os = parents.getOrElse(u, Seq.empty).map(want).sorted(Ordering[Long].reverse)
      want(u) = if (os.isEmpty) 1L
                else os.head + (if (os.length >= 2 && os(1) == os.head) 1L else 0L)
      succ.get(u).foreach { v =>
        pending(v) -= 1
        if (pending(v) == 0) q.enqueue(v)
      }
    }
    assert(want.size == stream.size, "driver solve incomplete")
    assert(want.values.max >= 3L, "fixture should reach order 3")
    for (res <- Seq(6, 4)) {
      val tiles = TileOps.tileGrid(spark, ref, res)(Synth.demValue)
      val got = Flow.strahlerOrder(tiles, ref, res, threshold).collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getLong(2)).toMap
      assert(got.size == want.size, s"res=$res size")
      assert(got == want.toMap, s"res=$res values")
    }
    // both head-resolution branches agree: force the distributed
    // pointer-doubling loop and compare
    val tiles6 = TileOps.tileGrid(spark, ref, 6)(Synth.demValue)
    val dist = DriverGate.withBudget(0)(Flow.strahlerOrder(tiles6, ref, 6, threshold).collect())
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getLong(2)).toMap
    assert(dist == want.toMap, "distributed branch diverges from driver chase")
  }

  test("streamNetwork: edges are exactly the acc>=T sources; targets follow dir") {
    val tiles = TileOps.tileGrid(spark, Synth.demRef, 6)(Synth.demValue)
    val (dirG, accG) = globalFlow(Synth.demRef, Synth.demValue)
    val got = Flow.streamNetwork(tiles, Synth.demRef, 6, threshold = 25L).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) ->
        (r.getLong(2).toInt, r.getLong(3).toInt, r.getLong(4))).toMap
    val want = accG.filter { case (rc, a) => a >= 25L && dirG(rc) > 0 }.map { case (rc, a) =>
      val (_, dr, dc) = D8(Integer.numberOfTrailingZeros(dirG(rc)))
      rc -> (rc._1 + dr, rc._2 + dc, a)
    }
    assert(got == want)
    assert(got.nonEmpty, "threshold leaves no channel cells — fixture mismatch")
  }

  /** Driver-global fill oracle: Jacobi relaxation of the minimax fixpoint
    * until stable (drains = border / NaN-adjacent keep z). */
  private def globalFill(ref: GridRef, f: (Int, Int) => Double)
      : Map[(Int, Int), Double] = {
    val nr = ref.nrows; val nc = ref.ncols
    val z = Array.tabulate(nr * nc)(i => f(i / nc, i % nc))
    def at(r: Int, c: Int): Double =
      if (r < 0 || r >= nr || c < 0 || c >= nc) Double.NaN else z(r * nc + c)
    val drain = Array.tabulate(nr * nc) { i =>
      !z(i).isNaN && D8.exists { case (_, dr, dc) => at(i / nc + dr, i % nc + dc).isNaN }
    }
    var fill = Array.tabulate(nr * nc) { i =>
      if (z(i).isNaN) Double.NaN else if (drain(i)) z(i) else Double.PositiveInfinity
    }
    var changed = true
    while (changed) {
      changed = false
      val next = fill.clone()
      for (i <- z.indices if !z(i).isNaN && !drain(i)) {
        var mn = Double.PositiveInfinity
        for ((_, dr, dc) <- D8) {
          val rr = i / nc + dr; val cc = i % nc + dc
          if (rr >= 0 && rr < nr && cc >= 0 && cc < nc && !z(rr * nc + cc).isNaN)
            mn = math.min(mn, fill(rr * nc + cc))
        }
        val v = math.min(fill(i), math.max(z(i), mn))
        if (v != fill(i)) { next(i) = v; changed = true }
      }
      fill = next
    }
    (for (i <- z.indices if !z(i).isNaN) yield (i / nc, i % nc) -> fill(i)).toMap
  }

  test("fillSinks distributed (iterated tile Priority-Flood) == Jacobi fixpoint") {
    val want = globalFill(Synth.demRef, Synth.demValue)
    for (res <- Seq(6, 4)) {
      val tiles = TileOps.tileGrid(spark, Synth.demRef, res)(Synth.demValue)
      val got = Flow.fillSinks(tiles, Synth.demRef, res).collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getDouble(2)).toMap
      assert(got.size == want.size, s"res=$res size")
      assert(got == want, s"res=$res values")
      // the operator does real work: some cells are raised above z
      val raised = got.count { case ((r, c), v) => v > Synth.demValue(r, c) }
      assert(raised > 0, s"res=$res nothing filled")
      // and fill never sinks below the terrain
      assert(got.forall { case ((r, c), v) => v >= Synth.demValue(r, c) }, s"res=$res fill < z")
    }
  }

  test("fillSinksTiles at the default budget and at budget 0 == Jacobi fixpoint, randomized grids") {
    // both placements of the spill-graph solve against the oracle: any
    // condensation bug (lost saddle, wrong cross-tile edge, bad drain
    // seed, a message lost between rounds) shows up as a value diff
    val rnd = new scala.util.Random(42)
    def grid(nr: Int, nc: Int)(f: (Int, Int) => Double) = {
      val vals = Array.tabulate(nr * nc)(i => f(i / nc, i % nc))
      (GridRef(ncols = nc, nrows = nr, xll = 0, yll = 0, cellsize = 1, nodata = -9999),
        (r: Int, c: Int) => vals(r * nc + c))
    }
    val random = (0 until 3).map { _ =>
      grid(90 + rnd.nextInt(80), 90 + rnd.nextInt(80)) { (_, _) =>
        if (rnd.nextInt(23) == 0) Double.NaN else rnd.nextInt(4000) / 4.0
      }
    }
    // one outlet, at the left end of a noisy valley 8 res-5 tiles long
    // between walls: the right end's fill comes through every tile in
    // between, so the distributed solve needs a round per tile
    val (vr, vc) = (100, 260)
    val valley = grid(vr, vc) { (r, c) =>
      val noise = rnd.nextInt(40) / 4.0
      if (r >= 45 && r < 55 && c < vc - 4) { if (c == 0) 0.0 else 20.0 + c / 2.0 + noise }
      else if (r < 10 || r >= vr - 10 || c < 4 || c >= vc - 4) 1000.0 + noise
      else 300.0 + math.abs(r - 50) * 3 + c / 2.0 + noise
    }
    for (((ref, f), trial) <- (random :+ valley).zipWithIndex; res <- Seq(5, 6)) {
      val want = globalFill(ref, f)
      val tiles = TileOps.tileGrid(spark, ref, res)(f)
      def fills(budget: Option[Long]) = org.apache.spark.JobDescriptions(spark.sparkContext) {
        val run = () => Flow.fillSinksTiles(tiles, ref, res).collect()
        budget.fold(run())(DriverGate.withBudget(_)(run()))
      }
      for (budget <- Seq(None, Some(0L))) {
        val (got, jobs) = fills(budget)
        val cells = got.flatMap { t =>
          t.payload.indices.collect { case i if !t.payload(i).isNaN =>
            (t.row0 + i / t.w, t.col0 + i % t.w) -> t.payload(i)
          }
        }
        assert(cells.length == want.size, s"trial=$trial res=$res budget=$budget cells")
        assert(cells.toMap == want, s"trial=$trial res=$res budget=$budget values")
        val rounds = jobs.count(_.startsWith("Flow.fillSinksTiles: distributed round "))
        if (budget.isEmpty) assert(rounds == 0, s"trial=$trial res=$res driver solve ran rounds")
        else assert(rounds >= 2, s"trial=$trial res=$res rounds=$rounds")
        if (trial == random.length && budget.isDefined)
          assert(rounds >= (vc >> res), s"res=$res valley solved in $rounds rounds")
      }
    }
  }

  test("conditioned routing: flowDir over fillSinksTiles == dirs on the Jacobi-filled surface") {
    val fillMap = globalFill(Synth.demRef, Synth.demValue)
    def filledValue(r: Int, c: Int): Double =
      fillMap.getOrElse((r, c), Double.NaN)
    val (want, _) = globalFlow(Synth.demRef, filledValue)
    val tiles = TileOps.tileGrid(spark, Synth.demRef, 6)(Synth.demValue)
    val filled = Flow.fillSinksTiles(tiles, Synth.demRef, 6)
    val got = Flow.flowDir(filled, Synth.demRef, 6).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getInt(2)).toMap
    assert(got == want)
    // conditioning produced FLATS: some raised cell (fill > z) now has
    // dir 0 (lake surface) — i.e. the chain really routed over the
    // filled surface, not the raw one
    val flatLake = fillMap.exists { case ((r, c), fv) =>
      fv > Synth.demValue(r, c) && got((r, c)) == 0
    }
    assert(flatLake, "no filled-flat cells — conditioning had no routing effect")
  }

  test("distributed condensed solves (budget 0) == driver solves, all four ops") {
    // a zero driver budget forces the distributed branch on the small
    // fixture: flowAcc/longestUpstream run the distributed batched
    // topological peel, downstream/nearestDrainage the pointer-doubling
    // carry resolve. Outputs must be IDENTICAL to the driver-solve path
    // (which the tests above gate against driver-global oracles).
    val ref = Synth.demRef
    val tiles = TileOps.tileGrid(spark, ref, 4)(Synth.demValue)
    // multiset compare (row -> count): a Set would mask duplicated rows
    // from a frontier fan-out regression in the distributed branches
    def m(df: => org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (0 until r.length).map(r.get).toSeq)
        .groupBy(identity).map { case (k, v) => (k, v.size) }
    def forced(df: => org.apache.spark.sql.DataFrame) = DriverGate.withBudget(0)(m(df))
    assert(forced(Flow.flowAcc(tiles, ref, 4)) ==
      m(Flow.flowAcc(tiles, ref, 4)), "flowAcc")
    assert(forced(Flow.downstream(tiles, ref, 4)) ==
      m(Flow.downstream(tiles, ref, 4)), "downstream")
    assert(forced(Flow.longestUpstream(tiles, ref, 4)) ==
      m(Flow.longestUpstream(tiles, ref, 4)), "longestUpstream")
    assert(forced(Flow.nearestDrainage(tiles, ref, 4, threshold = 25L)) ==
      m(Flow.nearestDrainage(tiles, ref, 4, threshold = 25L)), "nearestDrainage")
    // strahler: a zero budget forces BOTH the chain-head pointer doubling
    // AND the distributed junction-forest peel
    assert(forced(Flow.strahlerOrder(tiles, ref, 4, threshold = 25L)) ==
      m(Flow.strahlerOrder(tiles, ref, 4, threshold = 25L)), "strahler")
  }

  test("a zero budget reaches the nested flowAcc: nearestDrainage and strahlerOrder " +
      "place nothing on the driver") {
    val ref = Synth.demRef
    val tiles = TileOps.tileGrid(spark, ref, 4)(Synth.demValue)
    def labels(budget: Option[Long])(op: => org.apache.spark.sql.DataFrame) =
      org.apache.spark.JobDescriptions(spark.sparkContext) {
        budget.fold(op.collect())(DriverGate.withBudget(_)(op.collect()))
      }._2
    for ((name, op) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "nearestDrainage" -> (() => Flow.nearestDrainage(tiles, ref, 4, threshold = 25L)),
        "strahlerOrder" -> (() => Flow.strahlerOrder(tiles, ref, 4, threshold = 25L)))) {
      val nested = "Flow.flowAcc crossing graph"
      assert(labels(None)(op()).exists(_.startsWith(s"$nested: driver placement")), name)
      val forced = labels(Some(0L))(op())
      assert(forced.contains(s"$nested: sizing"), s"$name: ${forced.distinct}")
      assert(!forced.exists(_.contains(": driver placement")), s"$name: ${forced.distinct}")
    }
  }

  test("flow routing scale smoke: 2048x2048 grid, condensed solve stays O(perimeter)") {
    // 4.2M cells / 1024 tiles at res 6: the solve touches ONLY crossing
    // edges (bounded by tile perimeter sum ~ 260k) — a per-cell driver
    // walk would be 16x that and a collect would hold 4.2M rows.
    // a zero driver budget pushes THIS run through the fully-distributed
    // peel (VERDICT r4 #4's done-criterion). The
    // mass-conservation identity over the distributed output is the
    // correctness gate at this size (the driver-global oracle would
    // dominate test wall).
    val big = GridRef(ncols = 2048, nrows = 2048, xll = 0, yll = 0, cellsize = 5)
    def v(r: Int, c: Int): Double =
      if ((r * 2048 + c) % 97 == 13) Double.NaN
      else ((r * 31 + c * 17) % 1000) / 4.0
    val tiles = TileOps.tileGrid(spark, big, 6)(v)
    val acc = DriverGate.withBudget(0)(Flow.flowAcc(tiles, big, 6))
    val dir = Flow.flowDir(tiles, big, 6)
    import spark.implicits._
    val valid = acc.count()
    assert(valid > 4100000L)
    val pitMass = acc.join(dir.where($"dir" === 0), Seq("row", "col"))
      .agg(org.apache.spark.sql.functions.sum($"acc")).collect()(0).getLong(0)
    assert(pitMass == valid, s"pit mass $pitMass != $valid")
    // the trace family through ITS distributed branch at the same size:
    // every cell's basin outlet must be a pit (a dir=0 cell) — the
    // closure invariant survives the pointer-doubling carry resolve
    val ds = DriverGate.withBudget(0)(Flow.downstream(tiles, big, 6))
    assert(ds.count() == valid)
    val pits = dir.where($"dir" === 0)
      .select($"row".as("basin_r"), $"col".as("basin_c"))
    val nonPitOutlets = ds.select($"basin_r", $"basin_c").distinct()
      .join(pits, Seq("basin_r", "basin_c"), "left_anti").count()
    assert(nonPitOutlets == 0, s"$nonPitOutlets outlets are not pits")
  }

  test("flowAcc conservation: accumulation at pits sums to the valid cell count") {
    val tiles = TileOps.tileGrid(spark, Synth.gridARef, 5)(Synth.gridAValue)
    val rows = Flow.flowAcc(tiles, Synth.gridARef, 5).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getLong(2)).toMap
    val (dirG, accG) = globalFlow(Synth.gridARef, Synth.gridAValue)
    assert(rows == accG)
    // every cell's unit of water ends at exactly one pit
    val pitSum = dirG.collect { case (rc, 0) => rows(rc) }.sum
    assert(pitSum == rows.size.toLong, s"pit mass $pitSum != ${rows.size}")
  }

  test("crossing-graph operators release every Dataset they persist, both placements") {
    val ref = Synth.demRef
    val tiles = TileOps.tileGrid(spark, ref, 6)(Synth.demValue)
    val bad = Seq(None, Some(0L)).flatMap { budget =>
      def at(df: => AnyRef): () => AnyRef = () => budget.fold(df)(DriverGate.withBudget(_)(df))
      graft.CacheAudit(spark)(
        s"flowAcc budget=$budget" -> at(Flow.flowAcc(tiles, ref, 6)),
        s"downstream budget=$budget" -> at(Flow.downstream(tiles, ref, 6)),
        s"longestUpstream budget=$budget" -> at(Flow.longestUpstream(tiles, ref, 6)),
        s"nearestDrainage budget=$budget" -> at(
          Flow.nearestDrainage(tiles, ref, 6, threshold = 25L)),
        s"strahlerOrder budget=$budget" -> at(
          Flow.strahlerOrder(tiles, ref, 6, threshold = 25L)),
        s"fillSinksTiles budget=$budget" -> at(Flow.fillSinksTiles(tiles, ref, 6)))
    }
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("crossing-graph solvers: driver placement == distributed placement; cycles rejected") {
    import spark.implicits._
    import Flow.{ChainRow, FoldNode}
    val rnd = new scala.util.Random(11)
    // a forest over n keys: a deep chain 0 -> 1 -> ... -> chainLen, then
    // every other key a singleton (no edge in or out), a root, or the
    // child of a random later key (many roots, random fan-in)
    def forest(n: Int, chainLen: Int): Array[Option[Int]] = {
      val singleton = Array.tabulate(n)(i => i > chainLen && rnd.nextInt(6) == 0)
      Array.tabulate(n) { i =>
        if (i < chainLen) Some(i + 1)
        else if (singleton(i) || i == n - 1 || rnd.nextInt(5) == 0) None
        else Some(i + 1 + rnd.nextInt(n - i - 1)).filterNot(singleton)
      }
    }
    def key(i: Int): (Long, Long) = ((i / 37).toLong, (i % 37).toLong)
    def both[T: org.apache.spark.sql.Encoder](rows: Array[T],
        solve: DriverGate.Placed[T] => DriverGate.Placed[T]): (Array[T], Array[T]) =
      (solve(Left(rows)).fold(identity, _.collect()),
        solve(Right(spark.createDataset(rows.toSeq))).fold(identity, _.collect()))

    val succ = forest(400, 16)
    def nodes(value: Int => (Long, Long)): Array[FoldNode] = succ.indices.map { i =>
      val (xr, xc) = key(i)
      val (sr, sc) = succ(i).map(key).getOrElse((0L, 0L))
      val (a, b) = value(i)
      FoldNode(xr, xc, 0L, 0L, succ(i).isDefined, sr, sc, a, b,
        rnd.nextInt(3).toLong, rnd.nextInt(3).toLong)
    }.toArray
    for ((name, rule, ns) <- Seq(
        ("sum", Flow.SumRule, nodes(_ => (1L + rnd.nextInt(9), 0L))),
        ("longest", Flow.LongestRule, nodes(_ => (rnd.nextInt(5).toLong, rnd.nextInt(5).toLong))),
        ("strahler", Flow.StrahlerRule, nodes(_ => (0L, 0L))))) {
      val (d, s) = both[FoldNode](ns, Flow.foldUpstream(_, rule))
      assert(d.sortBy(n => (n.xr, n.xc)).toSeq == s.sortBy(n => (n.xr, n.xc)).toSeq, name)
      assert(d.length == ns.length, s"$name rows")
      if (name == "sum") // every unit ends at exactly one root
        assert(d.filterNot(_.hasSucc).map(_.a).sum == ns.map(_.a).sum, "sum mass")
    }

    val up = forest(2000, 300)
    val rows = up.indices.map { i =>
      val (xr, xc) = key(i)
      up(i) match {
        case Some(j) => ChainRow(xr, xc, done = false, ok = false, key(j)._1, key(j)._2,
          rnd.nextInt(3).toLong, rnd.nextInt(3).toLong)
        case None => ChainRow(xr, xc, done = true, ok = rnd.nextBoolean(),
          rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong, rnd.nextInt(3).toLong, 0L)
      }
    }.toArray
    val (d, s) = both[ChainRow](rows, Flow.resolveChains)
    assert(d.sortBy(r => (r.xr, r.xc)).toSeq == s.sortBy(r => (r.xr, r.xc)).toSeq, "chains")
    assert(d.forall(_.done) && d.length == rows.length, "chains resolved")
    assert(d.exists(r => r.nc + r.nd > 300), "no deep chain")

    // a planted cycle 0 -> 1 -> 2 -> 0 with a tail 3 -> 0
    val cyc = Array(1, 2, 0, 0)
    val cycNodes = cyc.indices.map { i =>
      FoldNode(key(i)._1, key(i)._2, 0L, 0L, true, key(cyc(i))._1, key(cyc(i))._2, 1L, 0L, 0L, 0L)
    }.toArray
    val cycRows = cyc.indices.map { i =>
      ChainRow(key(i)._1, key(i)._2, false, false, key(cyc(i))._1, key(cyc(i))._2, 1L, 0L)
    }.toArray
    for (placed <- Seq[DriverGate.Placed[FoldNode]](Left(cycNodes),
        Right(spark.createDataset(cycNodes.toSeq))))
      intercept[IllegalArgumentException](Flow.foldUpstream(placed, Flow.SumRule))
    for (placed <- Seq[DriverGate.Placed[ChainRow]](Left(cycRows),
        Right(spark.createDataset(cycRows.toSeq))))
      intercept[IllegalArgumentException](Flow.resolveChains(placed))
  }
}
