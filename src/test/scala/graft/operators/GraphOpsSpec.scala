package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.DriverGate

class GraphOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("minLabelComponents: chains, singleton-pair, min-id roots") {
    import spark.implicits._
    // component {1,2,3} as a chain (diameter forces >1 propagation round,
    // with the min at one END so it must traverse the chain),
    // component {10, 11}, component {20, 21, 22} as a triangle
    val edges = Seq((3L, 2L), (2L, 1L),
      (10L, 11L), (20L, 21L), (21L, 22L), (22L, 20L))
      .toDF("a", "b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    val distributed = GraphOps.minLabelComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(distributed == want)
    // hybrid driver-UF path (the common sparse-pair-graph case)
    val driver = GraphOps.components(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(driver == want)
    // hybrid forced onto the distributed path
    val forced = DriverGate.withBudget(0) {
      GraphOps.components(edges, "a", "b").as[(Long, Long)].collect().toMap
    }
    assert(forced == want)
  }

  test("components == BFS oracle on a seeded random graph (both paths)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val n = 120
    val edges = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // BFS oracle over the same undirected edge set
    val adj = scala.collection.mutable.Map[Long, Set[Long]]().withDefaultValue(Set.empty)
    edges.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    val want = scala.collection.mutable.Map[Long, Long]()
    adj.keys.toSeq.sorted.foreach { start =>
      if (!want.contains(start)) {
        var comp = Set(start)
        var frontier = Set(start)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj) -- comp
          comp ++= frontier
        }
        val root = comp.min
        comp.foreach(v => want(v) = root)
      }
    }
    val df = edges.toDF("a", "b")
    val driver = GraphOps.components(df, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(driver == want.toMap)
    val dist = DriverGate.withBudget(0) {
      GraphOps.components(df, "a", "b").as[(Long, Long)].collect().toMap
    }
    assert(dist == want.toMap)
  }

  test("pageRank: == driver power iteration incl. dangling mass; sums to 1") {
    import spark.implicits._
    // deterministic irregular digraph WITH dangling nodes: node 7 and 11
    // have no out-edges (their rank must redistribute uniformly), node 0
    // is a hub, multi-edge 3->4 appears twice (multigraph convention)
    val edges: Seq[(Long, Long)] = Seq(
      (0L, 1L), (0L, 2L), (0L, 3L), (1L, 0L), (2L, 0L), (3L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (8L, 9L), (9L, 10L),
      (10L, 8L), (10L, 11L), (12L, 0L))
    val iters = 4; val d = 0.85
    val got = GraphOps.pageRank(edges.toDF("src", "dst"), "src", "dst",
        iters, d).as[(Long, Double)].collect().toMap
    // driver reference: same formula, dense arrays
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val out = edges.groupBy(_._1).map { case (s, es) => idx(s) -> es.size }
    val n = nodes.size
    var r = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iters) {
      val dangling = r.indices.filter(i => !out.contains(i)).map(r).sum
      val contrib = Array.fill(n)(0.0)
      edges.foreach { case (s, t) =>
        contrib(idx(t)) += r(idx(s)) / out(idx(s)) }
      r = Array.tabulate(n)(i =>
        (1.0 - d) / n + d * (contrib(i) + dangling / n))
    }
    assert(got.keySet == nodes.toSet)
    nodes.foreach { nd =>
      assert(math.abs(got(nd) - r(idx(nd))) < 1e-12,
        s"node $nd: ${got(nd)} vs ${r(idx(nd))}") }
    // total mass conserved (dangling correctly redistributed)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    // hub 0 (indegree 3 incl. from 1,2,12) outranks a chain tail
    assert(got(0L) > got(6L))
    intercept[IllegalArgumentException] {
      GraphOps.pageRank(edges.toDF("src", "dst"), "src", "dst", 0) }
  }

  test("personalizedPageRank: == driver restart iteration; mass stays on seed-reachable set") {
    import spark.implicits._
    // same dangling-bearing digraph as the pageRank test; seeds {8, 12}
    val edges: Seq[(Long, Long)] = Seq(
      (0L, 1L), (0L, 2L), (0L, 3L), (1L, 0L), (2L, 0L), (3L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (8L, 9L), (9L, 10L),
      (10L, 8L), (10L, 11L), (12L, 0L))
    val seeds = Seq(8L, 12L)
    val iters = 4; val d = 0.85
    val got = GraphOps.personalizedPageRank(edges.toDF("src", "dst"),
        "src", "dst", seeds, iters, d).as[(Long, Double)].collect().toMap
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val out = edges.groupBy(_._1).map { case (s, es) => idx(s) -> es.size }
    val n = nodes.size
    val k = seeds.size
    val seedIdx = seeds.map(idx).toSet
    var r = Array.tabulate(n)(i => if (seedIdx(i)) 1.0 / k else 0.0)
    for (_ <- 1 to iters) {
      val dangling = r.indices.filter(i => !out.contains(i)).map(r).sum
      val contrib = Array.fill(n)(0.0)
      edges.foreach { case (s, t) =>
        contrib(idx(t)) += r(idx(s)) / out(idx(s)) }
      r = Array.tabulate(n)(i =>
        (if (seedIdx(i)) (1.0 - d) / k + d * (dangling / k) else 0.0)
          + d * contrib(i))
    }
    assert(got.keySet == nodes.toSet)
    nodes.foreach { nd =>
      assert(math.abs(got(nd) - r(idx(nd))) < 1e-12, s"node $nd") }
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "restart mass conserved")
    // node 6 is unreachable from {8, 12} in <= 4 hops via teleport-free
    // paths? (12 -> 0 -> 3 -> 4 -> 5 -> 6 is 5 hops) -> rank exactly 0
    assert(got(6L) == 0.0)
    assert(got(8L) > got(11L), "seed outranks its downstream leaf")
    intercept[IllegalArgumentException] {
      GraphOps.personalizedPageRank(edges.toDF("src", "dst"), "src", "dst",
        Seq.empty, 2) }
  }

  test("bfsDistances == driver BFS; multi-source min, unreachables absent") {
    import spark.implicits._
    // deterministic sparse digraph with unreachable pockets: 80 nodes,
    // edges i -> (3i+1)%80 and i -> (7i+11)%80 only for i % 5 != 0
    val edges = (0 until 80).filter(_ % 5 != 0).flatMap(i =>
      Seq((i.toLong, ((3 * i + 1) % 80).toLong),
        (i.toLong, ((7 * i + 11) % 80).toLong)))
    val sources = Seq(1L, 52L)
    val got = GraphOps.bfsDistances(edges.toDF("src", "dst"), "src", "dst",
        sources)
      .as[(Long, Long)].collect().toMap
    // driver BFS over the same adjacency
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val dist = scala.collection.mutable.Map[Long, Long]()
    var frontier = sources.toSet
    sources.foreach(s => dist(s) = 0L)
    var d = 0L
    while (frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(n => adj.getOrElse(n, Seq.empty))
        .filterNot(dist.contains)
      frontier.foreach(n => dist(n) = d)
    }
    assert(got == dist.toMap, s"diff: ${(got.toSet diff dist.toSet).take(5)} / ${(dist.toSet diff got.toSet).take(5)}")
    assert(got.values.exists(_ > 1)) // non-trivial depths
    val nodesInGraph = edges.flatMap(e => Seq(e._1, e._2)).toSet
    assert(nodesInGraph.exists(n => !got.contains(n))) // unreachable pocket exists
    // an isolated seed (no incident edges) is still at distance 0
    val withIsolated = GraphOps.bfsDistances(edges.toDF("src", "dst"),
        "src", "dst", sources :+ 9999L)
      .as[(Long, Long)].collect().toMap
    assert(withIsolated(9999L) == 0L)
    assert((withIsolated - 9999L) == got)
    intercept[IllegalArgumentException] {
      GraphOps.bfsDistances(edges.toDF("src", "dst"), "src", "dst", Seq.empty) }
  }

  test("triangleCounts: K4, star, canonicalization, brute oracle") {
    import spark.implicits._
    // K4 on {0..3}: 4 triangles, every node on 3
    val k4 = (for (a <- 0 to 3; b <- 0 to 3 if a < b) yield (a.toLong, b.toLong))
      .toDF("x", "y")
    val gotK4 = GraphOps.triangleCounts(k4, "x", "y")
      .as[(Long, Long)].collect().toMap
    assert(gotK4 == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // star graph: hub with many leaves, zero triangles -> empty output
    val star = (1 to 50).map(i => (0L, i.toLong)).toDF("x", "y")
    assert(GraphOps.triangleCounts(star, "x", "y").count() == 0L)
    // self-loops, duplicates, and reversed edges collapse away: one
    // triangle {1,2,3} regardless of how noisily it arrives
    val noisy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L),
      (2L, 2L), (1L, 2L)).toDF("x", "y")
    val gotNoisy = GraphOps.triangleCounts(noisy, "x", "y")
      .as[(Long, Long)].collect().toMap
    assert(gotNoisy == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // seeded random graph vs driver brute force over adjacency sets
    val rnd = new scala.util.Random(7)
    val n = 40
    val es = (0 until 260).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val brute = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for ((a, b) <- es; c <- adj(a) if c > b && adj(b).contains(c)) {
      brute(a) += 1; brute(b) += 1; brute(c) += 1
    }
    val got = GraphOps.triangleCounts(es.toDF("x", "y"), "x", "y")
      .as[(Long, Long)].collect().toMap
    assert(got == brute.toMap, s"diff: ${(got.toSet diff brute.toSet).take(5)}")
    assert(got.values.sum % 3 == 0 && got.values.sum > 0)
  }

  test("kCore: distributed peel == driver brute force; cascades; guards") {
    import spark.implicits._
    def brute(es: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
      var edges = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b }.distinct
      var changed = true
      while (changed) {
        val deg = edges.flatMap { case (a, b) => Seq(a, b) }
          .groupBy(identity).map { case (n2, v) => n2 -> v.size.toLong }
        val bad = deg.filter(_._2 < k).keySet
        changed = bad.nonEmpty
        if (changed) edges = edges.filter { case (a, b) =>
          !bad.contains(a) && !bad.contains(b) }
      }
      edges.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (n2, v) => n2 -> v.size.toLong }
    }
    // seeded random graph at several k, incl. k where the core is empty
    val rnd = new scala.util.Random(11)
    val es = (0 until 300)
      .map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
    val df = es.toDF("x", "y")
    for (k <- Seq(2, 3, 5, 20)) {
      val got = GraphOps.kCore(df, "x", "y", k)
        .as[(Long, Long)].collect().toMap
      assert(got == brute(es, k), s"k=$k")
      assert(got.values.forall(_ >= k) || got.isEmpty)
    }
    // multi-round cascade: open ladder peels fully at k=3 even though
    // round 1 removes only the end rung
    val ladder = ((0 until 7).flatMap(i =>
      Seq((i.toLong, i + 1L), (10L + i, 11L + i))) ++
      (0 until 8).map(i => (i.toLong, 10L + i)))
    assert(GraphOps.kCore(ladder.toDF("x", "y"), "x", "y", 3).count() == 0)
    // noisy input: self-loops / duplicates / reversals canonicalize
    val noisy = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (3L, 1L), (1L, 3L))
    assert(GraphOps.kCore(noisy.toDF("x", "y"), "x", "y", 2)
      .as[(Long, Long)].collect().toMap == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    intercept[IllegalArgumentException] {
      GraphOps.kCore(noisy.toDF("x", "y"), "x", "y", 0) }
  }
}
