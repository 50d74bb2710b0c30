package graft
package gated

import org.apache.spark.sql.functions._

/** Graph gates (g), an off-paper family: PageRank, personalized
  * PageRank, BFS depth, triangle count and k-core over closed-form
  * graphs. */
object GraphGates {

  val gated: Seq[GatedQuery] = Seq(
    // PageRank over a link graph — the crawl-graph source-quality prior
    // of a web corpus pipeline. Fixture: 64 nodes, two deterministic
    // out-edges each (2i+1 and i²+7 mod 64 — disjoint families, so
    // outdeg = 2 everywhere, indegree irregular 0..8), damping 7/8,
    // 3 power iterations. Every quantity is dyadic (rank/2, ×7/8,
    // +1/512) with denominators ≤ 2⁻¹⁸, so Spark's shuffle-order sums
    // and DuckDB's join sums produce IDENTICAL doubles and pr×2¹⁸ is an
    // exact integer. Per iteration: one contribution shuffle on dst +
    // one id join — the 100 TB plan shape.
    GatedQuery("g1_pagerank", (s, _) => {
      import s.implicits._
      val ids = s.range(64).toDF("id")
      val edges = ids.select($"id".as("src"), (($"id" * 2 + 1) % 64).as("dst"))
        .unionByName(ids.select($"id".as("src"),
          (($"id" * $"id" + 7) % 64).as("dst")))
      graft.operators.GraphOps.pageRank(edges, "src", "dst",
          iters = 3, damping = 0.875)
        .select($"node", $"pr", ($"pr" * 262144).cast("long").as("pr_scaled"))
        .orderBy($"node")
    },
      // g1: the same 3 power iterations unrolled as CTEs — teleport
      // 1/512, damping 7/8, contributions rank/outdeg summed by dst; all
      // dyadic so the doubles match bit-for-bit and pr*2^18 is integral
      """WITH nodes AS (SELECT i AS id FROM range(64) t(i)),
        |e AS (
        |  SELECT i AS src, (2*i+1) % 64 AS dst FROM range(64) t(i)
        |  UNION ALL
        |  SELECT i AS src, (i*i+7) % 64 AS dst FROM range(64) t(i)),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        |r0 AS (SELECT id, 1::DOUBLE/64 AS pr FROM nodes),
        |c1 AS (SELECT e.dst AS id, sum(r0.pr / d.outdeg) AS c
        |  FROM e JOIN r0 ON r0.id = e.src JOIN deg d ON d.src = e.src GROUP BY 1),
        |r1 AS (SELECT n.id, 1::DOUBLE/512 + (7::DOUBLE/8) * coalesce(c1.c, 0) AS pr
        |  FROM nodes n LEFT JOIN c1 ON c1.id = n.id),
        |c2 AS (SELECT e.dst AS id, sum(r1.pr / d.outdeg) AS c
        |  FROM e JOIN r1 ON r1.id = e.src JOIN deg d ON d.src = e.src GROUP BY 1),
        |r2 AS (SELECT n.id, 1::DOUBLE/512 + (7::DOUBLE/8) * coalesce(c2.c, 0) AS pr
        |  FROM nodes n LEFT JOIN c2 ON c2.id = n.id),
        |c3 AS (SELECT e.dst AS id, sum(r2.pr / d.outdeg) AS c
        |  FROM e JOIN r2 ON r2.id = e.src JOIN deg d ON d.src = e.src GROUP BY 1),
        |r3 AS (SELECT n.id, 1::DOUBLE/512 + (7::DOUBLE/8) * coalesce(c3.c, 0) AS pr
        |  FROM nodes n LEFT JOIN c3 ON c3.id = n.id)
        |SELECT id AS node, pr, CAST(pr * 262144 AS BIGINT) AS pr_scaled
        |FROM r3 ORDER BY id""".stripMargin),

    // Multi-source BFS hop distance over the g1 link graph (crawl depth
    // from a seed set — the graph analog of the r42 distance transform):
    // frontier relaxation, one (id, dist) shuffle per round, rounds =
    // source-set eccentricity. Integer hop counts are engine-independent;
    // the oracle walks the same edges with a recursive CTE.
    GatedQuery("g2_bfs_depth", (s, _) => {
      import s.implicits._
      val ids = s.range(64).toDF("id")
      val edges = ids.select($"id".as("src"), (($"id" * 2 + 1) % 64).as("dst"))
        .unionByName(ids.select($"id".as("src"),
          (($"id" * $"id" + 7) % 64).as("dst")))
      graft.operators.GraphOps.bfsDistances(edges, "src", "dst",
          sources = Seq(0L, 13L))
        .orderBy($"node")
    },
      // g2: recursive-CTE walk over the same edges; min depth per node,
      // depth bound 64 keeps the state space finite
      """WITH RECURSIVE e AS (
        |  SELECT i AS src, (2*i+1) % 64 AS dst FROM range(64) t(i)
        |  UNION ALL
        |  SELECT i AS src, (i*i+7) % 64 AS dst FROM range(64) t(i)),
        |walk(node, d) AS (
        |  SELECT s.s, 0 FROM (VALUES (0), (13)) s(s)
        |  UNION
        |  SELECT e.dst, walk.d + 1 FROM walk JOIN e ON e.src = walk.node
        |  WHERE walk.d < 64)
        |SELECT CAST(node AS BIGINT) AS node, CAST(min(d) AS BIGINT) AS dist
        |FROM walk GROUP BY node ORDER BY node""".stripMargin),

    // Distributed triangle counting over the link graph (clustering
    // coefficient numerator — dense-cluster / link-ring detection in
    // crawl curation). Degree-ordered orientation bounds wedge fan-out
    // at hubs to O(sqrt(m)); two skew-safe equi-joins, each triangle
    // found once at its min-(deg, id) corner. Fixture: 60-node ring +
    // skip-2 chords (every i closes triangle {i, i+1, i+2}) + i*i+7
    // chords for irregularity; all-integer output, oracle is the brute
    // a<b<c triple join over the same closed-form edge table.
    GatedQuery("g3_triangles", (s, _) => {
      import s.implicits._
      val ids = s.range(60).toDF("i")
      val edges = ids.select($"i".as("x"), (($"i" + 1) % 60).as("y"))
        .unionByName(ids.select($"i".as("x"), (($"i" + 2) % 60).as("y")))
        .unionByName(ids.select($"i".as("x"), (($"i" * $"i" + 7) % 60).as("y")))
      graft.operators.GraphOps.triangleCounts(edges, "x", "y")
        .orderBy($"node")
    },
      // g3: brute triple-join triangle count on the same closed-form edges
      // (a<b<c canonical corners), per-node participation via corner union
      """WITH raw AS (
        |  SELECT i AS x, (i+1) % 60 AS y FROM range(60) t(i)
        |  UNION ALL
        |  SELECT i AS x, (i+2) % 60 AS y FROM range(60) t(i)
        |  UNION ALL
        |  SELECT i AS x, (i*i+7) % 60 AS y FROM range(60) t(i)),
        |e AS (
        |  SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
        |  FROM raw WHERE x <> y),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1
        |  JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |corners AS (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri)
        |SELECT CAST(node AS BIGINT) AS node, count(*) AS n_tri
        |FROM corners GROUP BY node ORDER BY node""".stripMargin),

    // k-CORE decomposition (k=3) — the link-graph density filter. The
    // fixture plants the three canonical behaviours: a K6 clique and a
    // circular-ladder prism (every node degree 3) SURVIVE; an open
    // 4-rung ladder, BOTH rails anchored to the clique (edges (5,30)
    // and (4,40) hold the near end at degree 3), unravels over 4
    // cascading peel rounds — round r removes exactly rung r counted
    // from the far end, because each round's removals drop the next
    // rung below k — the multi-round path the oracle replays with
    // unrolled peel CTEs.
    GatedQuery("g4_kcore", (s, _) => {
      import s.implicits._
      val clique = for { i <- 0 until 6; j <- i + 1 until 6 }
        yield (i.toLong, j.toLong)
      val prism = (0 until 8).flatMap(i => Seq(
        (10L + i, 10L + (i + 1) % 8), (20L + i, 20L + (i + 1) % 8),
        (10L + i, 20L + i)))
      val ladder = (0 until 3).flatMap(i =>
        Seq((30L + i, 31L + i), (40L + i, 41L + i))) ++
        (0 until 4).map(i => (30L + i, 40L + i))
      val edges = s.createDataset(
          (clique ++ prism ++ ladder ++ Seq((5L, 30L), (4L, 40L))).toSeq)
        .toDF("a", "b")
      graft.operators.GraphOps.kCore(edges, "a", "b", k = 3)
        .orderBy($"node")
    },
      // g4: the peel replayed as SIX unrolled degree-filter rounds (the
      // fixture's one-rung-per-round cascade completes in 4; rounds 5-6
      // prove the fixpoint). Each round: recount degrees over surviving
      // edges, keep edges whose BOTH endpoints still hold >= 3. Every CTE
      // is MATERIALIZED — inlined, the self-referencing round chain
      // re-expands ~5^6-fold and DuckDB plans for minutes.
      """WITH e0 AS MATERIALIZED (
        |  SELECT i.i AS a, j.j AS b FROM range(6) i(i), range(6) j(j)
        |    WHERE i.i < j.j
        |  UNION ALL SELECT 10 + i.i, 10 + (i.i + 1) % 8 FROM range(8) i(i)
        |  UNION ALL SELECT 20 + i.i, 20 + (i.i + 1) % 8 FROM range(8) i(i)
        |  UNION ALL SELECT 10 + i.i, 20 + i.i FROM range(8) i(i)
        |  UNION ALL SELECT 30 + i.i, 31 + i.i FROM range(3) i(i)
        |  UNION ALL SELECT 40 + i.i, 41 + i.i FROM range(3) i(i)
        |  UNION ALL SELECT 30 + i.i, 40 + i.i FROM range(4) i(i)
        |  UNION ALL SELECT 5, 30
        |  UNION ALL SELECT 4, 40),
        |d0 AS MATERIALIZED (SELECT node, count(*) AS d FROM
        |  (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
        |e1 AS MATERIALIZED (SELECT e.a, e.b FROM e0 e JOIN d0 x ON x.node = e.a
        |  JOIN d0 y ON y.node = e.b WHERE x.d >= 3 AND y.d >= 3),
        |d1 AS MATERIALIZED (SELECT node, count(*) AS d FROM
        |  (SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1) GROUP BY 1),
        |e2 AS MATERIALIZED (SELECT e.a, e.b FROM e1 e JOIN d1 x ON x.node = e.a
        |  JOIN d1 y ON y.node = e.b WHERE x.d >= 3 AND y.d >= 3),
        |d2 AS MATERIALIZED (SELECT node, count(*) AS d FROM
        |  (SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2) GROUP BY 1),
        |e3 AS MATERIALIZED (SELECT e.a, e.b FROM e2 e JOIN d2 x ON x.node = e.a
        |  JOIN d2 y ON y.node = e.b WHERE x.d >= 3 AND y.d >= 3),
        |d3 AS MATERIALIZED (SELECT node, count(*) AS d FROM
        |  (SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3) GROUP BY 1),
        |e4 AS MATERIALIZED (SELECT e.a, e.b FROM e3 e JOIN d3 x ON x.node = e.a
        |  JOIN d3 y ON y.node = e.b WHERE x.d >= 3 AND y.d >= 3),
        |d4 AS MATERIALIZED (SELECT node, count(*) AS d FROM
        |  (SELECT a AS node FROM e4 UNION ALL SELECT b FROM e4) GROUP BY 1),
        |e5 AS MATERIALIZED (SELECT e.a, e.b FROM e4 e JOIN d4 x ON x.node = e.a
        |  JOIN d4 y ON y.node = e.b WHERE x.d >= 3 AND y.d >= 3),
        |d5 AS MATERIALIZED (SELECT node, count(*) AS d FROM
        |  (SELECT a AS node FROM e5 UNION ALL SELECT b FROM e5) GROUP BY 1),
        |e6 AS MATERIALIZED (SELECT e.a, e.b FROM e5 e JOIN d5 x ON x.node = e.a
        |  JOIN d5 y ON y.node = e.b WHERE x.d >= 3 AND y.d >= 3)
        |SELECT CAST(node AS BIGINT) AS node,
        |  CAST(count(*) AS BIGINT) AS core_deg FROM
        |  (SELECT a AS node FROM e6 UNION ALL SELECT b FROM e6)
        |GROUP BY 1 ORDER BY node""".stripMargin),

    // PERSONALIZED PageRank (g5) — restart to seed set {0, 13} over the
    // g1 link graph: the seed-proximity prior (recommendation / crawl
    // frontier scoring). Same dyadic exactness engineering as g1
    // (outdeg 2 everywhere, damping 7/8, |S| = 2, NO dangling nodes),
    // so shuffle-order sums are bit-identical and pr*2^18 is an exact
    // integer; nodes far from the seeds genuinely rank 0.
    GatedQuery("g5_personalized_pr", (s, _) => {
      import s.implicits._
      val ids = s.range(64).toDF("id")
      val edges = ids.select($"id".as("src"), (($"id" * 2 + 1) % 64).as("dst"))
        .unionByName(ids.select($"id".as("src"),
          (($"id" * $"id" + 7) % 64).as("dst")))
      graft.operators.GraphOps.personalizedPageRank(edges, "src", "dst",
          sources = Seq(0L, 13L), iters = 3, damping = 0.875)
        .select($"node", $"pr", ($"pr" * 262144).cast("long").as("pr_scaled"))
        .orderBy($"node")
    },
      // g5: the g1 unrolled-iteration oracle with the PERSONALIZED
      // teleport — restart mass 1/16 lands only on {0, 13} (no dangling
      // nodes in this graph, so the dangling term is exactly 0)
      """WITH nodes AS (SELECT i AS id FROM range(64) t(i)),
        |e AS (
        |  SELECT i AS src, (2*i+1) % 64 AS dst FROM range(64) t(i)
        |  UNION ALL
        |  SELECT i AS src, (i*i+7) % 64 AS dst FROM range(64) t(i)),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        |r0 AS (SELECT id, CASE WHEN id IN (0, 13) THEN 1::DOUBLE/2
        |    ELSE 0::DOUBLE END AS pr FROM nodes),
        |c1 AS (SELECT e.dst AS id, sum(r0.pr / d.outdeg) AS c
        |  FROM e JOIN r0 ON r0.id = e.src JOIN deg d ON d.src = e.src GROUP BY 1),
        |r1 AS (SELECT n.id, CASE WHEN n.id IN (0, 13) THEN 1::DOUBLE/16
        |    ELSE 0::DOUBLE END + (7::DOUBLE/8) * coalesce(c1.c, 0) AS pr
        |  FROM nodes n LEFT JOIN c1 ON c1.id = n.id),
        |c2 AS (SELECT e.dst AS id, sum(r1.pr / d.outdeg) AS c
        |  FROM e JOIN r1 ON r1.id = e.src JOIN deg d ON d.src = e.src GROUP BY 1),
        |r2 AS (SELECT n.id, CASE WHEN n.id IN (0, 13) THEN 1::DOUBLE/16
        |    ELSE 0::DOUBLE END + (7::DOUBLE/8) * coalesce(c2.c, 0) AS pr
        |  FROM nodes n LEFT JOIN c2 ON c2.id = n.id),
        |c3 AS (SELECT e.dst AS id, sum(r2.pr / d.outdeg) AS c
        |  FROM e JOIN r2 ON r2.id = e.src JOIN deg d ON d.src = e.src GROUP BY 1),
        |r3 AS (SELECT n.id, CASE WHEN n.id IN (0, 13) THEN 1::DOUBLE/16
        |    ELSE 0::DOUBLE END + (7::DOUBLE/8) * coalesce(c3.c, 0) AS pr
        |  FROM nodes n LEFT JOIN c3 ON c3.id = n.id)
        |SELECT id AS node, pr, CAST(pr * 262144 AS BIGINT) AS pr_scaled
        |FROM r3 ORDER BY id""".stripMargin)
  )
}
