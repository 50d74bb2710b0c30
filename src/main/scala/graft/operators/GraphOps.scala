package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{DriverGate, Owned}

/** Distributed connected components by iterative min-label propagation —
  * the dissolve step shared by dedup clustering (near-dup pair graphs)
  * and any other id-graph grouping. Each round every node takes the min
  * of its own label and its neighbors' labels; fixpoint after
  * O(component diameter) rounds, each a shuffle of (id, label) pairs
  * only. Near-dup components are small by construction (a dup group),
  * so the loop converges in a couple of rounds at any corpus size; the
  * same code is Vectorize's seam-resolution shape (Vectorize keeps its
  * own driver-UF fast path for tiny seam graphs). */
object GraphOps {

  /** Hybrid entry point (the Vectorize seam-resolution shape): within the
    * [[DriverGate]] budget a driver union-find resolves the components in
    * one bounded collect — near-dup pair graphs are sparse by nature, so
    * this is the common path and costs one O(#pairs) pass; above it the
    * fully distributed [[minLabelComponents]] loop runs with no driver
    * materialization anywhere. Both return (node, root = min node id). */
  def components(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    Owned { own =>
      val pairs = own.reuse(edges.select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b")))
      // 600 bytes an edge (measured): the pair, two new nodes, their result rows
      DriverGate.placeRows("GraphOps.components", pairs.as[(Long, Long)], 600L) match {
        case Right(_) => minLabelComponents(pairs, "a", "b")
        case Left(es) =>
          val parent = scala.collection.mutable.LongMap[Long]()
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent(r)
            var c = x
            while (parent.getOrElse(c, c) != c) { val nn = parent(c); parent(c) = r; c = nn }
            r
          }
          es.foreach { case (a, b) =>
            if (!parent.contains(a)) parent(a) = a
            if (!parent.contains(b)) parent(b) = b
            val ra = find(a); val rb = find(b)
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
          spark.createDataset(parent.keys.toSeq.map(k => (k, find(k))))
            .toDF("node", "root")
      }
    }
  }

  /** Distributed PageRank by power iteration over a directed edge table —
    * the crawl-graph ranking op of a web-scale corpus pipeline (source
    * quality priors for curation). Per iteration ONE shuffle builds the
    * contribution table (rank/outdeg summed by dst) and one id-join
    * rebuilds the rank vector; `localCheckpoint` truncates lineage each
    * round so the plan stays constant-size over any iteration count.
    * Dangling nodes (no out-links) leak rank; the standard uniform
    * redistribution is applied — their mass is a single scalar agg over
    * the checkpointed rank vector, O(1) driver data per round. At 100 TB
    * both the edge table (joined once with outdegree) and the rank
    * vector shuffle on the node id only — no payload ever rides the
    * loop. Multi-edges contribute multiply, matching the multigraph
    * convention. Returns (node, pr) over all nodes appearing as src or
    * dst. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"pageRank: iters must be >= 1, got $iters")
    powerIteration(edges, srcCol, dstCol, None, iters, damping)
  }

  /** PERSONALIZED PageRank — random walk with restart to a SOURCE set
    * (the seed-biased proximity prior: recommendation, crawl frontier
    * scoring, related-document ranking): teleports land ONLY on
    * `sources`, so ranks measure proximity to the seeds instead of
    * global centrality; dangling mass also restarts to the sources.
    * The same power iteration as [[pageRank]]. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      sources: Seq[Long], iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"personalizedPageRank: iters must be >= 1, got $iters")
    require(sources.nonEmpty, "personalizedPageRank: sources must be non-empty")
    powerIteration(edges, srcCol, dstCol, Some(sources.distinct), iters, damping)
  }

  /** The one power iteration: teleports and dangling mass restart to
    * `restart`, or uniformly to every node when it is None. The dangling
    * SET is iteration-invariant and computed once; its rank MASS is a
    * 1-row scalar cross-joined (broadcast) into the next rank plan, never
    * collected, so rounds add no driver round-trip. One eager checkpoint
    * at the end materializes the whole chain. */
  private def powerIteration(edges: DataFrame, srcCol: String, dstCol: String,
      restart: Option[Seq[Long]], iters: Int, damping: Double): DataFrame = Owned { own =>
    val spark = edges.sparkSession
    import spark.implicits._
    val e = own.reuse(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")))
    // one scan of `e` fills its cache: a union of two scans would have two
    // tasks filling each partition at once
    val nodes = own.reuse(e.select(explode(array($"src", $"dst")).as("id")).distinct())
    // (initial rank, next rank from the summed contributions c and the
    // dangling mass); each branch keeps its own operation order
    val (init, next) = restart match {
      case None =>
        val n = nodes.count()
        (lit(1.0 / n), (c: Column, dang: Column) =>
          lit((1.0 - damping) / n) + lit(damping) * (c + dang / n))
      case Some(srcSet) =>
        val k = srcSet.size
        val isSrc = $"id".isInCollection(srcSet)
        (when(isSrc, lit(1.0 / k)).otherwise(lit(0.0)), (c: Column, dang: Column) =>
          when(isSrc, lit((1.0 - damping) / k) + lit(damping) * (dang / k))
            .otherwise(lit(0.0)) + lit(damping) * c)
    }
    val deg = e.groupBy($"src").agg(count(lit(1)).as("outdeg"))
    val ed = own.reuse(e.join(deg, "src"))
    val dangIds = own.reuse(nodes
      .join(deg.select($"src".as("id")), Seq("id"), "left_anti"))
    var ranks = nodes.withColumn("pr", init).localCheckpoint(false)
    for (_ <- 1 to iters) {
      val dang = ranks.join(dangIds, Seq("id"), "left_semi")
        .agg(coalesce(sum($"pr"), lit(0.0)).as("_dang"))
      val contribs = ed.join(ranks.withColumnRenamed("id", "src"), "src")
        .groupBy($"dst").agg(sum($"pr" / $"outdeg").as("c"))
      ranks = nodes
        .join(contribs.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .crossJoin(broadcast(dang))
        .select($"id", next(coalesce($"c", lit(0.0)), $"_dang").as("pr"))
        .localCheckpoint(false)
    }
    ranks.select($"id".as("node"), $"pr").localCheckpoint(true)
  }

  /** `edges`: two long columns naming an undirected edge per row.
    * Returns (node, root) for every node appearing in `edges`, where
    * root is the component's minimum node id. */
  def minLabelComponents(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    Owned { own =>
      val spark = edges.sparkSession
      import spark.implicits._
      val sym = own.reuse(edges.select(col(aCol).as("n"), col(bCol).as("m"))
        .unionByName(edges.select(col(bCol).as("n"), col(aCol).as("m")))
        .distinct())
      // the first round reads the initial labels on both join sides: an
      // eager cut computes them once, not once per side. Later rounds
      // read a cut the previous round's convergence agg materialized;
      // that agg is the round's only job.
      var labels = sym.select($"n").distinct().withColumn("lbl", $"n")
        .localCheckpoint(true)
      var changed = 1L
      while (changed > 0) {
        val next = sym.join(labels.withColumnRenamed("n", "m")
              .withColumnRenamed("lbl", "nbLbl"), "m")
          .groupBy($"n").agg(min($"nbLbl").as("nbMin"))
          .join(labels, "n")
          .select($"n", least($"nbMin", $"lbl").as("lbl"),
            ($"nbMin" < $"lbl").cast("long").as("chg"))
          .localCheckpoint(false)
        val chgRow = next.agg(sum($"chg")).collect()(0)
        changed = if (chgRow.isNullAt(0)) 0L else chgRow.getLong(0) // null: no nodes
        labels = next.select($"n", $"lbl")
      }
      labels.select($"n".as("node"), $"lbl".as("root"))
    }

  /** Multi-source BFS hop distance over DIRECTED edges: for every node
    * reachable from `sources`, the minimum hop count from the nearest
    * source (the graph analog of the raster distance transform r42 —
    * link-graph crawl depth, influence radius, taint propagation).
    * Same iteration discipline as [[minLabelComponents]]: one
    * relax-join + one improvement agg per round, localCheckpoint each
    * round so the plan stays constant-size; rounds = eccentricity of
    * the source set, shuffle carries (id, dist) pairs only. Unreached
    * nodes are absent from the result (never a sentinel). Returns
    * (node, dist). */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
      sources: Seq[Long]): DataFrame = {
    require(sources.nonEmpty, "bfsDistances: no sources")
    Owned { own =>
      val spark = edges.sparkSession
      import spark.implicits._
      val INF = Long.MaxValue
      val e = own.reuse(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")).distinct())
      // node universe includes the seeds themselves: a source with no
      // incident edges is still at distance 0 (matches the recursive-CTE
      // oracle, which seeds every source unconditionally); one scan of `e`
      // (see [[powerIteration]])
      val nodes = e.select(explode(array($"src", $"dst")).as("id"))
        .unionByName(spark.createDataset(sources).toDF("id"))
        .distinct()
      // eager first cut, one convergence agg per relax round (see
      // [[minLabelComponents]])
      var dist = nodes
        .select($"id", when($"id".isin(sources: _*), 0L).otherwise(INF).as("d"))
        .localCheckpoint(true)
      var changed = 1L
      while (changed > 0) {
        val relax = e
          .join(dist.withColumnRenamed("id", "src").withColumnRenamed("d", "ds"),
            "src")
          .filter($"ds" =!= INF)
          .groupBy($"dst").agg(min($"ds" + 1).as("cand"))
          .withColumnRenamed("dst", "id")
        val next = dist.join(relax, Seq("id"), "left")
          .select($"id",
            least($"d", coalesce($"cand", lit(INF))).as("d"),
            (coalesce($"cand", lit(INF)) < $"d").cast("long").as("chg"))
          .localCheckpoint(false)
        val chgRow = next.agg(sum($"chg")).collect()(0)
        changed = if (chgRow.isNullAt(0)) 0L else chgRow.getLong(0)
        dist = next.select($"id", $"d")
      }
      dist.filter($"d" =!= INF).select($"id".as("node"), $"d".as("dist"))
    }
  }

  /** Distributed triangle counting over an undirected edge table — the
    * clustering-coefficient / community-density primitive of link-graph
    * curation (a crawl page whose neighborhood closes many triangles is
    * inside a dense site cluster; spam farms and link rings light up the
    * same way). Returns (node, n_tri) for every node on >= 1 triangle.
    *
    * Shape for 100 TB: the naive wedge join explodes at hub nodes
    * (a degree-d node yields d^2/2 wedges, and web graphs have d up to
    * 10^7), so edges are first ORIENTED from the lower-(degree, id)
    * endpoint to the higher — the classic degree-ordered orientation
    * under which every vertex's OUT-degree is O(sqrt(m)) regardless of
    * its raw degree, bounding the wedge fan-out per node and making the
    * two equi-joins (wedge build on the shared source, wedge close on
    * the far pair) skew-safe. Each triangle is found exactly once, at
    * its minimum-(degree, id) corner. Ordering keys are compared as
    * (deg, id) STRUCTS, never folded into an arithmetic key, so there is
    * no overflow ceiling on degree or id. Self-loops and duplicate /
    * reversed edges are canonicalized away first.
    */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame = Owned { own =>
    val spark = edges.sparkSession
    import spark.implicits._
    val und = edges.select(
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("a"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("b"))
      .where($"a" =!= $"b" && $"a".isNotNull && $"b".isNotNull)
      .distinct()
    val deg = und.select(explode(array($"a", $"b")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
    // (deg, id) total order as a struct key — no arithmetic packing
    val keyed = deg.select($"node", struct($"deg", $"node").as("okey"))
    val both = und
      .join(keyed.select($"node".as("a"), $"okey".as("ka")), "a")
      .join(keyed.select($"node".as("b"), $"okey".as("kb")), "b")
    val oriented = own.reuse(both.select(
        when($"ka" < $"kb",
          struct($"a".as("u"), $"b".as("v"), $"kb".as("kv")))
        .otherwise(struct($"b".as("u"), $"a".as("v"), $"ka".as("kv"))).as("e"))
      .select($"e.u".as("u"), $"e.v".as("v"), $"e.kv".as("kv")))
    oriented.count() // materialize once; reused by wedge build AND close
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") && col("x.kv") < col("y.kv"))
      .select(col("x.u").as("u"), col("x.v").as("v1"), col("y.v").as("v2"))
    // close the wedge: (v1, v2) with key(v1) < key(v2) is oriented v1->v2
    val tris = wedges.join(
        oriented.select($"u".as("v1"), $"v".as("v2")), Seq("v1", "v2"))
      .select($"u", $"v1", $"v2")
    val out = tris.select(explode(array($"u", $"v1", $"v2")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("n_tri"))
    out.localCheckpoint()
  }

  /** Distributed k-CORE membership: peel nodes of degree < k until a
    * fixpoint — the density filter of link-graph curation (a page
    * survives iff it sits in a subgraph where EVERY member keeps >= k
    * in-core neighbors; spam periphery, dangling chains and ladder
    * tails unravel away round by round). Returns the surviving nodes
    * with their in-core degree: (node, core_deg).
    *
    * Shape for 100 TB: each peel round is ONE degree aggregation
    * (explode + groupBy, map-side combined) and TWO anti-joins of the
    * edge table against the just-peeled node set — no windows, no
    * driver data beyond the per-round convergence counter, and
    * localCheckpoint truncates lineage so the plan stays constant-size
    * over any round count. Rounds are bounded by the graph's peel depth
    * (the longest cascade that must unravel) — the same
    * iterate-to-fixpoint family as fill_sinks and pageRank. Self-loops
    * and duplicate/reversed edges canonicalize away first. */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    val spark = edges.sparkSession
    import spark.implicits._
    var e = edges.select(
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("a"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("b"))
      .where($"a" =!= $"b" && $"a".isNotNull && $"b".isNotNull)
      .distinct()
      .localCheckpoint(false)
    var peeled = 1L
    while (peeled > 0) {
      // lazy checkpoints: bad.count() is the round's single job — it
      // materializes bad (and, transitively, the previous round's peeled
      // edge table) as a side effect
      val bad = e.select(explode(array($"a", $"b")).as("node"))
        .groupBy($"node").agg(count(lit(1)).as("deg"))
        .filter($"deg" < k).select($"node")
        .localCheckpoint(false)
      peeled = bad.count()
      if (peeled > 0) {
        e = e.join(bad.withColumnRenamed("node", "a"), Seq("a"), "left_anti")
          .join(bad.withColumnRenamed("node", "b"), Seq("b"), "left_anti")
          .localCheckpoint(false)
      }
    }
    e.select(explode(array($"a", $"b")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("core_deg"))
  }
}
