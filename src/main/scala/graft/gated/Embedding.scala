package graft
package gated

import org.apache.spark.sql.functions._
import Fixtures.{table, clusteredEmbeddings}

/** Embedding gates (e), an off-paper family: exact and approximate
  * nearest-neighbour search (brute, IVF, PQ, IVF-PQ, SQ8, filtered, range,
  * MIPS), k-NN classification, k-means assignment and recall evaluation. */
object EmbeddingGates {

  val gated: Seq[GatedQuery] = Seq(
    // ANN/similarity: brute-force cosine top-5 per query vector (exact)
    GatedQuery("e1_knn_cosine", (s, dir) => {
      import s.implicits._
      val e = table(s, dir, "embeddings")
      val q = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      graft.sim.Similarity.bruteTopK(q,
          e.select($"vec_id".as("vid"), $"embedding".as("v")), 5)
        .orderBy($"qid", $"rank")
    },
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |p AS (SELECT q.qid, e.vec_id AS vid,
        |  (SELECT sum(q.qv[i + 1]::DOUBLE * e.embedding[i + 1]::DOUBLE) FROM range(64) t(i)) AS dot,
        |  sqrt((SELECT sum(q.qv[i + 1]::DOUBLE * q.qv[i + 1]::DOUBLE) FROM range(64) t(i))) AS qn,
        |  sqrt((SELECT sum(e.embedding[i + 1]::DOUBLE * e.embedding[i + 1]::DOUBLE) FROM range(64) t(i))) AS en
        |  FROM q, embeddings e WHERE e.vec_id != q.qid),
        |r AS (SELECT qid, vid,
        |  row_number() OVER (PARTITION BY qid ORDER BY dot / (qn * en) DESC, vid) AS rank
        |  FROM p)
        |SELECT qid, rank, vid FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),

    // ANN scale path: IVF with a k-means coarse quantizer over a
    // deterministic CLUSTERED fixture (16 orthogonal centers x 30 members,
    // dyadic perturbations) — the regime IVF exists for, and the regime
    // where it is oracle-checkable: k-means init (lowest 16 vids = one
    // member per true cluster) provably recovers the clusters, every
    // query's exact top-5 lives in its probed lists, so the IVF rank rows
    // EQUAL DuckDB's exact-cosine top-5 (recall 1.0 by construction; any
    // index bug breaks the hash). All coordinates are dyadic -> cosines
    // are bit-identical across engines and rank gaps are ~1e-3, far above
    // ULP. Recall-vs-brute on a clustered fixture also stays in SimSpec.
    GatedQuery("e2_ann_ivf", (s, _) => {
      import s.implicits._
      val e = clusteredEmbeddings(s)
      // init (lowest 16 vids) is already one member per true cluster, so
      // Lloyd's converges on iteration 1; 2 iterations = convergence proof
      // at half the fixed per-job overhead of 4
      val (clusters, centroids) = graft.sim.Similarity.kmeansWithCentroids(
        s, e, "vec_id", "embedding", k = 16, iters = 2) // k = #true clusters
      val withCl = e.join(clusters, e("vec_id") === clusters("vid")).drop("vid")
      val q = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      graft.sim.Similarity.ivfTopK(s, withCl, "vec_id", "embedding", "cl",
          q, k = 5, nProbe = 2, centroidTable = Some(centroids))
        .orderBy($"qid", $"rank")
    },
      """WITH v AS (
        |  SELECT t.vid AS vid, d.d AS d,
        |    (CASE WHEN d.d = t.vid % 16 THEN 8.0 ELSE 0.0 END)
        |      + (((t.vid // 16) * 31 + d.d * 17 + (t.vid % 16) * 7) % 13 - 6) * 0.125 AS x
        |  FROM range(480) t(vid), range(16) d(d)),
        |norms AS (SELECT vid, sqrt(sum(x*x)) AS n FROM v GROUP BY vid),
        |pairs AS (
        |  SELECT q.vid AS qid, c.vid AS vid, sum(q.x * c.x) AS dot
        |  FROM v q JOIN v c ON q.d = c.d AND q.vid < 10 AND c.vid <> q.vid
        |  GROUP BY q.vid, c.vid),
        |cs AS (
        |  SELECT p.qid, p.vid, p.dot / (nq.n * nc.n) AS cos
        |  FROM pairs p JOIN norms nq ON nq.vid = p.qid
        |              JOIN norms nc ON nc.vid = p.vid),
        |rk AS (SELECT qid, vid,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
        |  FROM cs)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vid
        |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),

    // Product-quantization ANN: m=4 byte codes per vector, broadcast ADC
    // lookup tables, shortlist by ADC + exact cosine re-rank of
    // SURVIVORS ONLY (the compressed exhaustive path — codes are 4 B vs
    // 64 B raw, so the scan is bandwidth-compressed 16x; compose with
    // e2's IVF lists for sublinear IVF-PQ). On the separated fixture the
    // shortlist provably contains the true top-5 (inter-cluster ADC gap
    // ~128 vs intra ~20 dwarfs quantization error), so the re-ranked
    // output equals DuckDB's exact top-5 — hash-gated.
    GatedQuery("e3_ann_pq", (s, _) => {
      import s.implicits._
      val e = clusteredEmbeddings(s)
      val q = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      graft.sim.Similarity.pqTopK(s, e, "vec_id", "embedding", q,
          m = 4, ksub = 16, iters = 2, shortlist = 60, k = 5)
        .orderBy($"qid", $"rank")
    },
      // e2: exact cosine top-5 on the clustered fixture — equal to the IVF
      // result by construction (every query's true top-5 lives in its
      // probed lists; dyadic coords make cosines bit-identical and rank
      // gaps ~1e-3).
      // e3: exact top-5 over the same fixture — PQ shortlist + exact
      // re-rank must reproduce it (see the e3 query comment for the proof)
      """WITH v AS (
        |  SELECT t.vid AS vid, d.d AS d,
        |    (CASE WHEN d.d = t.vid % 16 THEN 8.0 ELSE 0.0 END)
        |      + (((t.vid // 16) * 31 + d.d * 17 + (t.vid % 16) * 7) % 13 - 6) * 0.125 AS x
        |  FROM range(480) t(vid), range(16) d(d)),
        |norms AS (SELECT vid, sqrt(sum(x*x)) AS n FROM v GROUP BY vid),
        |pairs AS (
        |  SELECT q.vid AS qid, c.vid AS vid, sum(q.x * c.x) AS dot
        |  FROM v q JOIN v c ON q.d = c.d AND q.vid < 10 AND c.vid <> q.vid
        |  GROUP BY q.vid, c.vid),
        |cs AS (
        |  SELECT p.qid, p.vid, p.dot / (nq.n * nc.n) AS cos
        |  FROM pairs p JOIN norms nq ON nq.vid = p.qid
        |              JOIN norms nc ON nc.vid = p.vid),
        |rk AS (SELECT qid, vid,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
        |  FROM cs)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vid
        |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),

    // IVF-PQ: coarse lists bound WHICH vectors are scanned (nProbe=2 of
    // 16 lists), byte codes bound HOW MUCH each scan reads — the FAISS
    // production composition of e2 + e3. Same separated fixture: the
    // probed lists contain the true top-5 and the ADC gap dwarfs
    // quantization error, so shortlist + exact re-rank == exact top-5.
    GatedQuery("e4_ann_ivfpq", (s, _) => {
      import s.implicits._
      val e = clusteredEmbeddings(s)
      val (clusters, centroids) = graft.sim.Similarity.kmeansWithCentroids(
        s, e, "vec_id", "embedding", k = 16, iters = 2) // k = #true clusters
      val withCl = e.join(clusters, e("vec_id") === clusters("vid")).drop("vid")
      val q = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      graft.sim.Similarity.ivfPqTopK(s, withCl, "vec_id", "embedding", "cl",
          q, centroids, m = 4, ksub = 16, iters = 2, nProbe = 2,
          shortlist = 40, k = 5)
        .orderBy($"qid", $"rank")
    },
      // e4: exact top-5 again — IVF-PQ must reproduce it (probed lists
      // contain the true neighbors; ADC margins per the e3/e4 comments)
      """WITH v AS (
        |  SELECT t.vid AS vid, d.d AS d,
        |    (CASE WHEN d.d = t.vid % 16 THEN 8.0 ELSE 0.0 END)
        |      + (((t.vid // 16) * 31 + d.d * 17 + (t.vid % 16) * 7) % 13 - 6) * 0.125 AS x
        |  FROM range(480) t(vid), range(16) d(d)),
        |norms AS (SELECT vid, sqrt(sum(x*x)) AS n FROM v GROUP BY vid),
        |pairs AS (
        |  SELECT q.vid AS qid, c.vid AS vid, sum(q.x * c.x) AS dot
        |  FROM v q JOIN v c ON q.d = c.d AND q.vid < 10 AND c.vid <> q.vid
        |  GROUP BY q.vid, c.vid),
        |cs AS (
        |  SELECT p.qid, p.vid, p.dot / (nq.n * nc.n) AS cos
        |  FROM pairs p JOIN norms nq ON nq.vid = p.qid
        |              JOIN norms nc ON nc.vid = p.vid),
        |rk AS (SELECT qid, vid,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
        |  FROM cs)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vid
        |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),

    // kNN label-vote classification — the embedding-eval op: each query
    // takes the majority label of its exact top-5 cosine neighbours
    // (ties -> smallest label). The vote layer is deterministic over the
    // e1-proven rank rows; at scale the same layer rides the IVF/PQ
    // shortlists.
    GatedQuery("e5_knn_classify", (s, dir) => {
      import s.implicits._
      val e = table(s, dir, "embeddings")
      val labels = e.select($"vec_id".as("vid"),
        $"label".cast("long").as("label"))
      val q = e.filter($"vec_id" < 50)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      graft.sim.Similarity.knnClassify(q,
          e.select($"vec_id".as("vid"), $"embedding".as("v")), labels, 5)
        .orderBy($"qid")
    },
      // e5: e1's exact top-5 CTE extended with the label vote (majority,
      // ties -> smallest label)
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 50),
        |p AS (SELECT q.qid, e.vec_id AS vid, e.label AS label,
        |  (SELECT sum(q.qv[i + 1]::DOUBLE * e.embedding[i + 1]::DOUBLE) FROM range(64) t(i)) AS dot,
        |  sqrt((SELECT sum(q.qv[i + 1]::DOUBLE * q.qv[i + 1]::DOUBLE) FROM range(64) t(i))) AS qn,
        |  sqrt((SELECT sum(e.embedding[i + 1]::DOUBLE * e.embedding[i + 1]::DOUBLE) FROM range(64) t(i))) AS en
        |  FROM q, embeddings e WHERE e.vec_id != q.qid),
        |r AS (SELECT qid, vid, label,
        |  row_number() OVER (PARTITION BY qid ORDER BY dot / (qn * en) DESC, vid) AS rank
        |  FROM p),
        |votes AS (SELECT qid, CAST(label AS BIGINT) AS pred, count(*) AS votes
        |  FROM r WHERE rank <= 5 GROUP BY 1, 2),
        |best AS (SELECT qid, pred, votes,
        |  row_number() OVER (PARTITION BY qid ORDER BY votes DESC, pred) AS vr
        |  FROM votes)
        |SELECT b.qid, CAST(e.label AS BIGINT) AS true_label, b.pred, b.votes
        |FROM best b JOIN embeddings e ON e.vec_id = b.qid
        |WHERE b.vr = 1 ORDER BY b.qid""".stripMargin),

    // SQ8 scalar-quantized ANN — int8 codes (4x scan compression), exact
    // INTEGER candidate dots. The GATE covers the full 32-deep integer
    // shortlist layer: per-dim max-abs scales, floor(+0.5) quantization,
    // integer dots, (idot desc, vid) ranking — every gated column an exact
    // integer, so no float near-tie can flip the hash across engines (the
    // r4 regression: the float cosine re-rank layer ordered a near-tie
    // differently under the driver's DuckDB). The float re-rank
    // ([[Similarity.sq8TopK]]) is gated in SimilaritySpec against a
    // driver-exact reference instead.
    GatedQuery("e6_ann_sq8", (s, dir) => {
      import s.implicits._
      val e = table(s, dir, "embeddings")
      graft.sim.Similarity.sq8Shortlist(s,
          e.select($"vec_id", $"embedding"), "vec_id", "embedding",
          e.filter($"vec_id" < 10).select($"vec_id", $"embedding"),
          "vec_id", "embedding", shortlist = 32)
        .orderBy($"qid", $"rank")
    },
      // e6: SQ8 integer-layer replication — scales, floor(+0.5) int8 codes,
      // exact integer candidate dots, shortlist 32 ranked by (idot, vid).
      // Integer end to end; the float re-rank is ScalaTest-gated.
      """WITH sc AS (
        |  SELECT i.i AS d, max(abs(e.embedding[i.i + 1]::DOUBLE)) AS s
        |  FROM embeddings e, range(64) i(i) GROUP BY 1),
        |cq AS (
        |  SELECT e.vec_id AS vid, i.i AS d,
        |    CASE WHEN sc.s = 0 THEN 0
        |      ELSE CAST(greatest(-127, least(127,
        |        floor(127 * e.embedding[i.i + 1]::DOUBLE / sc.s + 0.5))) AS BIGINT)
        |    END AS q
        |  FROM embeddings e, range(64) i(i), sc WHERE sc.d = i.i),
        |dots AS (
        |  SELECT q.vid AS qid, b.vid AS vid, CAST(sum(q.q * b.q) AS BIGINT) AS idot
        |  FROM cq q JOIN cq b ON b.d = q.d AND b.vid != q.vid
        |  WHERE q.vid < 10 GROUP BY 1, 2)
        |SELECT qid, rank, vid, idot FROM (
        |  SELECT qid, vid, idot,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY idot DESC, vid) AS BIGINT) AS rank
        |  FROM dots)
        |WHERE rank <= 32 ORDER BY qid, rank""".stripMargin),

    // FILTERED ANN (hybrid search) — the production retrieval shape:
    // a metadata predicate (lang = 'en', i.e. vid % 3 = 0 — 10 of each
    // cluster's 30 members) composes with the IVF scan by filtering the
    // inverted lists BEFORE the candidate join; clustering and probe
    // selection stay on the full corpus (the FAISS IDSelector pattern).
    // On the e2 fixture every query's filtered exact top-5 lives in its
    // own (always-probed) cluster, so IVF-filtered == exact-filtered and
    // the DuckDB brute oracle gates it.
    GatedQuery("e7_ann_filtered", (s, _) => {
      import s.implicits._
      val C = 16; val M = 30; val dim = 16
      val e = s.range(C.toLong * M).map { vid =>
        val cl = (vid % C).toInt; val m = (vid / C).toInt
        val v = Array.tabulate(dim) { d =>
          val center = if (d == cl) 8.0f else 0.0f
          center + (((m * 31 + d * 17 + cl * 7) % 13) - 6) * 0.125f
        }
        (vid, v, Seq("en", "de", "fr")((vid % 3).toInt))
      }.toDF("vec_id", "embedding", "lang")
      val (clusters, centroids) = graft.sim.Similarity.kmeansWithCentroids(
        s, e.select($"vec_id", $"embedding"), "vec_id", "embedding",
        k = C, iters = 2)
      val withCl = e.join(clusters, e("vec_id") === clusters("vid")).drop("vid")
      val filtered = withCl.filter($"lang" === "en")
      val q = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      graft.sim.Similarity.ivfTopK(s, filtered, "vec_id", "embedding", "cl",
          q, k = 5, nProbe = 2, centroidTable = Some(centroids))
        .orderBy($"qid", $"rank")
    },
      // e7: the e2 brute oracle with the metadata predicate applied to the
      // corpus side (vid % 3 = 0 <=> lang = 'en')
      """WITH v AS (
        |  SELECT t.vid AS vid, d.d AS d,
        |    (CASE WHEN d.d = t.vid % 16 THEN 8.0 ELSE 0.0 END)
        |      + (((t.vid // 16) * 31 + d.d * 17 + (t.vid % 16) * 7) % 13 - 6) * 0.125 AS x
        |  FROM range(480) t(vid), range(16) d(d)),
        |norms AS (SELECT vid, sqrt(sum(x*x)) AS n FROM v GROUP BY vid),
        |pairs AS (
        |  SELECT q.vid AS qid, c.vid AS vid, sum(q.x * c.x) AS dot
        |  FROM v q JOIN v c ON q.d = c.d AND q.vid < 10 AND c.vid <> q.vid
        |    AND c.vid % 3 = 0
        |  GROUP BY q.vid, c.vid),
        |cs AS (
        |  SELECT p.qid, p.vid, p.dot / (nq.n * nc.n) AS cos
        |  FROM pairs p JOIN norms nq ON nq.vid = p.qid
        |              JOIN norms nc ON nc.vid = p.vid),
        |rk AS (SELECT qid, vid,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
        |  FROM cs)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vid
        |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),

    // RANGE (radius) search — top-k's set-valued sibling (FAISS
    // range_search): every corpus vector with cosine >= tau per query.
    // Unlike e2's nProbe heuristic, the probe set is the per-cluster
    // BALL BOUND (triangle inequality on unit-normalized vectors) — an
    // exact superset, so recall is 1.0 BY CONSTRUCTION on any data and
    // the result equals brute force with zero probabilistic caveat. On
    // the clustered fixture the cross/within-cluster cosine chasm is
    // [0.218, 0.920], so tau = 0.6 sits 0.38 from the nearest data
    // point on either side — no engine's float summation order can
    // flip a membership. Output: the 290 same-cluster (qid, vid) pairs.
    GatedQuery("e8_range_search", (s, _) => {
      import s.implicits._
      val e = clusteredEmbeddings(s)
      val (clusters, centroids) = graft.sim.Similarity.kmeansWithCentroids(
        s, e, "vec_id", "embedding", k = 16, iters = 2)
      val withCl = e.join(clusters, e("vec_id") === clusters("vid")).drop("vid")
      val q = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      graft.sim.Similarity.rangeSearch(s, withCl, "vec_id", "embedding",
          "cl", q, tau = 0.6, centroidTable = Some(centroids))
        .orderBy($"qid", $"vid")
    },
      // e8: brute-force radius filter on the same reconstructed fixture —
      // the ball-bound probe set is an exact superset, so the engine's
      // pruned result must EQUAL this unpruned oracle
      """WITH v AS (
        |  SELECT t.vid AS vid, d.d AS d,
        |    (CASE WHEN d.d = t.vid % 16 THEN 8.0 ELSE 0.0 END)
        |      + (((t.vid // 16) * 31 + d.d * 17 + (t.vid % 16) * 7) % 13 - 6) * 0.125 AS x
        |  FROM range(480) t(vid), range(16) d(d)),
        |norms AS (SELECT vid, sqrt(sum(x*x)) AS n FROM v GROUP BY vid),
        |pairs AS (
        |  SELECT q.vid AS qid, c.vid AS vid, sum(q.x * c.x) AS dot
        |  FROM v q JOIN v c ON q.d = c.d AND q.vid < 10 AND c.vid <> q.vid
        |  GROUP BY q.vid, c.vid)
        |SELECT p.qid AS qid, p.vid AS vid
        |FROM pairs p JOIN norms nq ON nq.vid = p.qid
        |            JOIN norms nc ON nc.vid = p.vid
        |WHERE p.dot / (nq.n * nc.n) >= 0.6
        |ORDER BY p.qid, p.vid""".stripMargin),

    // Maximum-inner-product search via the norm-augmentation reduction
    // (Shrivastava & Li 2014): corpus vectors gain sqrt(M^2 - |x|^2),
    // queries gain 0, making the augmented corpus CONSTANT-norm so any
    // cosine/L2 index serves MIPS (recommendation retrieval where
    // higher-norm items must win — cosine alone ranks them wrong).
    // Fixture: the e1 clustered recipe with norms deliberately skewed
    // 5x by (vid % 5 + 1)/4 — a scale-up under which cosine and MIPS
    // top-5 genuinely differ (spec asserts it). Every scaled coordinate
    // is a dyadic multiple of 2^-5, so inner products are EXACT doubles
    // in both engines; ranking by raw augmented ip (not per-row cosine)
    // keeps exact ties breaking on vid, never float noise. Oracle: the
    // brute raw-dot top-5 in DuckDB.
    GatedQuery("e9_mips", (s, _) => {
      import s.implicits._
      val e = clusteredEmbeddings(s).select($"vec_id",
        transform($"embedding",
          x => x * (($"vec_id" % 5 + 1).cast("float") * lit(0.25f))).as("v"))
      val q = e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"v".as("qv"))
      graft.sim.Similarity.mipsTopK(q, e, "vec_id", "v", k = 5)
        .orderBy($"qid", $"rank")
    },
      // e9: brute raw inner-product top-5 over the norm-skewed fixture —
      // the augmented engine path must reproduce the raw MIPS ranking
      """WITH v AS (
        |  SELECT t.vid AS vid, d.d AS d,
        |    ((CASE WHEN d.d = t.vid % 16 THEN 8.0 ELSE 0.0 END)
        |      + (((t.vid // 16) * 31 + d.d * 17 + (t.vid % 16) * 7) % 13 - 6) * 0.125)
        |    * ((t.vid % 5 + 1) * 0.25) AS x
        |  FROM range(480) t(vid), range(16) d(d)),
        |pairs AS (
        |  SELECT q.vid AS qid, c.vid AS vid,
        |    CAST(sum(q.x * c.x) AS DOUBLE) AS ip
        |  FROM v q JOIN v c ON q.d = c.d AND q.vid < 10 AND c.vid <> q.vid
        |  GROUP BY q.vid, c.vid),
        |rk AS (SELECT qid, vid, ip,
        |  row_number() OVER (PARTITION BY qid ORDER BY ip DESC, vid) AS rank
        |  FROM pairs)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vid, ip
        |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),

    // K-MEANS TRAINING DYNAMICS gated directly — two distributed Lloyd
    // iterations with a deliberately DEGENERATE init (the lowest-3 vids
    // all sit inside blob 0, so assignments genuinely move across
    // rounds; d20 by contrast inits one-per-cluster and converges
    // instantly). Every arithmetic step is engine-reproducible: dyadic
    // integer coordinates -> exact double sums in ANY reduction order ->
    // one IEEE division per mean -> identical squared distances, argmin
    // tie-broken by lowest cluster id in both engines. The oracle
    // replays both rounds in SQL (rank-1 argmin per round, avg per
    // cluster, lost clusters keep their previous centroid). Per round:
    // one broadcast of k centroids + one groupByKey partial-sum — the
    // canonical distributed training loop (driver holds k vectors,
    // never points).
    GatedQuery("e10_kmeans_assign", (s, _) => {
      import s.implicits._
      val pts = s.range(36).map { i =>
        val g = (i / 12).toInt; val m = (i % 12).toInt
        val x = (if (g == 1) 100 else 0) + m % 5 - 2
        val y = (if (g == 2) 100 else 0) + (m * 7) % 5 - 2
        (i, Array(x.toFloat, y.toFloat))
      }.toDF("vid", "v")
      val (assign, _) = graft.sim.Similarity.kmeansWithCentroids(
        s, pts, "vid", "v", k = 3, iters = 2)
      assign.select($"vid", $"cl".cast("long").as("cl"))
        .orderBy($"vid")
    },
      // e10: both Lloyd rounds replayed in SQL — per-round rank-1 argmin
      // (tie-break lowest cl, matching the kernel's strict-< scan), avg
      // per captured cluster, lost clusters keep their previous centroid;
      // dyadic inputs make every double op bit-identical across engines
      """WITH p AS MATERIALIZED (
        |  SELECT t.i AS vid,
        |    (CASE WHEN t.i // 12 = 1 THEN 100 ELSE 0 END)
        |      + (t.i % 12) % 5 - 2 AS x,
        |    (CASE WHEN t.i // 12 = 2 THEN 100 ELSE 0 END)
        |      + ((t.i % 12) * 7) % 5 - 2 AS y
        |  FROM range(36) t(i)),
        |c0 AS MATERIALIZED (SELECT vid AS cl, CAST(x AS DOUBLE) AS mx,
        |    CAST(y AS DOUBLE) AS my FROM p WHERE vid < 3),
        |a1 AS MATERIALIZED (SELECT vid, cl FROM (
        |    SELECT p.vid, c.cl, row_number() OVER (PARTITION BY p.vid
        |      ORDER BY (p.x - c.mx) * (p.x - c.mx)
        |             + (p.y - c.my) * (p.y - c.my), c.cl) AS rn
        |    FROM p, c0 c) WHERE rn = 1),
        |c1 AS MATERIALIZED (
        |  SELECT c0.cl, coalesce(u.mx, c0.mx) AS mx,
        |    coalesce(u.my, c0.my) AS my
        |  FROM c0 LEFT JOIN (
        |    SELECT a.cl, avg(CAST(p.x AS DOUBLE)) AS mx,
        |      avg(CAST(p.y AS DOUBLE)) AS my
        |    FROM a1 a JOIN p ON p.vid = a.vid GROUP BY 1) u
        |  ON u.cl = c0.cl),
        |a2 AS MATERIALIZED (SELECT vid, cl FROM (
        |    SELECT p.vid, c.cl, row_number() OVER (PARTITION BY p.vid
        |      ORDER BY (p.x - c.mx) * (p.x - c.mx)
        |             + (p.y - c.my) * (p.y - c.my), c.cl) AS rn
        |    FROM p, c1 c) WHERE rn = 1),
        |c2 AS MATERIALIZED (
        |  SELECT c1.cl, coalesce(u.mx, c1.mx) AS mx,
        |    coalesce(u.my, c1.my) AS my
        |  FROM c1 LEFT JOIN (
        |    SELECT a.cl, avg(CAST(p.x AS DOUBLE)) AS mx,
        |      avg(CAST(p.y AS DOUBLE)) AS my
        |    FROM a2 a JOIN p ON p.vid = a.vid GROUP BY 1) u
        |  ON u.cl = c1.cl)
        |SELECT CAST(f.vid AS BIGINT) AS vid, CAST(f.cl AS BIGINT) AS cl
        |FROM (SELECT vid, cl FROM (
        |    SELECT p2.vid, c.cl, row_number() OVER (PARTITION BY p2.vid
        |      ORDER BY (p2.x - c.mx) * (p2.x - c.mx)
        |             + (p2.y - c.my) * (p2.y - c.my), c.cl) AS rn
        |    FROM p p2, c2 c) WHERE rn = 1) f
        |ORDER BY vid""".stripMargin),

    // ANN RECALL EVALUATION (e11) — the eval-harness op every production
    // retrieval pipeline runs: recall of IVF nProbe=1 against the exact
    // top-3, per query, on the e10 fixture TRANSLATED by +10 (same
    // degenerate-init Lloyd dynamics — k-means is translation invariant —
    // but cosine becomes well-defined: no vector is ever zero). e10's
    // gated final state genuinely SPLITS blob 0 across two clusters and
    // merges blobs 1+2, so nProbe=1 has real misses: this gate hashes
    // honest per-query recall < 1, not a recall-1.0-by-construction
    // fixture like e2. n_ann < 3 where the probed list is short (cluster
    // {0,5,10} offers 2 candidates) — the boundary IVF behavior itself.
    GatedQuery("e11_recall_eval", (s, _) => {
      import s.implicits._
      val pts = s.range(36).map { i =>
        val g = (i / 12).toInt; val m = (i % 12).toInt
        val x = 10 + (if (g == 1) 100 else 0) + m % 5 - 2
        val y = 10 + (if (g == 2) 100 else 0) + (m * 7) % 5 - 2
        (i, Array(x.toFloat, y.toFloat))
      }.toDF("vec_id", "embedding")
      val (assign, centroids) = graft.sim.Similarity.kmeansWithCentroids(
        s, pts, "vec_id", "embedding", k = 3, iters = 2)
      val withCl = pts.join(assign, pts("vec_id") === assign("vid"))
        .drop("vid")
      val q = pts.select($"vec_id".as("qid"), $"embedding".as("qv"))
      val ann = graft.sim.Similarity.ivfTopK(s, withCl, "vec_id",
        "embedding", "cl", q, k = 3, nProbe = 1,
        centroidTable = Some(centroids))
      val exact = graft.sim.Similarity.bruteTopK(q,
        pts.select($"vec_id".as("vid"), $"embedding".as("v")), 3)
      val annN = ann.groupBy($"qid").agg(count(lit(1)).as("na"))
      val hitN = ann.join(exact.select($"qid", $"vid"), Seq("qid", "vid"))
        .groupBy($"qid").agg(count(lit(1)).as("nh"))
      q.select($"qid").join(annN, Seq("qid"), "left")
        .join(hitN, Seq("qid"), "left")
        .select($"qid", coalesce($"na", lit(0L)).as("n_ann"),
          coalesce($"nh", lit(0L)).as("n_hits"))
        .orderBy($"qid")
    },
      // e11: the e10 Lloyd replay (translated +10) -> final assignment +
      // final centroids -> nProbe=1 probe by euclidean d2 (tie: lowest cl)
      // -> in-list cosine top-3 vs all-pairs cosine top-3 -> per-query
      // intersection counts. Cosines on the raw integer coordinates
      // (x1*y1 + x2*y2, one IEEE division) — bit-identical cross-engine.
      """WITH p AS MATERIALIZED (
        |  SELECT t.i AS vid,
        |    10 + (CASE WHEN t.i // 12 = 1 THEN 100 ELSE 0 END)
        |      + (t.i % 12) % 5 - 2 AS x,
        |    10 + (CASE WHEN t.i // 12 = 2 THEN 100 ELSE 0 END)
        |      + ((t.i % 12) * 7) % 5 - 2 AS y
        |  FROM range(36) t(i)),
        |c0 AS MATERIALIZED (SELECT vid AS cl, CAST(x AS DOUBLE) AS mx,
        |    CAST(y AS DOUBLE) AS my FROM p WHERE vid < 3),
        |a1 AS MATERIALIZED (SELECT vid, cl FROM (
        |    SELECT p.vid, c.cl, row_number() OVER (PARTITION BY p.vid
        |      ORDER BY (p.x - c.mx) * (p.x - c.mx)
        |             + (p.y - c.my) * (p.y - c.my), c.cl) AS rn
        |    FROM p, c0 c) WHERE rn = 1),
        |c1 AS MATERIALIZED (
        |  SELECT c0.cl, coalesce(u.mx, c0.mx) AS mx,
        |    coalesce(u.my, c0.my) AS my
        |  FROM c0 LEFT JOIN (
        |    SELECT a.cl, avg(CAST(p.x AS DOUBLE)) AS mx,
        |      avg(CAST(p.y AS DOUBLE)) AS my
        |    FROM a1 a JOIN p ON p.vid = a.vid GROUP BY 1) u
        |  ON u.cl = c0.cl),
        |a2 AS MATERIALIZED (SELECT vid, cl FROM (
        |    SELECT p.vid, c.cl, row_number() OVER (PARTITION BY p.vid
        |      ORDER BY (p.x - c.mx) * (p.x - c.mx)
        |             + (p.y - c.my) * (p.y - c.my), c.cl) AS rn
        |    FROM p, c1 c) WHERE rn = 1),
        |c2 AS MATERIALIZED (
        |  SELECT c1.cl, coalesce(u.mx, c1.mx) AS mx,
        |    coalesce(u.my, c1.my) AS my
        |  FROM c1 LEFT JOIN (
        |    SELECT a.cl, avg(CAST(p.x AS DOUBLE)) AS mx,
        |      avg(CAST(p.y AS DOUBLE)) AS my
        |    FROM a2 a JOIN p ON p.vid = a.vid GROUP BY 1) u
        |  ON u.cl = c1.cl),
        |af AS MATERIALIZED (SELECT vid, cl FROM (
        |    SELECT p2.vid, c.cl, row_number() OVER (PARTITION BY p2.vid
        |      ORDER BY (p2.x - c.mx) * (p2.x - c.mx)
        |             + (p2.y - c.my) * (p2.y - c.my), c.cl) AS rn
        |    FROM p p2, c2 c) WHERE rn = 1),
        |probe AS MATERIALIZED (SELECT vid AS qid, cl FROM (
        |    SELECT p.vid, c.cl, row_number() OVER (PARTITION BY p.vid
        |      ORDER BY (p.x - c.mx) * (p.x - c.mx)
        |             + (p.y - c.my) * (p.y - c.my), c.cl) AS rn
        |    FROM p, c2 c) WHERE rn = 1),
        |norms AS MATERIALIZED (SELECT vid,
        |    sqrt(CAST(x * x + y * y AS DOUBLE)) AS n FROM p),
        |ann AS MATERIALIZED (SELECT qid, vid FROM (
        |    SELECT pr.qid, m.vid,
        |      row_number() OVER (PARTITION BY pr.qid ORDER BY
        |        CAST(q.x * m.x + q.y * m.y AS DOUBLE) / (nq.n * nm.n) DESC,
        |        m.vid) AS rank
        |    FROM probe pr
        |    JOIN af ON af.cl = pr.cl
        |    JOIN p m ON m.vid = af.vid
        |    JOIN p q ON q.vid = pr.qid
        |    JOIN norms nq ON nq.vid = pr.qid
        |    JOIN norms nm ON nm.vid = m.vid
        |    WHERE m.vid <> pr.qid) WHERE rank <= 3),
        |exact AS MATERIALIZED (SELECT qid, vid FROM (
        |    SELECT q.vid AS qid, m.vid,
        |      row_number() OVER (PARTITION BY q.vid ORDER BY
        |        CAST(q.x * m.x + q.y * m.y AS DOUBLE) / (nq.n * nm.n) DESC,
        |        m.vid) AS rank
        |    FROM p q JOIN p m ON m.vid <> q.vid
        |    JOIN norms nq ON nq.vid = q.vid
        |    JOIN norms nm ON nm.vid = m.vid) WHERE rank <= 3),
        |annN AS (SELECT qid, count(*) AS na FROM ann GROUP BY qid),
        |hitN AS (SELECT a.qid, count(*) AS nh FROM ann a
        |  JOIN exact e ON e.qid = a.qid AND e.vid = a.vid GROUP BY a.qid)
        |SELECT CAST(t.i AS BIGINT) AS qid,
        |  CAST(coalesce(annN.na, 0) AS BIGINT) AS n_ann,
        |  CAST(coalesce(hitN.nh, 0) AS BIGINT) AS n_hits
        |FROM range(36) t(i)
        |LEFT JOIN annN ON annN.qid = t.i
        |LEFT JOIN hitN ON hitN.qid = t.i
        |ORDER BY qid""".stripMargin)
  )
}
