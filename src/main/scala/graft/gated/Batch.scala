package graft
package gated

import org.apache.spark.sql.functions._
import graft.corpus.ImageCorpus
import Fixtures.{table, perceptualCorpusTable, phashedPerceptual, i4PairCtes}

/** Training-batch gates (m), an off-paper family: contrastive batches,
  * mixture interleave and sampling, curriculum, epoch order, length
  * buckets, curated batches and hard negatives. */
object BatchGates {

  val gated: Seq[GatedQuery] = Seq(
    // CLIP-style contrastive BATCH construction over the image+caption
    // pair table (the north-star table shape): content dedup by
    // md5(bytes) kills false in-batch negatives (16 planted exact
    // duplicates under 'dup-' ids — the keeper rule picks them over
    // their 'img-' twins), md5(id) gives the deterministic shuffle, and
    // the global batch position comes from the distributed
    // range-partition + zipWithIndex pass — never a one-partition
    // window. Oracle regenerates the keeper set and the md5 permutation
    // in closed form.
    GatedQuery("m1_contrastive_batches", (s, _) => {
      import s.implicits._
      val base = ImageCorpus.generateExact(s, 64L, 8).toDF()
      val dups = base
        .withColumn("i", substring($"image_id", 5, 8).cast("long"))
        .filter($"i" % 4 === 0)
        .withColumn("image_id",
          concat(lit("dup-"), lpad($"i".cast("string"), 8, "0")))
        .drop("i")
      val pairs = base.unionByName(dups)
        .withColumn("content_key", md5($"bytes"))
      graft.ml.Batching.contrastiveBatches(pairs, "image_id", "content_key",
          batchSize = 16)
        .orderBy($"image_id")
    },
      // m1: keeper set + md5 permutation + batch arithmetic in closed
      // form ('dup-k' < 'img-k' so planted duplicates win the keeper rule)
      """WITH ids AS (
        |  SELECT CASE WHEN i.i % 4 = 0
        |      THEN 'dup-' || lpad(CAST(i.i AS VARCHAR), 8, '0')
        |      ELSE 'img-' || lpad(CAST(i.i AS VARCHAR), 8, '0') END AS image_id
        |  FROM range(64) i(i)),
        |r AS (SELECT image_id,
        |    row_number() OVER (ORDER BY md5(image_id), image_id) - 1 AS idx
        |  FROM ids)
        |SELECT image_id, CAST(idx // 16 AS BIGINT) AS batch_id,
        |  CAST(idx % 16 AS BIGINT) AS pos
        |FROM r ORDER BY image_id""".stripMargin),

    // Modality MIXTURE INTERLEAVING — the data-mixing op: text/image/
    // audio/video streams woven 4:2:1:1 per 8-slot period, each stream
    // independently md5-shuffled and distributed-indexed, truncated at
    // the last COMPLETE period (here 8 periods = video-limited, 64
    // rows) so the ratio is exact everywhere. Oracle replicates the
    // permutations and the slot arithmetic per modality.
    GatedQuery("m2_mixture_interleave", (s, dir) => {
      import s.implicits._
      val text = table(s, dir, "documents")
        .select(concat(lit("doc-"), $"doc_id").as("item_id"))
      val image = ImageCorpus.generateExact(s, 64L, 8)
        .select($"image_id".as("item_id"))
      val audio = s.range(100)
        .select(concat(lit("wav-"), $"id").as("item_id"))
      val video = s.range(8)
        .select(concat(lit("gif-"), $"id").as("item_id"))
      graft.ml.Batching.mixtureInterleave(
          Seq(("text", text, 4), ("image", image, 2),
            ("audio", audio, 1), ("video", video, 1)), "item_id")
        .orderBy($"global_pos")
    },
      // m2: per-modality md5 permutations + the period/offset slot
      // arithmetic; periods = min(500/4, 64/2, 100/1, 8/1) = 8
      """WITH t AS (SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS id FROM documents),
        |i AS (SELECT 'img-' || lpad(CAST(x.x AS VARCHAR), 8, '0') AS id FROM range(64) x(x)),
        |a AS (SELECT 'wav-' || CAST(x.x AS VARCHAR) AS id FROM range(100) x(x)),
        |v AS (SELECT 'gif-' || CAST(x.x AS VARCHAR) AS id FROM range(8) x(x)),
        |ti AS (SELECT id, row_number() OVER (ORDER BY md5(id), id) - 1 AS idx FROM t),
        |ii AS (SELECT id, row_number() OVER (ORDER BY md5(id), id) - 1 AS idx FROM i),
        |ai AS (SELECT id, row_number() OVER (ORDER BY md5(id), id) - 1 AS idx FROM a),
        |vi AS (SELECT id, row_number() OVER (ORDER BY md5(id), id) - 1 AS idx FROM v)
        |SELECT modality, id AS item_id, CAST(global_pos AS BIGINT) AS global_pos FROM (
        |  SELECT 'text' AS modality, id, (idx // 4) * 8 + 0 + idx % 4 AS global_pos
        |    FROM ti WHERE idx < 32
        |  UNION ALL
        |  SELECT 'image', id, (idx // 2) * 8 + 4 + idx % 2 FROM ii WHERE idx < 16
        |  UNION ALL
        |  SELECT 'audio', id, (idx // 1) * 8 + 6 + idx % 1 FROM ai WHERE idx < 8
        |  UNION ALL
        |  SELECT 'video', id, (idx // 1) * 8 + 7 + idx % 1 FROM vi WHERE idx < 8)
        |ORDER BY global_pos""".stripMargin),

    // CURRICULUM ordering — easy-to-hard training order over the
    // documents table: integer difficulty tiers from n_chars
    // (<200 / <400 / rest -> 148/206/146 docs at sf0.01), md5-shuffled
    // within tier, positioned by the distributed range-partition +
    // zipWithIndex pass. Oracle replicates the composite-key
    // row_number in closed form.
    GatedQuery("m3_curriculum", (s, dir) => {
      import s.implicits._
      val docs = table(s, dir, "documents")
        .withColumn("tier",
          when($"n_chars" < 200, 0L).when($"n_chars" < 400, 1L).otherwise(2L))
      graft.ml.Batching.curriculumOrder(docs, "doc_id", "tier")
        .orderBy($"global_pos")
    },
      // m3: the composite curriculum key (zeropad(tier) | md5(id))
      // replicated as a row_number in closed form
      """WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS id,
        |    CASE WHEN n_chars < 200 THEN 0
        |         WHEN n_chars < 400 THEN 1 ELSE 2 END AS tier
        |  FROM documents)
        |SELECT id AS doc_id, CAST(tier AS BIGINT) AS tier,
        |  row_number() OVER (
        |    ORDER BY lpad(CAST(tier AS VARCHAR), 10, '0') || '|' || md5(id),
        |      id) - 1 AS global_pos
        |FROM d ORDER BY global_pos""".stripMargin),

    // End-to-end multimodal CURATION -> BATCHES flagship (the image-side
    // d17): perceptual-hash near-dup graph (i4's banded hamming join) ->
    // connected-component canonical keepers (i5's min-id rule; non-keeper
    // members drop) -> CLIP-style contrastive batches over the SURVIVING
    // unique content (m1's md5 shuffle + distributed global index) — the
    // whole image curation chain as ONE composed Spark plan. The oracle
    // replicates the full phash kernel, the recursive closure and the
    // batch arithmetic end to end.
    GatedQuery("m4_curated_batches", (s, _) => {
      import s.implicits._
      import graft.codecs.ImageCodec
      val corpus = perceptualCorpusTable(s)
      val sig = phashedPerceptual(s)
      val pairs = graft.text.TextOps.simhashNearPairs(sig, maxHamming = 6)
        .select($"ia", $"ib")
      val dropped = graft.operators.GraphOps.components(pairs, "ia", "ib")
        .filter($"node" =!= $"root")
        .select(format_string("img-%08d", $"node").as("image_id"))
      val survivors = corpus.select($"image_id")
        .join(dropped, Seq("image_id"), "left_anti")
      graft.ml.Batching.contrastiveBatches(survivors, "image_id", "image_id",
          batchSize = 16)
        .orderBy($"image_id")
    },
      // m4: i4's full phash kernel -> i5's recursive closure (non-keeper
      // members drop) -> m1's md5 permutation + batch arithmetic over the
      // survivors
      s"""WITH RECURSIVE $i4PairCtes,
        |p AS (SELECT ia, ib FROM ham WHERE hamming <= 6),
        |e AS (SELECT ia AS n, ib AS m FROM p UNION ALL SELECT ib, ia FROM p),
        |reach(n, lbl) AS (
        |  SELECT n, n FROM (SELECT DISTINCT n FROM e) t
        |  UNION
        |  SELECT e.m, reach.lbl FROM reach JOIN e ON e.n = reach.n),
        |dropped AS (SELECT n FROM reach GROUP BY n HAVING min(lbl) < n),
        |ids AS (SELECT 'img-' || lpad(CAST(i.i AS VARCHAR), 8, '0') AS image_id
        |  FROM range(1024) i(i) WHERE i.i NOT IN (SELECT n FROM dropped)),
        |r AS (SELECT image_id,
        |    row_number() OVER (ORDER BY md5(image_id), image_id) - 1 AS idx
        |  FROM ids)
        |SELECT image_id, CAST(idx // 16 AS BIGINT) AS batch_id,
        |  CAST(idx % 16 AS BIGINT) AS pos
        |FROM r ORDER BY image_id""".stripMargin),

    // EPOCH RESHUFFLING — 3 epochs over the documents table, each a
    // different reproducible md5(epoch:id) permutation, positions global
    // across the run (epoch e = block [e*n, (e+1)*n)). Oracle replicates
    // the salted-hash row_number in closed form.
    GatedQuery("m5_epoch_order", (s, dir) => {
      import s.implicits._
      graft.ml.Batching.epochOrder(table(s, dir, "documents"), "doc_id",
          epochs = 3)
        .orderBy($"global_pos")
    },
      // m5: the salted-hash permutation per epoch as one row_number over
      // the composite (zeropad(epoch) | md5(epoch:id)) key
      """WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS id FROM documents),
        |x AS (SELECT id, e.e AS epoch FROM d, range(3) e(e))
        |SELECT id AS doc_id, CAST(epoch AS BIGINT) AS epoch,
        |  row_number() OVER (
        |    ORDER BY lpad(CAST(epoch AS VARCHAR), 10, '0') || '|'
        |      || md5(CAST(epoch AS VARCHAR) || ':' || id), id) - 1
        |    AS global_pos
        |FROM x ORDER BY global_pos""".stripMargin),

    // LENGTH-BUCKETED batching (group-by-length): docs sort by (token
    // count, id) into batches of 8; the per-batch rollup carries the
    // padding-waste metric the bucketing minimizes. d27's exact token
    // count feeds it, so the whole chain is integer-exact.
    GatedQuery("m6_length_buckets", (s, dir) => {
      import s.implicits._
      val withTok = table(s, dir, "documents")
        .select($"doc_id",
          size(filter(split(trim($"text"), "\\s+"), t => t =!= lit("")))
            .cast("long").as("n_tok"))
      graft.ml.Batching.lengthBuckets(withTok, "doc_id", "n_tok", 8)
        .orderBy($"batch_id")
    },
      // d29: identical rank table (frequency desc, word asc) and identical
      // integer cross-multiply keep rule — no float anywhere
      // m6: identical (n_tok, doc_id) total order via row_number, identical
      // batch fill and padding-waste arithmetic — all integers
      """WITH t AS (SELECT doc_id,
        |    len(list_filter(string_split(trim(text), ' '), x -> x != '')) AS n_tok
        |  FROM documents),
        |r AS (SELECT doc_id, n_tok,
        |    row_number() OVER (ORDER BY n_tok, doc_id) - 1 AS rn FROM t)
        |SELECT CAST(rn // 8 AS BIGINT) AS batch_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(max(n_tok) AS BIGINT) AS max_len,
        |  CAST(sum(n_tok) AS BIGINT) AS sum_len,
        |  CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS pad_waste
        |FROM r GROUP BY 1 ORDER BY batch_id""".stripMargin),

    // MIXTURE SAMPLING to per-source token budgets — d31's systematic
    // sampler with an independent cumulative-weight line PER SOURCE and
    // a per-source step realizing the target mixture (steps 400/700/
    // 1000 by source index mod 3: half the step = twice that source's
    // tokens in the sampled corpus). The grouped prefix sum stays two
    // narrow passes (range partition on (source, id); driver holds
    // #groups + #partitions subtotal longs, never rows). m2 interleaves
    // modalities by quota; this WEIGHS sources inside one modality —
    // the Pile/Dolma-style mixture curation pass.
    GatedQuery("m7_mixture_sample", (s, dir) => {
      import s.implicits._
      val withTok = table(s, dir, "documents")
        .select($"source", $"doc_id",
          size(filter(split(trim($"text"), "\\s+"), t => t =!= lit("")))
            .cast("long").as("n_tok"))
      val steps = (0 until 20)
        .map(k => s"src$k" -> (400L + 300L * (k % 3))).toMap
      graft.text.TextOps.weightedSampleByGroup(withTok, "source", "doc_id",
          "n_tok", steps)
        .orderBy($"source", $"doc_id")
    },
      // m7: per-source window-sum offsets + the first-multiple rule with
      // the per-source step derived from the source index
      """WITH t AS (SELECT source, doc_id,
        |    len(list_filter(string_split(trim(text), ' '), x -> x != '')) AS n_tok,
        |    400 + 300 * (CAST(substr(source, 4) AS INT) % 3) AS step
        |  FROM documents),
        |c AS (SELECT source, doc_id, n_tok, step,
        |    coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_w
        |  FROM t)
        |SELECT source, doc_id, CAST(n_tok AS BIGINT) AS weight,
        |  CAST(start_w AS BIGINT) AS start_w,
        |  CAST((start_w + (step - start_w % step) % step) // step AS BIGINT)
        |    AS pick_idx
        |FROM c
        |WHERE n_tok > 0 AND (step - start_w % step) % step < n_tok
        |ORDER BY source, doc_id""".stripMargin),

    // HARD-NEGATIVE MINING (m8) — the contrastive-training batch
    // primitive: per anchor, the top-5 most-similar corpus vectors with
    // a DIFFERENT lang label (the near-misses an InfoNCE loss needs),
    // on the e7 labeled fixture. One composite-predicate join + window
    // top-k; dyadic coordinates make every cosine bit-identical
    // cross-engine, so the full ranking hash-gates.
    GatedQuery("m8_hard_negatives", (s, _) => {
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
      val anchors = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qv"),
          $"lang".as("qlabel"))
      val corpus = e.select($"vec_id".as("vid"), $"embedding".as("v"),
        $"lang".as("label"))
      graft.sim.Similarity.hardNegatives(anchors, corpus, k = 5)
        .orderBy($"qid", $"rank")
    },
      // m8: the e7 brute oracle with the label predicate INVERTED —
      // candidates must differ in lang (vid % 3) from the anchor
      """WITH v AS (
        |  SELECT t.vid AS vid, d.d AS d,
        |    (CASE WHEN d.d = t.vid % 16 THEN 8.0 ELSE 0.0 END)
        |      + (((t.vid // 16) * 31 + d.d * 17 + (t.vid % 16) * 7) % 13 - 6) * 0.125 AS x
        |  FROM range(480) t(vid), range(16) d(d)),
        |norms AS (SELECT vid, sqrt(sum(x*x)) AS n FROM v GROUP BY vid),
        |pairs AS (
        |  SELECT q.vid AS qid, c.vid AS vid, sum(q.x * c.x) AS dot
        |  FROM v q JOIN v c ON q.d = c.d AND q.vid < 10 AND c.vid <> q.vid
        |    AND c.vid % 3 <> q.vid % 3
        |  GROUP BY q.vid, c.vid),
        |cs AS (
        |  SELECT p.qid, p.vid, p.dot / (nq.n * nc.n) AS cos
        |  FROM pairs p JOIN norms nq ON nq.vid = p.qid
        |              JOIN norms nc ON nc.vid = p.vid),
        |rk AS (SELECT qid, vid,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
        |  FROM cs)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vid
        |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)
  )
}
