package graft
package gated

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Fixtures.table

/** Text-curation gates (d), an off-paper family: the training-data
  * pipeline over the `documents` table (dedup, quality, language id,
  * fingerprints, n-gram/MinHash/SimHash near-dup, PII scrub,
  * contamination, sampling, BPE, packing). */
object TextGates {

  /** Unrolled full-BPE DuckDB oracle for d25: w0 = the word-freq table
    * with each word as a '[sym][sym]' bracket-wrapped string; per round,
    * OVERLAPPING pair counts come from adjacent positions of the re-split
    * symbol list, the winner is (cnt desc, a, b), and the greedy
    * left-to-right merge is exactly SQL replace()'s left-to-right
    * non-overlapping substitution on the wrapped form (brackets make
    * symbol boundaries unambiguous). */
  private def bpeChainSql(n: Int): String = {
    val sb = new StringBuilder(
      """WITH w0 AS (
        |  SELECT x AS word, count(*) AS freq,
        |    '[' || array_to_string(string_split(x, ''), '][') || ']' AS s
        |  FROM documents d, unnest(string_split(d.text, ' ')) t(x)
        |  GROUP BY x)""".stripMargin)
    for (r <- 1 to n) {
      val p = r - 1
      sb.append(s""",
        |p$r AS (
        |  SELECT t.toks[j.j + 1] AS a, t.toks[j.j + 2] AS b, sum(t.freq) AS cnt
        |  FROM (SELECT freq, string_split(s[2:-2], '][') AS toks FROM w$p) t,
        |       unnest(range(len(t.toks) - 1)) j(j)
        |  GROUP BY 1, 2),
        |m$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
        |w$r AS (
        |  SELECT word, freq,
        |    replace(s, '[' || m.a || '][' || m.b || ']', '[' || m.a || m.b || ']') AS s
        |  FROM w$p, m$r m)""".stripMargin)
    }
    sb.toString
  }

  private def bpeOracleSql(n: Int): String = {
    val parts = (1 to n).map(r =>
      s"SELECT $r AS merge_rank, a AS left_sym, b AS right_sym, " +
        s"CAST(cnt AS BIGINT) AS pair_count FROM m$r").mkString(" UNION ALL ")
    s"${bpeChainSql(n)}\nSELECT * FROM ($parts) ORDER BY merge_rank"
  }

  /** d26 oracle: every corpus word mapped through the learned w$n
    * bracket-form, re-assembled per document in word order; the md5 of
    * the '|'-joined token stream gates the complete encoding. */
  private def bpeEncodeOracleSql(n: Int): String =
    s"""${bpeChainSql(n)},
       |docw AS (
       |  SELECT ws.doc_id, j.j AS pos, ws.w[j.j + 1] AS word
       |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS w
       |        FROM documents) ws,
       |       unnest(range(len(ws.w))) j(j)),
       |enc AS (
       |  SELECT dw.doc_id, dw.pos, wn.s,
       |    len(string_split(wn.s[2:-2], '][')) AS ntok
       |  FROM docw dw JOIN w$n wn ON wn.word = dw.word)
       |SELECT doc_id, CAST(sum(ntok) AS BIGINT) AS n_tok_bpe,
       |  md5(replace((string_agg(s, '' ORDER BY pos))[2:-2], '][', '|')) AS tok_md5
       |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The d3 exact-Jaccard pair CTE block, interpolated into BOTH the d3
    * and d10 oracles so the pair rule (shingle construction, threshold
    * 0.8) can never desynchronize between them. */
  private val d3PairCtes: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, s FROM (
      |  SELECT doc_id,
      |    unnest([w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] for i in range(1, len(w) - 1)]) AS s
      |  FROM toks WHERE len(w) >= 3) t),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |p AS (SELECT ia, ib, c, sa.sz AS sza, sb.sz AS szb FROM inter
      |  JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
      |  WHERE c * 10 >= 8 * (sa.sz + sb.sz - c))""".stripMargin

  val gated: Seq[GatedQuery] = Seq(
    // exact dedup by canonical token-set signature
    GatedQuery("d1_dedup_sets", (s, dir) => {
      import s.implicits._
      table(s, dir, "documents")
        .withColumn("sig",
          md5(concat_ws(" ", array_sort(array_distinct(split($"text", " "))))))
        .groupBy($"sig")
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
        .filter($"n_docs" > 1)
        .orderBy($"sig")
    },
      """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS sig,
        | min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin),

    // quality scoring: token/char/punct stats, pure arithmetic
    GatedQuery("d2_quality", (s, dir) => {
      import s.implicits._
      table(s, dir, "documents")
        .withColumn("n_tokens",
          (length($"text") - length(regexp_replace($"text", " ", ""))) + 1)
        .withColumn("avg_tok_len",
          ($"n_chars" - ($"n_tokens" - 1)).cast("double") / $"n_tokens")
        .select($"doc_id", $"n_tokens".cast("long").as("n_tokens"),
          $"avg_tok_len")
        .orderBy($"doc_id")
    },
      """SELECT doc_id,
        | CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        | CAST(n_chars - (length(text) - length(replace(text, ' ', ''))) AS DOUBLE)
        |   / (length(text) - length(replace(text, ' ', '')) + 1) AS avg_tok_len
        |FROM documents ORDER BY doc_id""".stripMargin),

    // near-dup: exact 3-gram Jaccard >= 0.8 — inverted-index candidates
    // with a document-frequency cap (stop-shingle O(df^2) guard), exact
    // verify over the full hashed shingle sets
    GatedQuery("d3_ngram_jaccard", (s, dir) => {
      import s.implicits._
      graft.text.TextOps.jaccardPairs(table(s, dir, "documents"),
          "doc_id", "text", shingleN = 3, threshold10 = 8, dfCap = 1000)
        .orderBy($"ia", $"ib")
    },
      s"""WITH $d3PairCtes
        |SELECT ia, ib, CAST(c AS BIGINT) AS inter,
        |  CAST(sza AS BIGINT) AS sza, CAST(szb AS BIGINT) AS szb
        |FROM p ORDER BY ia, ib""".stripMargin),

    GatedQuery("d4_minhash_lsh", (s, dir) => {
      import s.implicits._
      graft.text.TextOps.minhashLshPairs(table(s, dir, "documents"),
          "doc_id", "text", shingleN = 3, k = 64, bands = 16, threshold10 = 8)
        .orderBy($"ia", $"ib")
    },
      // d4: the engine's output is the EXACT-verified (inter, na, nb) over
      // distinct 3-shingle sets (hash identity ~ string identity at 2^-64
      // collision odds), so the oracle recomputes it from string shingles —
      // identical shape to d3 at threshold 0.8. The minhash-LSH banding is
      // thereby recall-GATED: any qualifying pair the bands miss breaks the
      // hash.
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, s FROM (
        |  SELECT doc_id,
        |    unnest([w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] for i in range(1, len(w) - 1)]) AS s
        |  FROM toks WHERE len(w) >= 3) t),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT ia, ib, CAST(c AS BIGINT) AS inter,
        |  CAST(sa.sz AS BIGINT) AS na, CAST(sb.sz AS BIGINT) AS nb
        |FROM inter JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
        |WHERE c * 10 >= 8 * (sa.sz + sb.sz - c)
        |ORDER BY ia, ib""".stripMargin),

    // SimHash fingerprints + hamming-near pairs via pigeonhole banding
    // (7 chunks guarantee recall for hamming<=6; shuffled equi-join, not
    // the O(N²) cartesian; banded==all-pairs is ScalaTest-gated)
    GatedQuery("d5_simhash", (s, dir) => {
      import s.implicits._
      val hashed = table(s, dir, "documents").select($"doc_id", $"text")
        .as[(Long, String)]
        .map { case (id, t) => (id, graft.text.TextOps.simhash64(t)) }
        .toDF("doc_id", "simhash")
      graft.text.TextOps.simhashNearPairs(hashed, maxHamming = 6)
        .orderBy($"ia", $"ib")
    },
    // d5: full SimHash recomputation in DuckDB — FNV-1a 64 per token via a
    // HUGEINT wrapping-multiply fold, bit-majority vote, then the exact
    // all-pairs hamming join (the ORACLE side may be quadratic; the engine
    // side is the banded join). Constants: 2^64, 2^63, FNV prime/offset.
    {
      val P64 = "CAST(18446744073709551616 AS HUGEINT)" // 2^64
      val P63 = "CAST(9223372036854775808 AS HUGEINT)" // 2^63
      // (h XOR c) * FNV_PRIME mod 2^64, back to signed BIGINT
      def u = s"(CASE WHEN xor(h, c) < 0 THEN CAST(xor(h, c) AS HUGEINT) + $P64 ELSE CAST(xor(h, c) AS HUGEINT) END)"
      def m = s"(($u * 1099511628211) % $P64)"
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         |th AS (SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(-3750763034362895579 AS BIGINT),
         |      list_transform(string_split_regex(t, ''), c -> CAST(ord(c) AS BIGINT))),
         |    (h, c) -> CAST(CASE WHEN $m >= $P63 THEN $m - $P64 ELSE $m END AS BIGINT)
         |  ) AS h FROM tok WHERE t <> ''),
         |bits AS (SELECT b, CASE WHEN b = 63 THEN CAST(-9223372036854775808 AS BIGINT)
         |  ELSE CAST(1 AS BIGINT) << CAST(b AS INTEGER) END AS mask FROM range(64) r(b)),
         |cnt AS (SELECT th.doc_id, bits.mask,
         |  SUM(CASE WHEN (th.h & bits.mask) <> 0 THEN 1 ELSE 0 END) AS s, COUNT(*) AS t
         |  FROM th CROSS JOIN bits GROUP BY 1, 2),
         |sh AS (SELECT doc_id, CAST(SUM(CASE WHEN 2 * s >= t THEN mask ELSE 0 END) AS BIGINT) AS simhash
         |  FROM cnt GROUP BY 1)
         |SELECT a.doc_id AS ia, b.doc_id AS ib,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
         |ORDER BY ia, ib""".stripMargin
    }),

    // language-ID heuristic (marker-count argmax; SQL-oracle-checked)
    GatedQuery("d6_langid", (s, dir) => {
      import s.implicits._
      table(s, dir, "documents")
        .select($"doc_id", graft.text.TextOps.langId($"text").as("pred_lang"),
          graft.text.TextOps.langScore($"text", "en").as("en_score"))
        .orderBy($"doc_id")
    },
    {
      def score(lang: String): String =
        graft.text.TextOps.langMarkers(lang)
          .map(m => s"(length(p) - length(replace(p, '$m', ''))) / ${m.length}")
          .mkString("CAST(", " + ", " AS BIGINT)")
      s"""WITH s AS (SELECT doc_id, ' ' || text || ' ' AS p FROM documents),
         |sc AS (SELECT doc_id, ${score("en")} AS en, ${score("de")} AS de,
         |  ${score("es")} AS es, ${score("fr")} AS fr FROM s)
         |SELECT doc_id,
         |  CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
         |       WHEN en = greatest(en, de, es, fr) THEN 'en'
         |       WHEN de = greatest(en, de, es, fr) THEN 'de'
         |       WHEN es = greatest(en, de, es, fr) THEN 'es'
         |       ELSE 'fr' END AS pred_lang,
         |  en AS en_score
         |FROM sc ORDER BY doc_id""".stripMargin
    }),

    // rolling-hash document fingerprint (rows-only)
    GatedQuery("d7_fingerprint", (s, dir) => {
      import s.implicits._
      table(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .map { case (id, t) => (id, graft.text.TextOps.fingerprint(t)) }
        .toDF("doc_id", "fp")
        .orderBy($"doc_id")
    },
      // d7: rolling polynomial fingerprint mod 2^61-1; space-run collapse ==
      // the kernel's skip-repeated-space rule, chars are ASCII so ord() ==
      // the JVM's UTF-16 unit
      """SELECT doc_id,
        |  CAST(list_reduce(
        |    list_prepend(CAST(0 AS HUGEINT),
        |      list_transform(string_split_regex(regexp_replace(text, ' +', ' ', 'g'), ''),
        |        c -> CAST(ord(c) AS HUGEINT))),
        |    (h, ch) -> (h * 131 + ch) % CAST(2305843009213693951 AS HUGEINT)
        |  ) AS BIGINT) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Embedding-cosine near-dup dedup: 50 deterministic planted twins
    // (0.9*v + 0.1*partner) over the embeddings table; sign-LSH banded
    // candidates + exact cosine verify. Threshold margins are huge by
    // construction (planted ~0.994, background <= ~0.52 vs tau 0.95), so
    // the integer pair set is engine-independent and DuckDB-hashable.
    GatedQuery("d8_embed_neardup", (s, dir) => {
      import s.implicits._
      val e = table(s, dir, "embeddings")
      val base = e.select($"vec_id".as("vid"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val twins = e.as("a").filter($"vec_id" < 50)
        .join(e.as("b"), expr("b.vec_id = a.vec_id + 50"))
        .select(($"a.vec_id" + 1000000L).as("vid"),
          expr("zip_with(a.embedding, b.embedding, (x, y) -> 0.9D * CAST(x AS DOUBLE) + 0.1D * CAST(y AS DOUBLE))").as("v"))
      graft.sim.Similarity.nearDupPairs(base.unionByName(twins), threshold = 0.95)
        .orderBy($"ia", $"ib")
    },
      // d8: exact all-pairs cosine over the same planted-twin augmentation
      // (the ORACLE side may be quadratic; the engine side is the banded
      // sign-LSH join). Threshold margins make the float path irrelevant to
      // the integer pair set.
      """WITH base AS (SELECT vec_id AS vid, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |tw AS (SELECT a.vec_id + 1000000 AS vid,
        |  list_transform(range(1, 65), i -> 0.9 * a.embedding[i]::DOUBLE + 0.1 * b.embedding[i]::DOUBLE) AS v
        |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 50 WHERE a.vec_id < 50),
        |aug AS (SELECT * FROM base UNION ALL SELECT * FROM tw)
        |SELECT a.vid AS ia, b.vid AS ib
        |FROM aug a JOIN aug b ON a.vid < b.vid
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.95
        |ORDER BY ia, ib""".stripMargin),

    // Token counting, whitespace + BPE-ish regex (letter runs / single
    // digits / single punctuation — the GPT-2-style pre-tokenizer shape):
    // pure codegen'd regexp built-ins, one pass, no shuffle beyond sort
    GatedQuery("d9_token_stats", (s, dir) => {
      import s.implicits._
      table(s, dir, "documents")
        .withColumn("ws_tokens",
          ((length($"text") - length(regexp_replace($"text", " ", ""))) + 1).cast("long"))
        .withColumn("bpe_tokens",
          size(regexp_extract_all($"text", lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).cast("long"))
        .withColumn("tok_ratio", $"bpe_tokens".cast("double") / $"ws_tokens")
        .select($"doc_id", $"ws_tokens", $"bpe_tokens", $"tok_ratio")
        .orderBy($"doc_id")
    },
      """SELECT doc_id,
        | CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS DOUBLE)
        |   / (length(text) - length(replace(text, ' ', '')) + 1) AS tok_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),

    // MinHash+LSH near-dup (banded candidates + exact verify; rows-only —
    // xxhash64 banding is engine-side; recall vs exact is ScalaTest-gated)
    // Dedup CLUSTERING — the step a real dedup pipeline runs after pair
    // generation: connected components over the verified near-dup pair
    // graph (the d3 exact-Jaccard pairs), each doc mapped to its
    // component's canonical representative (min doc_id — the keeper).
    // Distributed min-label propagation (GraphOps): O(component
    // diameter) shuffles of (id, label) pairs only; dup components are
    // small by construction so the loop converges in a couple of rounds
    // at any corpus size.
    GatedQuery("d10_dedup_components", (s, dir) => {
      import s.implicits._
      val pairs = graft.text.TextOps.jaccardPairs(table(s, dir, "documents"),
          "doc_id", "text", shingleN = 3, threshold10 = 8, dfCap = 1000)
        .select($"ia", $"ib")
      graft.operators.GraphOps.components(pairs, "ia", "ib")
        .select($"node".as("doc_id"), $"root".as("rep_id"))
        .orderBy($"rep_id", $"doc_id")
    },
      // d10: recursive closure over the d3 pair graph (same CTEs), each
      // node labeled by its component's min doc_id.
      s"""WITH RECURSIVE $d3PairCtes,
        |e AS (SELECT ia AS n, ib AS m FROM p UNION ALL SELECT ib, ia FROM p),
        |reach(n, lbl) AS (
        |  SELECT n, n FROM (SELECT DISTINCT n FROM e) t
        |  UNION
        |  SELECT e.m, reach.lbl FROM reach JOIN e ON e.n = reach.n)
        |SELECT n AS doc_id, CAST(min(lbl) AS BIGINT) AS rep_id
        |FROM reach GROUP BY n ORDER BY rep_id, doc_id""".stripMargin),

    // Gopher-style (Rae et al. 2021 §A1.1) per-document repetition
    // quality: most-frequent-bigram share + duplicate-trigram occurrence
    // share. ZERO shuffle: sorted-shingle-array run-length lambdas run
    // per row inside codegen — a groupBy(doc, gram) would shuffle every
    // gram occurrence of a 100 TB corpus. Fractions are single divisions
    // of exact integers -> bit-identical across engines, no quantization.
    GatedQuery("d11_repetition", (s, dir) => {
      import s.implicits._
      import graft.text.TextOps
      // STAGED projections: tokens, then the sorted shingle arrays, then
      // the metrics. Each lambda output is referenced 2x downstream, so
      // CollapseProject keeps the non-cheap array materialized once per
      // row instead of inlining (and re-running) the sort+shingle pass
      // per consumer — and the split itself binds before any lambda
      // (wordShingles scaladoc / the d19 14x lesson)
      table(s, dir, "documents")
        .select($"doc_id", TextOps.tokens($"text").as("ws"))
        .select($"doc_id",
          array_sort(TextOps.wordShingles($"ws", 2)).as("big"),
          array_sort(TextOps.wordShingles($"ws", 3)).as("tri"))
        .withColumn("n2", size($"big").cast("long"))
        .withColumn("n3", size($"tri").cast("long"))
        .withColumn("top2_cnt", TextOps.maxRunLength($"big"))
        .withColumn("dup3_occ", TextOps.dupOccurrences($"tri"))
        .select($"doc_id", $"top2_cnt", $"dup3_occ",
          when($"n2" > 0, $"top2_cnt".cast("double") / $"n2")
            .otherwise(0.0).as("top2_frac"),
          when($"n3" > 0, $"dup3_occ".cast("double") / $"n3")
            .otherwise(0.0).as("dup3_frac"))
        .orderBy($"doc_id")
    },
      // d11: bigram/trigram multiplicities recomputed by unnest+group; the
      // engine's run-length lambdas over sorted shingle arrays compute the
      // same multiplicities without any shuffle. Fractions are single
      // divisions of exact ints — bit-identical, no quantization.
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, unnest([w[i] || ' ' || w[i + 1] for i in range(1, len(w))]) AS g
        |  FROM toks WHERE len(w) >= 2),
        |t AS (SELECT doc_id,
        |    unnest([w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] for i in range(1, len(w) - 1)]) AS g
        |  FROM toks WHERE len(w) >= 3),
        |bc AS (SELECT doc_id, max(c) AS top2_cnt, sum(c) AS n2
        |  FROM (SELECT doc_id, g, count(*) AS c FROM b GROUP BY 1, 2) GROUP BY 1),
        |tc AS (SELECT doc_id, coalesce(sum(c) FILTER (c >= 2), 0) AS dup3_occ, sum(c) AS n3
        |  FROM (SELECT doc_id, g, count(*) AS c FROM t GROUP BY 1, 2) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(bc.top2_cnt, 0) AS BIGINT) AS top2_cnt,
        |  CAST(coalesce(tc.dup3_occ, 0) AS BIGINT) AS dup3_occ,
        |  CASE WHEN coalesce(bc.n2, 0) > 0
        |    THEN bc.top2_cnt / CAST(bc.n2 AS DOUBLE) ELSE 0.0 END AS top2_frac,
        |  CASE WHEN coalesce(tc.n3, 0) > 0
        |    THEN tc.dup3_occ / CAST(tc.n3 AS DOUBLE) ELSE 0.0 END AS dup3_frac
        |FROM documents d
        |LEFT JOIN bc ON d.doc_id = bc.doc_id
        |LEFT JOIN tc ON d.doc_id = tc.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // Deterministic hash train/val/test split (the standard content-
    // addressed split of a training corpus: stable under re-runs,
    // re-partitioning and corpus growth): first md5 hex digit of the
    // doc_id buckets 0-15 -> 13/1/2 train/val/test. Per-row hash +
    // map-side partial agg — no data-dependent shuffle at any scale.
    GatedQuery("d12_hash_split", (s, dir) => {
      import s.implicits._
      table(s, dir, "documents")
        .withColumn("b", expr(
          "CAST(conv(substring(md5(CAST(CAST(doc_id AS string) AS binary)), 1, 1), 16, 10) AS INT)"))
        .withColumn("split",
          when($"b" <= 12, "train").when($"b" === 13, "val").otherwise("test"))
        .groupBy($"split", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
        .orderBy($"split", $"lang")
    },
      // d12: md5 of the decimal doc_id string in both engines; first hex
      // digit -> 16 buckets -> 13/1/2 train/val/test.
      """SELECT CASE WHEN b <= 12 THEN 'train' WHEN b = 13 THEN 'val' ELSE 'test' END AS split,
        |  lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM (SELECT lang, n_chars,
        |    strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS b
        |  FROM documents) t
        |GROUP BY 1, 2 ORDER BY split, lang""".stripMargin),

    // Per-document top-3 salient terms by df-normalized term frequency
    // (tf-idf family with idf' = 1/df — same per-doc ordering as tf*idf
    // for any monotone idf, and ln-free so the score is ONE exact-int
    // division, cross-engine bit-identical). Scale shape: term counts are
    // a map-side-combined groupBy; the vocabulary df table is tiny ->
    // broadcast join; top-k is a per-doc window, partitioned by doc_id.
    GatedQuery("d13_tfidf", (s, dir) => {
      import s.implicits._
      val terms = table(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
      val cnt = terms.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val df = cnt.groupBy($"tok").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy($"doc_id")
        .orderBy($"score".desc, $"tok".asc)
      val out = cnt.join(broadcast(df), "tok")
        .withColumn("score", $"cnt".cast("double") / $"df")
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"doc_id", $"rank".cast("long").as("rank"), $"tok",
          $"cnt", $"df", $"score")
        .orderBy($"doc_id", $"rank")
      out
    },
      // d13: identical kernel — term counts, doc frequency, score = cnt/df
      // (one exact-int division), top-3 per doc by (score desc, tok asc).
      """WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |cnt AS (SELECT doc_id, tok, count(*) AS cnt FROM terms GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM cnt GROUP BY 1),
        |scored AS (SELECT c.doc_id, c.tok, c.cnt, d.df,
        |    c.cnt / CAST(d.df AS DOUBLE) AS score,
        |    row_number() OVER (PARTITION BY c.doc_id
        |      ORDER BY c.cnt / CAST(d.df AS DOUBLE) DESC, c.tok) AS rank
        |  FROM cnt c JOIN df d USING (tok))
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, tok,
        |  CAST(cnt AS BIGINT) AS cnt, CAST(df AS BIGINT) AS df, score
        |FROM scored WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    // PII-style scrubbing: email / URL / long-digit-run detection and
    // redaction with codegen'd regexp built-ins. The corpus is synthetic,
    // so deterministic PII is spliced in per-row (both engines build the
    // same augmented string) and the scrubbed text itself is hash-gated.
    // Per-row, zero shuffle — the 100 TB shape is a map-only pass.
    GatedQuery("d14_pii_scrub", (s, dir) => {
      import s.implicits._
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val url = "https?://[^ ]+"
      val num = "[0-9]{6,}"
      table(s, dir, "documents")
        .withColumn("aug", concat($"text", lit(" contact user"), $"doc_id",
          lit("@mail.example.com via http://cdn"), $"doc_id",
          lit(".example.org/asset ref "),
          lpad(($"doc_id" * $"doc_id" % 100000000).cast("string"), 8, "0")))
        .select($"doc_id",
          regexp_count($"aug", lit(email)).cast("long").as("n_emails"),
          regexp_count($"aug", lit(url)).cast("long").as("n_urls"),
          regexp_count($"aug", lit(num)).cast("long").as("n_longnums"),
          regexp_replace(regexp_replace(regexp_replace($"aug",
            email, "<EMAIL>"), url, "<URL>"), num, "<NUM>").as("clean"))
        .withColumn("clean_len", length($"clean").cast("long"))
        .orderBy($"doc_id")
    },
    // d14: identical augmented string, identical regexes; DuckDB needs
    // the 'g' flag (its regexp_replace is first-match by default; Spark's
    // is global). Counts via regexp_extract_all length.
    {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val url = "https?://[^ ]+"
      val num = "[0-9]{6,}"
      s"""WITH a AS (SELECT doc_id,
         |    text || ' contact user' || doc_id || '@mail.example.com via http://cdn'
         |      || doc_id || '.example.org/asset ref '
         |      || lpad(CAST((doc_id * doc_id) % 100000000 AS VARCHAR), 8, '0') AS aug
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(aug, '$email')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(aug, '$url')) AS BIGINT) AS n_urls,
         |  CAST(len(regexp_extract_all(aug, '$num')) AS BIGINT) AS n_longnums,
         |  regexp_replace(regexp_replace(regexp_replace(aug,
         |    '$email', '<EMAIL>', 'g'), '$url', '<URL>', 'g'), '$num', '<NUM>', 'g') AS clean,
         |  CAST(length(regexp_replace(regexp_replace(regexp_replace(aug,
         |    '$email', '<EMAIL>', 'g'), '$url', '<URL>', 'g'), '$num', '<NUM>', 'g')) AS BIGINT) AS clean_len
         |FROM a ORDER BY doc_id""".stripMargin
    }),

    // Benchmark-contamination check (decontamination pass of a training
    // pipeline): word-4-gram overlap of every candidate doc against the
    // "benchmark" subset (doc_id % 7 = 0 here). Inverted-index shape:
    // distinct (doc, gram) -> equi-join on the gram against the DISTINCT
    // benchmark gram set, which is tiny relative to the corpus at scale
    // -> broadcast; count per doc = distinct contaminated grams. Never
    // all-pairs.
    GatedQuery("d15_contamination", (s, dir) => {
      import s.implicits._
      // per-doc gram dedup happens in the ARRAY domain (array_distinct
      // before explode) — zero shuffle, inside codegen — so the only
      // remaining exchanges are the small bench-set distinct and the
      // per-doc count agg; grams shuffle as xxhash64 longs, not strings
      // (same trick as d3's hashed shingles; collision odds ~n²/2^64)
      val grams = table(s, dir, "documents")
        // bound token array first — see wordShingles scaladoc / d19
        .select($"doc_id", split($"text", " ").as("ws"))
        .select($"doc_id", explode(array_distinct(
          graft.text.TextOps.wordShingles($"ws", 4))).as("g"))
        .select($"doc_id", xxhash64($"g").as("h"))
        .localCheckpoint()
      val bench = grams.filter($"doc_id" % 7 === 0).select($"h").distinct()
      grams.filter($"doc_id" % 7 =!= 0)
        .join(broadcast(bench), "h")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .orderBy($"doc_id")
    },
      // d15: same tokenization (single-space split) and 4-gram window as
      // the engine; n_shared = distinct grams shared with the benchmark set
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id,
        |    unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] for i in range(1, len(w) - 2)]) AS g
        |  FROM toks WHERE len(w) >= 4),
        |gd AS (SELECT DISTINCT doc_id, g FROM g),
        |bench AS (SELECT DISTINCT g FROM gd WHERE doc_id % 7 = 0)
        |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
        |FROM (SELECT * FROM gd WHERE doc_id % 7 <> 0) c JOIN bench b USING (g)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // Stratified sampling with per-language keep rates (data-mixing /
    // downsampling step): deterministic md5 bucket (256 buckets, same
    // cross-engine construction as d12) compared against a per-stratum
    // rate. Row-level gate — the exact sampled id set must match.
    GatedQuery("d16_stratified_sample", (s, dir) => {
      import s.implicits._
      val rate = when($"lang" === "en", 128).when($"lang" === "de", 192)
        .otherwise(64)
      table(s, dir, "documents")
        .withColumn("b2", expr(
          "CAST(conv(substring(md5(CAST(CAST(doc_id AS string) AS binary)), 1, 2), 16, 10) AS INT)"))
        .filter($"b2" < rate)
        .select($"doc_id", $"lang", $"b2".cast("long").as("b2"))
        .orderBy($"doc_id")
    },
      // d16: md5 of the decimal doc_id string, first TWO hex digits -> 256
      // buckets, per-lang keep threshold
      """SELECT doc_id, lang, CAST(b2 AS BIGINT) AS b2 FROM (
        |  SELECT doc_id, lang,
        |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS b2
        |  FROM documents) t
        |WHERE b2 < CASE WHEN lang = 'en' THEN 128 WHEN lang = 'de' THEN 192 ELSE 64 END
        |ORDER BY doc_id""".stripMargin),

    // End-to-end curation pipeline (the composition a real training-data
    // run executes): length/word-count/language gates -> exact dedup
    // keeping the min doc_id per md5(text) -> deterministic train/val/
    // test split -> per-stratum corpus stats. One codegen'd filter pass,
    // one sig-shuffle for the keeper window, one partial-agg groupBy —
    // nothing here holds more than O(strata) outside the shuffles.
    GatedQuery("d17_curation", (s, dir) => {
      import s.implicits._
      val f = table(s, dir, "documents")
        .withColumn("n_words", size(split($"text", " ")))
        .filter($"n_chars" >= 200 && $"n_chars" <= 4000 &&
          $"n_words" >= 30 && $"lang".isin("en", "de", "fr"))
        .withColumn("sig", md5($"text".cast("binary")))
      val kept = f.withColumn("rk",
          row_number().over(Window.partitionBy($"sig").orderBy($"doc_id")))
        .filter($"rk" === 1)
      kept
        .withColumn("b", expr(
          "CAST(conv(substring(md5(CAST(CAST(doc_id AS string) AS binary)), 1, 1), 16, 10) AS INT)"))
        .withColumn("split",
          when($"b" <= 12, "train").when($"b" === 13, "val").otherwise("test"))
        .groupBy($"split", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
          sum($"n_words").cast("long").as("sum_words"))
        .orderBy($"split", $"lang")
    },
      // d17: the full curation chain replicated — filters, md5-keeper
      // window, md5 split bucket, stratum aggregate
      """WITH f AS (SELECT doc_id, lang, n_chars,
        |    len(string_split(text, ' ')) AS n_words, md5(text) AS sig
        |  FROM documents
        |  WHERE n_chars BETWEEN 200 AND 4000
        |    AND len(string_split(text, ' ')) >= 30
        |    AND lang IN ('en', 'de', 'fr')),
        |k AS (SELECT *, row_number() OVER (PARTITION BY sig ORDER BY doc_id) AS rk FROM f),
        |s AS (SELECT CASE WHEN b <= 12 THEN 'train' WHEN b = 13 THEN 'val'
        |      ELSE 'test' END AS split, lang, n_chars, n_words
        |  FROM (SELECT *, strpos('0123456789abcdef',
        |      substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS b
        |    FROM k WHERE rk = 1))
        |SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(n_words) AS BIGINT) AS sum_words
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // INCREMENTAL dedup — the steady-state shape of a crawl pipeline:
    // new documents (odd ids) anti-joined on the d1 token-set signature
    // against the existing corpus index (even ids). LEFT ANTI is the
    // plan: one shuffle on the md5 sig, the index side carries
    // signatures only (at 100 TB the index is the compact sig table,
    // never the corpus), survivors are the genuinely-new docs.
    GatedQuery("d18_incremental_dedup", (s, dir) => {
      import s.implicits._
      val docs = table(s, dir, "documents").withColumn("sig",
        md5(concat_ws(" ", array_sort(array_distinct(split($"text", " "))))))
      val index = docs.filter($"doc_id" % 2 === 0).select($"sig").distinct()
      docs.filter($"doc_id" % 2 === 1)
        .join(index, Seq("sig"), "left_anti")
        .select($"doc_id", $"sig")
        .orderBy($"doc_id")
    },
      // d18: NOT EXISTS over the same signature rule
      """WITH sigs AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS sig
        |  FROM documents)
        |SELECT n.doc_id, n.sig FROM sigs n
        |WHERE n.doc_id % 2 = 1
        |  AND NOT EXISTS (SELECT 1 FROM sigs e
        |    WHERE e.doc_id % 2 = 0 AND e.sig = n.sig)
        |ORDER BY n.doc_id""".stripMargin),

    // Substring-level dedup metric (the span-dedup signal of Lee et al.
    // 2022, gram form): per document, how many of its word-8-gram
    // occurrences also occur in ANOTHER document — the basis for
    // trimming boilerplate/quoted passages rather than whole docs. Three
    // compact-key shuffles, never all-pairs: grams ride as xxhash64
    // longs (same collision analysis as d3/d15); (h, doc) counts
    // aggregate map-side before the cross-doc df filter; the final
    // per-doc aggs see only hashed descriptors. dup_frac is one IEEE
    // division on exact integer operands; keep = at most half the gram
    // mass duplicated (integer compare, no rounding).
    GatedQuery("d19_dup_grams", (s, dir) => {
      import s.implicits._
      val gc = table(s, dir, "documents")
        // bind the token array BEFORE the shingle lambda (wordShingles
        // scaladoc: an inline split re-executes per element_at slot on
        // the interpreted higher-order path — 14x the gram-pass wall)
        .select($"doc_id", split($"text", " ").as("ws"))
        .select($"doc_id", explode(
          graft.text.TextOps.wordShingles($"ws", 8)).as("g"))
        .select($"doc_id", xxhash64($"g").as("h"))
        .groupBy($"h", $"doc_id").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val cross = gc.groupBy($"h").agg(count(lit(1)).as("df"))
        .filter($"df" >= 2).select($"h")
      val nGrams = gc.groupBy($"doc_id").agg(sum($"c").as("n_grams"))
      val nDup = gc.join(cross, Seq("h"), "left_semi")
        .groupBy($"doc_id").agg(sum($"c").as("n_dup"))
      nGrams.join(nDup, Seq("doc_id"), "left")
        .select($"doc_id", $"n_grams",
          coalesce($"n_dup", lit(0L)).as("n_dup"))
        .withColumn("dup_frac",
          $"n_dup".cast("double") / $"n_grams".cast("double"))
        .withColumn("keep", $"n_dup" * 2 <= $"n_grams")
        .orderBy($"doc_id")
    },
      // d19: the same gram/count/df construction over string grams (the
      // engine's xxhash64 gram keys are a pure transport encoding)
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id,
        |    unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
        |            w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]
        |            for i in range(1, len(w) - 6)]) AS g
        |  FROM toks WHERE len(w) >= 8),
        |gc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
        |cg AS (SELECT g FROM gc GROUP BY g HAVING count(*) >= 2),
        |ng AS (SELECT doc_id, sum(c) AS n_grams FROM gc GROUP BY 1),
        |nd AS (SELECT gc.doc_id, sum(gc.c) AS n_dup FROM gc JOIN cg USING (g) GROUP BY 1)
        |SELECT ng.doc_id AS doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |  CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup,
        |  CAST(coalesce(n_dup, 0) AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_frac,
        |  coalesce(n_dup, 0) * 2 <= n_grams AS keep
        |FROM ng LEFT JOIN nd ON nd.doc_id = ng.doc_id
        |ORDER BY ng.doc_id""".stripMargin),

    // SEMANTIC dedup (SemDeDup, Abbas et al. 2023): k-means clusters the
    // embedding space, then a doc is removed iff an EARLIER member of the
    // same cluster is cosine >= 0.95. Fixture = the e2 recipe extended
    // with planted semantics: 12 orthogonal clusters x 36 members on 24
    // axes, each member carrying one of 12 orthogonal 4.0 "style" axes —
    // members sharing a style axis are exact dups (cos = 1), the second
    // copy of each style gets a 0.25 off-axis nudge (cos ~ 0.9996, a
    // NEAR dup), cross-style cos <= 66/80 = 0.825. All margins >= 0.125
    // around tau = 0.95 and every coordinate dyadic, so DuckDB recomputes
    // the identical removal set from closed form. k-means init (lowest 12
    // vids = one per cluster) provably recovers the clusters.
    GatedQuery("d20_semdedup", (s, _) => {
      import s.implicits._
      val C = 12; val M = 36; val dim = 24
      val e = s.range(C.toLong * M).map { vid =>
        val cl = (vid % C).toInt; val m = (vid / C).toInt; val g = m % C
        val v = Array.tabulate(dim) { d =>
          var x = 0.0f
          if (d == cl) x += 8.0f
          if (d == C + g) x += 4.0f
          if (m >= 12 && m < 24 && d == C + ((g + 1) % C)) x += 0.25f
          x
        }
        (vid, v)
      }.toDF("vid", "v")
      graft.sim.Similarity.semDedup(s, e, k = C, iters = 2, tau = 0.95)
        .select($"vid", $"cl".cast("long").as("cl"), $"removed")
        .orderBy($"vid")
    },
      // d20: regenerate the clustered fixture from closed form (cluster =
      // vid % 12, provably what k-means recovers), compute every within-
      // cluster cosine exactly (all-dyadic coordinates), apply the same
      // earlier-member EXISTS rule at tau = 0.95
      """WITH v AS (
        |  SELECT t.vid AS vid, d.d AS d,
        |    (CASE WHEN d.d = t.vid % 12 THEN 8.0 ELSE 0.0 END)
        |    + (CASE WHEN d.d = 12 + (t.vid // 12) % 12 THEN 4.0 ELSE 0.0 END)
        |    + (CASE WHEN (t.vid // 12) BETWEEN 12 AND 23
        |            AND d.d = 12 + ((t.vid // 12) % 12 + 1) % 12
        |       THEN 0.25 ELSE 0.0 END) AS x
        |  FROM range(432) t(vid), range(24) d(d)),
        |norms AS (SELECT vid, sqrt(sum(x*x)) AS n FROM v GROUP BY vid),
        |pairs AS (
        |  SELECT a.vid AS ia, b.vid AS ib, sum(a.x * b.x) AS dot
        |  FROM v a JOIN v b
        |    ON a.d = b.d AND a.vid % 12 = b.vid % 12 AND a.vid < b.vid
        |  GROUP BY 1, 2),
        |dup AS (
        |  SELECT DISTINCT p.ib AS vid FROM pairs p
        |  JOIN norms na ON na.vid = p.ia
        |  JOIN norms nb ON nb.vid = p.ib
        |  WHERE p.dot / (na.n * nb.n) >= 0.95)
        |SELECT t.vid AS vid, t.vid % 12 AS cl,
        |  (dup.vid IS NOT NULL) AS removed
        |FROM range(432) t(vid) LEFT JOIN dup ON dup.vid = t.vid
        |ORDER BY t.vid""".stripMargin),

    // Bloom-prefiltered incremental dedup — d18's 100 TB steady-state
    // shape: the corpus sig index folds to a broadcast Bloom filter
    // (treeAggregate; driver holds bits, never sigs), bloom-NEGATIVE
    // incoming rows are provably new and skip the anti-join shuffle
    // entirely, bloom-positive rows (true dups + ~1% false positives)
    // exact-verify via LEFT ANTI. No false negatives -> the output is
    // EXACTLY the plain anti-join's, so the d18 oracle gates the whole
    // mechanism.
    GatedQuery("d21_bloom_dedup", (s, dir) => {
      import s.implicits._
      val docs = table(s, dir, "documents").withColumn("sig",
        md5(concat_ws(" ", array_sort(array_distinct(split($"text", " "))))))
      val corpus = docs.filter($"doc_id" % 2 === 0)
      val incoming = docs.filter($"doc_id" % 2 === 1).select($"doc_id", $"sig")
      graft.text.TextOps.incrementalDedupBloom(incoming, corpus, "sig",
          expectedItems = 10000L, fpp = 0.01)
        .select($"doc_id", $"sig")
        .orderBy($"doc_id")
    },
      // d21: identical rule to d18 — the Bloom pre-filter cannot change
      // the result (no false negatives; positives are exact-verified)
      """WITH sigs AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS sig
        |  FROM documents)
        |SELECT n.doc_id, n.sig FROM sigs n
        |WHERE n.doc_id % 2 = 1
        |  AND NOT EXISTS (SELECT 1 FROM sigs e
        |    WHERE e.doc_id % 2 = 0 AND e.sig = n.sig)
        |ORDER BY n.doc_id""".stripMargin),

    // Per-SOURCE curation rollup — the URL/domain-level filtering shape
    // of C4/RefinedWeb: one shuffle on the d1 signature marks each doc's
    // duplication (window count over sig), one partial/final hash agg
    // rolls docs up to their source with an integer keep rule (drop a
    // source once >20% of its docs are exact dups). At 100 TB the sig
    // window and the source agg are the only shuffles; both key on
    // compact columns.
    GatedQuery("d22_source_stats", (s, dir) => {
      import s.implicits._
      val docs = table(s, dir, "documents").withColumn("sig",
        md5(concat_ws(" ", array_sort(array_distinct(split($"text", " "))))))
      val withDup = docs.withColumn("sig_n",
        count(lit(1)).over(Window.partitionBy($"sig")))
      withDup.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"sig_n" > 1, 1L).otherwise(0L)).as("n_dup"),
          sum($"n_chars").as("chars"))
        .withColumn("dup_frac", $"n_dup".cast("double") / $"n_docs")
        .withColumn("keep", $"n_dup" * 5 <= $"n_docs")
        .orderBy($"source")
    },
      // d22: the same sig-window + source rollup in SQL
      """WITH sigs AS (SELECT doc_id, source, n_chars,
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS sig
        |  FROM documents),
        |d AS (SELECT source, n_chars,
        |    count(*) OVER (PARTITION BY sig) AS sig_n FROM sigs)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN sig_n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  CAST(sum(CASE WHEN sig_n > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_frac,
        |  sum(CASE WHEN sig_n > 1 THEN 1 ELSE 0 END) * 5 <= count(*) AS keep
        |FROM d GROUP BY source ORDER BY source""".stripMargin),

    // Per-language length-distribution profile — how curation thresholds
    // (p50/p90/p99 length cutoffs) are actually derived in a pipeline:
    // exact-interpolation percentiles over integer n_chars (a + f*(b-a)
    // of exact integers, identical in both engines), one hash agg.
    // At 100 TB the same profile runs via approx_percentile with a
    // documented error bound; the exact form here is the oracle-able
    // gate of the GROUPING + interpolation semantics.
    GatedQuery("d23_length_profile", (s, dir) => {
      import s.implicits._
      table(s, dir, "documents")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n"),
          min($"n_chars").as("min_chars"), max($"n_chars").as("max_chars"),
          expr("percentile(n_chars, 0.5D)").as("p50"),
          expr("percentile(n_chars, 0.9D)").as("p90"),
          expr("percentile(n_chars, 0.99D)").as("p99"))
        .orderBy($"lang")
    },
      // d23: quantile_cont uses the same a + f*(b-a) exact-integer
      // interpolation as Spark's percentile
      """SELECT lang, count(*) AS n,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars,
        |  quantile_cont(n_chars, 0.5) AS p50,
        |  quantile_cont(n_chars, 0.9) AS p90,
        |  quantile_cont(n_chars, 0.99) AS p99
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // Token-window chunking with overlap — the pretraining/RAG chunker:
    // every doc splits into 32-token windows stepped by 24 (8-token
    // overlap), each chunk keyed by the md5 of its rejoined window for
    // downstream chunk-level dedup/contamination. One narrow generator
    // pass per document (split/sequence/explode/slice — all codegen'd
    // built-ins), NO shuffle or join: at 100 TB the fan-out happens
    // inside each input split.
    GatedQuery("d24_chunking", (s, dir) => {
      import s.implicits._
      graft.text.TextOps.chunkTokens(
          table(s, dir, "documents"), "doc_id", "text",
          chunkSize = 32, stride = 24)
        .orderBy($"doc_id", $"chunk_idx")
    },
      // d24: the same window arithmetic in SQL — token list, chunk index
      // range (end-exclusive range == Spark's inclusive sequence), 1-based
      // clamped list slice, md5 of the space-rejoined window
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text), ' '), x -> x != '') AS t
        |  FROM documents),
        |n AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
        |c AS (SELECT doc_id, t, n,
        |  unnest(range(0, (n - 1) // 24 + 1)) AS chunk_idx FROM n)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(chunk_idx * 24 AS INT) AS start_tok,
        |  CAST(least(32, n - chunk_idx * 24) AS INT) AS n_tok,
        |  md5(array_to_string(t[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),

    // BPE merge learning — tokenizer training as a corpus job: corpus
    // folds once to the word-freq table, then 6 vocab-sized rounds of
    // (pair count -> deterministic argmax -> greedy merge). The oracle
    // runs FULL unrolled BPE in SQL (round 6 fuses a round-1 product:
    // genuinely second-order), so the gate covers overlap counting,
    // tie-break, and the greedy re-tokenization rule.
    GatedQuery("d25_bpe_merges", (s, dir) => {
      graft.text.TextOps.bpeLearnMerges(
          table(s, dir, "documents"), "text", nMerges = 6)
        .orderBy(col("merge_rank"))
    },
      // d25: full BPE in SQL — see bpeOracleSql
      bpeOracleSql(6)),

    // BPE ENCODING — the apply side of d25: the corpus tokenized with
    // the 6 learned merges (collected once, 6 rows to the driver, ride
    // the closure). The md5 of each doc's exact '|'-joined token stream
    // is the gate: a single wrong fusion anywhere flips it.
    GatedQuery("d26_bpe_encode", (s, dir) => {
      import s.implicits._
      val docs = table(s, dir, "documents")
      val merges = graft.text.TextOps.bpeLearnMerges(docs, "text", 6)
        .orderBy($"merge_rank")
        .select($"left_sym", $"right_sym").as[(String, String)]
        .collect().toSeq
      graft.text.TextOps.bpeEncode(docs, "doc_id", "text", merges)
        .orderBy($"doc_id")
    },
      // d26: the same learned chain applied back to the corpus
      bpeEncodeOracleSql(6)),

    // Sequence PACKING (GPT pretraining prep): whitespace token counts ->
    // global token offsets via a DISTRIBUTED prefix sum (range partition
    // + per-partition subtotals + driver scan of #partitions longs —
    // never a single-partition global window) -> each doc's first/last
    // 512-token training block.
    GatedQuery("d27_seq_packing", (s, dir) => {
      import s.implicits._
      val withTok = table(s, dir, "documents")
        .select($"doc_id",
          size(filter(split(trim($"text"), "\\s+"), t => t =!= lit("")))
            .cast("long").as("n_tok"))
        .where($"n_tok" > 0)
      graft.text.TextOps.packContiguous(withTok, "doc_id", "n_tok", 512)
        .orderBy($"doc_id")
    },
      // d27: the same packing arithmetic as one exclusive-prefix window
      """WITH t AS (SELECT doc_id,
        |    len(list_filter(string_split(trim(text), ' '), x -> x != '')) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |    coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
        |  FROM t WHERE n_tok > 0)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(start_tok AS BIGINT) AS start_tok,
        |  CAST(start_tok // 512 AS BIGINT) AS first_seq,
        |  CAST((start_tok + n_tok - 1) // 512 AS BIGINT) AS last_seq
        |FROM c ORDER BY doc_id""".stripMargin),

    // URL-canonicalization dedup — the classic web-crawl pipeline step
    // (CCNet/RefinedWeb dedupe by canonical URL before any content
    // hashing). The documents table carries no URL column, so a URL is
    // SYNTHESIZED deterministically per row: docs doc_id and
    // doc_id + nDocs/2 describe the SAME logical page (lid = doc_id %
    // (nDocs/2)) but with crawl-variant noise keyed off the RAW doc_id —
    // scheme case, www. prefix, explicit :443 port, trailing slash,
    // utm_* tracking params, #fragment. Canonicalization (lowercase,
    // strip fragment / tracking query / www. / default port / trailing
    // slash — each a codegen'd regexp_replace; every pattern matches at
    // most once so first-match semantics agree cross-engine) must
    // collapse each variant pair to ONE canonical URL. Scale shape: one
    // projection + one map-side-combined groupBy on the canonical
    // string — the exact-dedup shuffle shape of d1, no new machinery.
    GatedQuery("d28_url_dedup", (s, dir) => {
      import s.implicits._
      val docs = table(s, dir, "documents")
      val half = (docs.count() / 2).max(1L)
      val raw = docs.select($"doc_id", ($"doc_id" % half).as("lid"))
        .withColumn("url", concat(
          when($"doc_id" % 3 === 0, lit("HTTPS://WWW.")).otherwise(lit("https://")),
          concat(lit("site"), ($"lid" % 20).cast("string"), lit(".example.com")),
          when($"doc_id" % 4 === 0, lit(":443")).otherwise(lit("")),
          lit("/docs/"), $"lid".cast("string"),
          when($"doc_id" % 2 === 0, lit("/")).otherwise(lit("")),
          when($"doc_id" % 5 === 0, lit("?utm_source=feed&utm_campaign=x"))
            .otherwise(lit("")),
          when($"doc_id" % 7 === 0, lit("#section-2")).otherwise(lit(""))))
      raw
        .withColumn("cu", regexp_replace(lower($"url"), "#.*$", ""))
        .withColumn("cu", regexp_replace($"cu", "\\?utm_[^#]*$", ""))
        .withColumn("cu", regexp_replace($"cu", "://www\\.", "://"))
        .withColumn("cu", regexp_replace($"cu", ":443/", "/"))
        .withColumn("cu", regexp_replace($"cu", "/$", ""))
        .groupBy($"cu")
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_ids"))
        .select($"cu".as("url"), $"keep_id", $"n_ids")
        .orderBy($"url")
    },
      // d28: same synthetic crawl-variant URL construction, canonicalized
      // by the same 5 regex passes (each pattern matches at most once, so
      // DuckDB's first-match regexp_replace agrees with Spark's)
      """WITH half AS (SELECT greatest(count(*) // 2, 1) AS h FROM documents),
        |raw AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.' ELSE 'https://' END)
        |    || 'site' || CAST((doc_id % h) % 20 AS VARCHAR) || '.example.com'
        |    || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
        |    || '/docs/' || CAST(doc_id % h AS VARCHAR)
        |    || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&utm_campaign=x' ELSE '' END)
        |    || (CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END) AS url
        |  FROM documents, half),
        |canon AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(lower(url), '#.*$', ''),
        |      '\?utm_[^#]*$', ''), '://www\.', '://'), ':443/', '/'),
        |      '/$', '') AS cu
        |  FROM raw)
        |SELECT cu AS url, CAST(min(doc_id) AS BIGINT) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n_ids
        |FROM canon GROUP BY cu ORDER BY url""".stripMargin),

    // Zipf-rank fluency score — a log-free pseudo-perplexity: rank every
    // vocabulary word by corpus frequency (ties by word), score each doc
    // by the SUM of its words' ranks (a doc of common words scores low =
    // fluent; rare-word soup scores high), keep when mean rank <= 18 via
    // the integer cross-multiply (sum_rank <= 18 * n_words — no float
    // division near the gate). Everything stays exact integers, unlike
    // true unigram NLL whose ln() is not bit-specified cross-engine.
    // Scale shape: word counts are a map-side-combined groupBy; the rank
    // runs on the FOLDED vocabulary table — corpus-size-independent
    // (the d25 bound), so its single-partition window is driver-bounded
    // by construction; ranks broadcast-join back to the word stream.
    GatedQuery("d29_rank_fluency", (s, dir) => {
      import s.implicits._
      val words = table(s, dir, "documents")
        .select($"doc_id", explode(split(trim($"text"), "\\s+")).as("w"))
        .where($"w" =!= "")
      val rank = words.groupBy($"w").agg(count(lit(1)).as("cnt"))
        .withColumn("rank", row_number().over(
          Window.orderBy($"cnt".desc, $"w")).cast("long"))
        .select($"w", $"rank")
      words.join(broadcast(rank), "w")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_words"), sum($"rank").as("sum_rank"))
        .withColumn("keep", $"sum_rank" <= lit(18L) * $"n_words")
        .orderBy($"doc_id")
    },
      """WITH w AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
        |  FROM documents),
        |ww AS (SELECT doc_id, w FROM w WHERE w != ''),
        |r AS (SELECT w, CAST(row_number() OVER (ORDER BY count(*) DESC, w) AS BIGINT) AS rank
        |  FROM ww GROUP BY w)
        |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(r.rank) AS BIGINT) AS sum_rank,
        |  (sum(r.rank) <= 18 * count(*)) AS keep
        |FROM ww d JOIN r USING (w)
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin),

    // Edit-distance-1 FUZZY self-join (SymSpell / FastSS deletion
    // neighborhoods) — typo-level vocabulary dedup. Fixture: 400 base
    // 6-char words from integer alphabet formulas + 400 planted typo
    // variants (delete at i%6 / substitute first char / insert at pos 3,
    // by i%3), union'd and dedup'd. The deletion-key equi-join candidate
    // set is a guaranteed SUPERSET of every ed<=1 pair (substitution:
    // drop the differing position from both; indel: the shorter IS a
    // 1-deletion of the longer), so the engine's pruned result must
    // EQUAL the oracle's brute all-pairs levenshtein filter — the e8
    // recall-1.0-by-construction pattern on strings. All-integer
    // arithmetic + ASCII, so the pair set is engine-independent.
    GatedQuery("d30_fuzzy_join", (s, _) => {
      import s.implicits._
      val al = "abcdefghijklmnopqrst"
      def ch(k: String) = s"substr('$al', CAST((($k) % 20) AS INT) + 1, 1)"
      val wExpr = Seq("i*7+3", "i*11+5", "i*13+7", "i*17+1", "i*19+11", "i*23+2")
        .map(ch).mkString("concat(", ", ", ")")
      val ids = s.range(400).toDF("i")
      val base = ids.select(expr(wExpr).as("w"))
      val variant = ids.select(expr(
        s"""CASE CAST(i % 3 AS INT)
           |  WHEN 0 THEN concat(substr($wExpr, 1, CAST(i % 6 AS INT)),
           |                     substr($wExpr, CAST(i % 6 AS INT) + 2, 6))
           |  WHEN 1 THEN concat(${ch("(i*7+3) % 20 + 1 + (i % 19)")},
           |                     substr($wExpr, 2, 6))
           |  ELSE concat(substr($wExpr, 1, 3), ${ch("i*29+4")},
           |              substr($wExpr, 4, 6))
           |END""".stripMargin).as("w"))
      graft.text.TextOps.edJoinLe1(base.union(variant), "w")
        .orderBy($"a", $"b")
    },
      // d30: the UNPRUNED brute — all distinct-token pairs filtered by
      // levenshtein <= 1 (the deletion-key candidate set is an exact
      // superset, so pruned must equal this)
      """WITH ids AS (SELECT i FROM range(400) t(i)),
        |al(a) AS (SELECT 'abcdefghijklmnopqrst'),
        |w AS (SELECT i,
        |    substr(a, ((i*7+3)%20)+1, 1) || substr(a, ((i*11+5)%20)+1, 1)
        |    || substr(a, ((i*13+7)%20)+1, 1) || substr(a, ((i*17+1)%20)+1, 1)
        |    || substr(a, ((i*19+11)%20)+1, 1) || substr(a, ((i*23+2)%20)+1, 1) AS w
        |  FROM ids, al),
        |v AS (SELECT i, CASE i%3
        |    WHEN 0 THEN substr(w, 1, i%6) || substr(w, (i%6)+2, 6)
        |    WHEN 1 THEN substr(a, (((i*7+3) % 20 + 1 + (i%19)) % 20)+1, 1) || substr(w, 2, 6)
        |    ELSE substr(w, 1, 3) || substr(a, ((i*29+4)%20)+1, 1) || substr(w, 4, 6)
        |  END AS w FROM w, al),
        |toks AS (SELECT DISTINCT w FROM (SELECT w FROM w UNION ALL SELECT w FROM v))
        |SELECT x.w AS a, y.w AS b, CAST(levenshtein(x.w, y.w) AS BIGINT) AS dist
        |FROM toks x JOIN toks y ON x.w < y.w AND levenshtein(x.w, y.w) <= 1
        |ORDER BY a, b""".stripMargin),

    // WEIGHTED SYSTEMATIC SAMPLING — downsample the corpus to a token
    // budget with pick probability proportional to document weight: docs
    // lie on the cumulative-token line (id order) and one doc is kept per
    // `step` tokens (the one whose interval covers the sample point).
    // The deterministic, integer-exact analogue of weighted reservoir
    // sampling; positions come from the d27 distributed prefix sum (range
    // partition + per-partition subtotals — never a global window), so
    // the plan holds at 100 TB. Oracle replicates the window-sum offsets
    // and the first-multiple rule in closed form.
    GatedQuery("d31_weighted_sample", (s, dir) => {
      import s.implicits._
      val withTok = table(s, dir, "documents")
        .select($"doc_id",
          size(filter(split(trim($"text"), "\\s+"), t => t =!= lit("")))
            .cast("long").as("n_tok"))
      graft.text.TextOps.weightedSample(withTok, "doc_id", "n_tok",
          step = 997L)
        .orderBy($"doc_id")
    },
      // d31: the cumulative-token line as a window sum (the oracle MAY use
      // the global window — it is DuckDB, not the 100 TB plan), then the
      // same first-multiple-of-step rule in pure integer arithmetic
      """WITH t AS (SELECT doc_id,
        |    len(list_filter(string_split(trim(text), ' '), x -> x != '')) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |    coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_w
        |  FROM t)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS weight,
        |  CAST(start_w AS BIGINT) AS start_w,
        |  CAST((start_w + (997 - start_w % 997) % 997) // 997 AS BIGINT)
        |    AS pick_idx
        |FROM c
        |WHERE n_tok > 0 AND (997 - start_w % 997) % 997 < n_tok
        |ORDER BY doc_id""".stripMargin),

    // N-GRAM NOVELTY scoring — the diversity signal of incremental
    // corpus curation: for each doc, the fraction of its 8-gram TYPES
    // whose corpus-wide FIRST occurrence (lowest doc_id) is this doc.
    // A crawl snapshot full of already-seen boilerplate scores ~0, new
    // content ~1 — the complement of d19's within-corpus duplication.
    // Shape: distinct (gram, doc) pairs -> min-doc_id per gram (one
    // compact-key shuffle, map-side combined) -> semi-join back. Same
    // bound-array + xxhash64 transport as d19; at 100 TB nothing wider
    // than (hash, doc_id) ever shuffles.
    GatedQuery("d32_novelty", (s, dir) => {
      import s.implicits._
      val gd = table(s, dir, "documents")
        .select($"doc_id", split($"text", " ").as("ws"))
        .select($"doc_id", explode(
          graft.text.TextOps.wordShingles($"ws", 8)).as("g"))
        .select($"doc_id", xxhash64($"g").as("h"))
        .distinct()
        // lazy: the final action's groupBy materializes every partition,
        // so the checkpoint caches fully in the same job (one job, not
        // an eager pre-pass + cached re-read)
        .localCheckpoint(false)
      val first = gd.groupBy($"h").agg(min($"doc_id").as("first_doc"))
      gd.join(first, "h")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_types"),
          sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novel_frac",
          $"n_novel".cast("double") / $"n_types".cast("double"))
        .orderBy($"doc_id")
    },
      // d32: the same string-gram construction as d19 (engine xxhash64
      // keys are pure transport), first-seen = min(doc_id) per gram type
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |gr AS (SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id,
        |      unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
        |        || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]
        |        for i in range(1, len(w) - 6)]) AS g
        |    FROM toks WHERE len(w) >= 8)),
        |fs AS (SELECT g, min(doc_id) AS first_doc FROM gr GROUP BY 1)
        |SELECT gr.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(CASE WHEN fs.first_doc = gr.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  CAST(sum(CASE WHEN fs.first_doc = gr.doc_id THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novel_frac
        |FROM gr JOIN fs USING (g)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin)
  )
}
