package graft.text

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String
import graft.core.DriverGate

/** Text-analysis operators for the training-data pipeline (dedup, quality,
  * language-id, fingerprinting) — all built from codegen'd built-ins
  * (`functions._` / SQL lambda expressions), no Python/row UDFs; the two
  * bit-twiddling kernels (simhash, rolling fingerprint) are typed Dataset
  * kernels like the raster ops. */
object TextOps {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** n-word shingles as strings over the PASSED column; empty array when
    * fewer than n tokens. (Column-lambda form — no hard-coded names.)
    *
    * PASS A BOUND COLUMN, not an inline `split(...)`: the combinator
    * references `words` n+2 times (size, sequence bound, n element_at
    * slots), Column trees duplicate by construction, and higher-order
    * functions run on the interpreted path with NO common-subexpression
    * elimination — an inline split is re-executed once per element_at
    * PER SHINGLE SLOT (measured: 14x wall on the d19 gram pass, 5.2 s ->
    * 0.36 s at sf0.1 after projecting the split first). Project the
    * token array into its own select, then shingle the attribute. */
  def wordShingles(words: Column, n: Int): Column =
    when(size(words) >= n,
      transform(sequence(lit(0), size(words) - n),
        i => concat_ws(" ", (1 to n).map(j => element_at(words, (i + j).cast("int"))): _*)))
      .otherwise(array().cast("array<string>"))

  /** Per-doc distinct-shingle hash set + minhash signature. */
  final case class DocSig(doc_id: Long, hs: Array[Long], sig: Array[Long])

  /** Typed kernel: tokenize -> n-shingle -> xxhash64 each distinct shingle
    * (bit-identical to SQL `xxhash64(s)`, seed 42) -> k-slot signature where
    * slot i = min over shingles of `xxhash64(h, i)` = hashInt(i,
    * hashLong(h, 42)). One tight loop per doc, no per-slot array churn —
    * the SQL-expression form measured 41 s at sf0.1 (BENCH_r01) because
    * each of the 64 slots materialized a rehash array per row; this kernel
    * is the same math at O(1) allocation.
    * Shingle identity is the 64-bit hash (collision odds ~2^-64): dedup,
    * set intersection and Jaccard run on longs, never strings. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int): Dataset[DocSig] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          // split(" ", -1) keeps interior AND trailing empties — matches
          // Spark SQL split(text, ' ') exactly
          val toks = text.split(" ", -1)
          if (toks.length < shingleN) Iterator.empty
          else {
            val set = new java.util.HashSet[java.lang.Long]()
            val sb = new java.lang.StringBuilder
            var i = 0
            while (i <= toks.length - shingleN) {
              sb.setLength(0)
              var j = 0
              while (j < shingleN) {
                if (j > 0) sb.append(' ')
                sb.append(toks(i + j))
                j += 1
              }
              set.add(XXH64.hashUTF8String(
                UTF8String.fromString(sb.toString), 42L))
              i += 1
            }
            val hs = new Array[Long](set.size)
            val itr = set.iterator()
            var m = 0
            while (itr.hasNext) { hs(m) = itr.next(); m += 1 }
            java.util.Arrays.sort(hs)
            val sig = new Array[Long](k)
            java.util.Arrays.fill(sig, Long.MaxValue)
            m = 0
            while (m < hs.length) {
              val base = XXH64.hashLong(hs(m), 42L)
              var s = 0
              while (s < k) {
                val v = XXH64.hashInt(s, base)
                if (v < sig(s)) sig(s) = v
                s += 1
              }
              m += 1
            }
            Iterator.single(DocSig(id, hs, sig))
          }
        }
      }
  }

  /** Exact set-overlap verify over SORTED hash arrays: two-pointer merge
    * intersection in a typed kernel — `array_intersect` builds a hash set
    * per candidate row, which dominated the d3/d4 verify stage; the
    * signature kernel already emits `hs` sorted so the merge is O(n+m)
    * with zero allocation. Input columns (ia, ib, sha, shb); output
    * (ia, ib, inter, na, nb) filtered to Jaccard*10 >= threshold10. */
  private def verifySortedOverlap(cand: DataFrame, threshold10: Int): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    cand.select(col("ia"), col("ib"), col("sha"), col("shb"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (ia, ib, a, b) =>
        var i = 0; var j = 0; var inter = 0L
        while (i < a.length && j < b.length) {
          if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
          else if (a(i) < b(j)) i += 1
          else j += 1
        }
        (ia, ib, inter, a.length.toLong, b.length.toLong)
      }.toDF("ia", "ib", "inter", "na", "nb")
      .filter(col("inter") * 10 >= lit(threshold10) * (col("na") + col("nb") - col("inter")))
  }

  /** Exact n-gram Jaccard pairs via an inverted-index join with a
    * DOCUMENT-FREQUENCY CAP on the postings: a shingle appearing in more
    * than `dfCap` docs is excluded from candidate generation (its posting
    * list alone would create O(df^2) pairs — the classic stop-shingle
    * explosion), but verification runs on the FULL hashed shingle sets so
    * surviving pairs carry exact (inter, na, nb). A qualifying pair is
    * missed only if EVERY shared shingle is ultra-common (df > dfCap) —
    * at threshold >= 0.8 that needs a near-duplicate doc made entirely of
    * stop-shingles; documented recall condition, same trade every
    * production near-dup pipeline makes. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold10: Int = 8,
      dfCap: Int = 1000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // an eager cut: the df-cap aggregate, both candidate self-join sides
    // and both verify joins read it, and AQE runs their map stages at the
    // same time, so a lazy cut had its blocks filled by two of them
    val sets = minhashSignatures(docs, idCol, textCol, shingleN, k = 0)
      .toDF("doc_id", "hs", "sig").drop("sig")
      .localCheckpoint(true)
    val postings = sets.select($"doc_id", explode($"hs").as("h"))
    val rare = postings.groupBy($"h").count()
      .filter($"count" <= dfCap).select($"h")
    val capped = postings.join(rare, "h")
    val candIds = capped.as("a").join(capped.as("b"),
        $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("ia"), $"b.doc_id".as("ib"))
      .dropDuplicates("ia", "ib")
    verifySortedOverlap(candIds
        .join(sets.toDF("ia", "sha"), "ia")
        .join(sets.toDF("ib", "shb"), "ib"), threshold10)
      .select($"ia", $"ib", $"inter",
        $"na".as("sza"), $"nb".as("szb"))
  }

  /** LSH candidate pairs via banded minhash + exact-Jaccard verification.
    * Scale shape: ONE pass computes (hs, sig) per doc (persisted — at
    * cluster scale this is a checkpoint table); band explode -> self-join
    * on (band, bandHash) carrying IDS ONLY -> distinct pairs -> verify with
    * exact integer Jaccard over the hashed shingle sets (c, na, nb).
    * threshold10 = Jaccard threshold in tenths (integer math, no float). */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      threshold10: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands must divide k (got k=$k, bands=$bands): bands > k would " +
        "hash empty slices (every doc collides -> O(N^2) candidates), " +
        "k % bands != 0 silently drops trailing signature slots")
    val rowsPerBand = k / bands
    val sigs = minhashSignatures(docs, idCol, textCol, shingleN, k)
      .toDF("doc_id", "hs", "sig")
      .localCheckpoint(false) // hs + sig arrays: block cache
    val banded = sigs.select($"doc_id",
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => hash(slice($"sig", b * rowsPerBand + 1, lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bhash")
    val candIds = banded.as("a").join(banded.as("b"),
        $"a.band" === $"b.band" && $"a.bhash" === $"b.bhash" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("ia"), $"b.doc_id".as("ib"))
      .dropDuplicates("ia", "ib")
    val sets = sigs.select($"doc_id", $"hs")
    verifySortedOverlap(candIds
        .join(sets.toDF("ia", "sha"), "ia")
        .join(sets.toDF("ib", "shb"), "ib"), threshold10)
      .select($"ia", $"ib", $"inter", $"na", $"nb")
  }

  /** 64-bit SimHash over whitespace tokens (kernel; ties at bit-sum 0 set
    * the bit, matching the >= 0 convention). */
  def simhash64(text: String): Long = {
    val acc = new Array[Int](64)
    var start = 0
    val n = text.length
    var i = 0
    while (i <= n) {
      if (i == n || text.charAt(i) == ' ') {
        if (i > start) {
          // FNV-1a 64 of the token, then spread bits
          var h = 0xcbf29ce484222325L
          var j = start
          while (j < i) {
            h ^= text.charAt(j)
            h *= 0x100000001b3L
            j += 1
          }
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) >= 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Longest run in a SORTED string array == max multiplicity of any
    * element: one per-row `aggregate` lambda over the array, entirely
    * inside codegen, zero shuffle — the scale shape for per-document
    * repetition statistics (Rae et al. 2021 "Gopher" §A1.1 quality
    * rules count duplicate n-grams per document; a groupBy(doc, gram)
    * would shuffle every gram occurrence of a 100 TB corpus, this
    * shuffles nothing). */
  def maxRunLength(sorted: Column): Column =
    aggregate(
      sorted,
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("best")),
      (st, x) => {
        val run = when(x.eqNullSafe(st("prev")), st("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(st("best"), run).as("best"))
      },
      st => st("best"))

  /** Total occurrences of elements with multiplicity >= 2 in a SORTED
    * string array (= size - #singletons), same zero-shuffle per-row
    * aggregate shape as [[maxRunLength]]. */
  def dupOccurrences(sorted: Column): Column = {
    val singles = aggregate(
      sorted,
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("singles")),
      (st, x) => {
        val same = x.eqNullSafe(st("prev"))
        val closedSingle =
          when(st("run") === 1L, 1L).otherwise(0L)
        struct(x.as("prev"),
          when(same, st("run") + 1L).otherwise(lit(1L)).as("run"),
          when(same, st("singles"))
            .otherwise(st("singles") + closedSingle).as("singles"))
      },
      st => st("singles") + when(st("run") === 1L, 1L).otherwise(0L))
    size(sorted).cast("long") - singles
  }

  /** All pairs with hamming(simhash) <= maxHamming via PIGEONHOLE banding:
    * split the 64-bit hash into maxHamming+1 chunks — two hashes within
    * maxHamming bits of each other must agree on >= 1 whole chunk — then
    * equi-join on (chunk_idx, chunk_value), dedup, verify exact hamming.
    * Scale shape: shuffled hash join on the chunk key (vs the O(N²)
    * cartesian of the naive theta-join). Input: (doc_id, simhash).
    *
    * `dfCap` guards the skew hole the banding alone leaves open: a chunk
    * value shared by M docs (boilerplate-dominated hashes go exactly this
    * degenerate on near-dup corpora) puts M²/2 candidate rows on ONE
    * (ci, cv) key. Over-capped chunk values are excluded from candidate
    * generation — same trade as [[jaccardPairs]]' stop-shingle cap. Recall
    * bound: a qualifying pair is missed only if EVERY chunk the two hashes
    * agree on is ultra-common (df > dfCap); each pair has >= 1 agreeing
    * chunk by pigeonhole and typically several, so the loss condition is
    * a corpus where > dfCap documents share whole hash chunks — at which
    * point those documents are mutual near-dups and the capped key's pairs
    * are derivable transitively. */
  def simhashNearPairs(hashed: DataFrame, maxHamming: Int,
      dfCap: Int = 1000): DataFrame = {
    val spark = hashed.sparkSession
    import spark.implicits._
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64), got $maxHamming")
    val nChunks = maxHamming + 1
    val widths = Array.tabulate(nChunks)(j =>
      64 / nChunks + (if (j < 64 % nChunks) 1 else 0))
    val los = widths.scanLeft(0)(_ + _)
    // a 64-bit chunk (maxHamming = 0) needs the all-ones mask: Scala's
    // 1L << 64 wraps to 1, so (1L << 64) - 1 would be 0, not -1
    def mask(w: Int): Long = if (w >= 64) -1L else (1L << w) - 1
    val chunks = (0 until nChunks).map { j =>
      struct(lit(j).as("ci"),
        (shiftrightunsigned($"simhash", los(j))
          .bitwiseAND(lit(mask(widths(j))))).as("cv"))
    }
    // an eager lineage cut: the df-cap aggregate AND both self-join sides
    // of the returned plan read it, so the document scan + simhash kernel
    // + explode run once, before any of those readers
    val postings = hashed
      .select($"doc_id", $"simhash", explode(array(chunks: _*)).as("ch"))
      .select($"doc_id", $"simhash", $"ch.ci".as("ci"), $"ch.cv".as("cv"))
      .localCheckpoint(true)
    val rare = postings.groupBy($"ci", $"cv").count()
      .filter($"count" <= dfCap).select($"ci", $"cv")
    val exploded = postings.join(rare, Seq("ci", "cv"))
    // hamming-filter BEFORE the dedup shuffle: hamming is a function of
    // (ia, ib), so filter-then-dedup == dedup-then-filter — but the
    // filter runs inside the join's codegen stage and drops the ~K x
    // dfCap^2 candidate pairs (measured 2.6M at sf0.1) to just the near
    // pairs, so the dropDuplicates exchange carries hundreds of 20-byte
    // rows instead of millions of 32-byte ones (guide §2.3)
    exploded.as("a").join(exploded.as("b"),
        $"a.ci" === $"b.ci" && $"a.cv" === $"b.cv" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("ia"), $"b.doc_id".as("ib"),
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).cast("int")
          .as("hamming"))
      .filter($"hamming" <= maxHamming)
      .dropDuplicates("ia", "ib")
      .select($"ia", $"ib", $"hamming")
  }

  /** Rolling polynomial document fingerprint (mod 2^61-1): order-sensitive,
    * whitespace-normalized — equal iff texts equal up to runs of spaces. */
  def fingerprint(text: String): Long = {
    val M = (1L << 61) - 1
    var h = 0L
    var lastSpace = false
    var i = 0
    while (i < text.length) {
      val ch = text.charAt(i)
      val isSpace = ch == ' '
      if (!(isSpace && lastSpace)) {
        h = mulMod61(h, 131) + ch.toLong
        if (h >= M) h -= M
      }
      lastSpace = isSpace
      i += 1
    }
    h
  }

  private def mulMod61(a: Long, b: Long): Long = {
    // (a*b) mod 2^61-1 without overflow via 128-bit split
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    val M = (1L << 61) - 1
    var r = (lo & M) + ((lo >>> 61) | (hi << 3))
    while (r >= M) r -= M
    r
  }

  /** Language-ID heuristic: count language-marker substrings (padded with
    * spaces so they match whole words), argmax with deterministic
    * preference order, "und" when no marker hits. Pure arithmetic on
    * integers -> SQL-oracle-safe. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " of "),
    "de" -> Seq(" der ", " und ", " die "),
    "es" -> Seq(" el ", " los ", " que "),
    "fr" -> Seq(" le ", " et ", " les "))

  /** Incremental dedup with a broadcast BLOOM pre-filter — the 100 TB
    * steady-state shape of d18: the corpus signature index folds into a
    * Bloom filter via `DataFrameStatFunctions.bloomFilter` (a
    * treeAggregate; the driver holds only the ~`1.2 * n * ln(1/fpp)`-bit
    * filter, never the signatures), the filter broadcasts to the
    * incoming side, and ONLY bloom-positive rows (true dups + ~fpp false
    * positives) reach the exact LEFT ANTI join. Bloom-negative rows are
    * provably new (no false negatives) and skip the shuffle entirely —
    * at a 1% dup rate that removes ~99% of the anti-join's probe volume.
    * The result is EXACTLY the plain anti-join's (false positives are
    * re-checked; negatives cannot be dups), so the oracle is unchanged.
    *
    * Input: `incoming` and `corpusSigs` both carrying `sigCol` (string).
    * Output: the incoming rows whose signature is not in the corpus. */
  def incrementalDedupBloom(incoming: DataFrame, corpusSigs: DataFrame,
      sigCol: String, expectedItems: Long, fpp: Double): DataFrame = {
    val spark = incoming.sparkSession
    // a lineage cut read by the bloomFilter aggregate (which fills it)
    // AND the anti-join build — the corpus distinct computes once
    val index = corpusSigs.select(col(sigCol)).distinct()
      .localCheckpoint(false)
    val bloom = index.stat.bloomFilter(sigCol, expectedItems, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    // a NULL signature never equi-matches in the anti-join (the row is
    // new), so the probe must route it to the definitely-new branch —
    // mightContainString(null) would NPE inside the hash
    val mightContain = udf((sig: String) =>
      sig != null && bc.value.mightContainString(sig))
    // an eager lineage cut: the two branches below read it side by side,
    // so the full incoming scan + sig + probe runs once, before either
    val flagged = incoming.withColumn("__maybe_dup", mightContain(col(sigCol)))
      .localCheckpoint(true)
    val definitelyNew = flagged.filter(!col("__maybe_dup"))
    val verifiedNew = flagged.filter(col("__maybe_dup"))
      .join(index, Seq(sigCol), "left_anti")
    definitelyNew.unionByName(verifiedNew).drop("__maybe_dup")
  }

  /** Token-window document chunking with overlap — the standard
    * pretraining/RAG chunker (split long docs into model-context-sized
    * pieces; adjacent chunks share `chunkSize - stride` tokens so no
    * span is lost at a boundary). Tokens are `\s+`-split words; chunk k
    * covers tokens `[k*stride, k*stride + chunkSize)` and starts are
    * emitted while `k*stride < nTokens`, so every token lands in at
    * least one chunk and the tail chunk may be shorter.
    *
    * Scale shape: entirely codegen'd built-ins (split / filter /
    * sequence / posexplode / slice / array_join / md5) — one narrow
    * generator pass per document, NO shuffle and no join; at 100 TB the
    * fan-out happens inside each input split. Output one row per chunk:
    * (idCol, chunk_idx, start_tok, n_tok, chunk_md5). `chunk_md5` is the
    * md5 of the space-rejoined token window — the downstream chunk-level
    * dedup/contamination key. */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    require(stride > 0 && stride <= chunkSize,
      s"stride must be in [1, chunkSize], got $stride")
    val toks = filter(split(trim(col(textCol)), "\\s+"), t => t =!= lit(""))
    docs.select(col(idCol), toks.as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .where(col("__n") > 0)
      .select(col(idCol), col("__toks"), col("__n"),
        explode(sequence(lit(0),
          floor((col("__n") - 1) / lit(stride)).cast("int"))).as("chunk_idx"))
      .withColumn("start_tok", col("chunk_idx") * stride)
      .select(col(idCol), col("chunk_idx"), col("start_tok"),
        least(lit(chunkSize), col("__n") - col("start_tok"))
          .cast("int").as("n_tok"),
        md5(array_join(
          slice(col("__toks"), col("start_tok") + 1, lit(chunkSize)), " "))
          .as("chunk_md5"))
  }

  /** Distributed BPE merge learning (byte-pair encoding, Sennrich et al.
    * 2016) — tokenizer training as a corpus job. The corpus folds ONCE to
    * the word-frequency table (Heaps' law: |vocab| << corpus — the
    * reduction that makes BPE trainable at 100 TB); every round after
    * that is vocab-sized, never corpus-sized: one pair-key shuffle with
    * map-side combine counts symbol bigrams (OVERLAPPING occurrences,
    * the reference convention: "aaa" yields (a,a) twice), a top-1 agg
    * picks the winner (count desc, then (left, right) lexicographic —
    * fully deterministic), and a typed map applies the merge greedily
    * left-to-right ("aaaa" + (a,a) -> [aa, aa], not three overlapping
    * merges). localCheckpoint truncates each round's lineage so the plan
    * stays constant-size over any merge count. Only the single winning
    * row ever reaches the driver per round. Returns one row per learned
    * merge: (merge_rank, left_sym, right_sym, pair_count). */
  def bpeLearnMerges(docs: DataFrame, textCol: String,
      nMerges: Int): DataFrame = {
    require(nMerges >= 1, s"nMerges must be positive, got $nMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE distributed fold: the corpus (any size) collapses to the word-
    // frequency table — VOCABULARY-sized, corpus-size-independent. This
    // is the standard BPE-training shape (HF tokenizers does exactly
    // this): after the fold, merge learning touches only the word table.
    var vocab = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .where($"word" =!= "")
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .as[(String, Long)]
      .map { case (w, f) => (f, w.map(_.toString).toArray) }
      .localCheckpoint(false) // the gate's size job materializes it fully
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    DriverGate.place("TextOps.bpeLearnMerges vocab", vocab)(w => bpeWordBytes(w._2.length)) match {
      case Left(words) =>
        // Driver-side learn: no job per merge round; the argmax runs in
        // memory with the distributed branch's semantics — pair counts
        // recomputed after every merge, winner by (count desc, then (left,
        // right) lexicographic).
        val syms: Array[Array[String]] = words.map(_._2)
        var r = 1
        var exhausted = false
        while (r <= nMerges && !exhausted) {
          val cnt = scala.collection.mutable.HashMap[(String, String), Long]()
          var i = 0
          while (i < syms.length) {
            val s = syms(i); val f = words(i)._1
            var j = 0
            while (j < s.length - 1) {
              val k = (s(j), s(j + 1))
              cnt(k) = cnt.getOrElse(k, 0L) + f
              j += 1
            }
            i += 1
          }
          if (cnt.isEmpty) exhausted = true
          else {
            // tie-break with UTF-8 BYTE order, not JVM String (UTF-16 code
            // unit) order: the distributed fallback's orderBy compares
            // UTF8String bytes, and the two orders disagree for
            // supplementary characters vs [U+E000, U+FFFF] BMP chars — a
            // mixed-script corpus would otherwise learn DIFFERENT
            // vocabularies on the two branches from the first such tie on
            val ((a, b), c) = cnt.min(Ordering.fromLessThan[((String, String), Long)] {
              case (((a1, b1), n1), ((a2, b2), n2)) =>
                if (n1 != n2) n1 > n2
                else {
                  val ca = utf8Cmp(a1, a2)
                  if (ca != 0) ca < 0 else utf8Cmp(b1, b2) < 0
                }
            })
            merges += ((r, a, b, c))
            i = 0
            while (i < syms.length) {
              syms(i) = bpeApplyMerge(syms(i), a, b)
              i += 1
            }
            r += 1
          }
        }
      case Right(_) =>
        // Over-budget fallback (a vocabulary beyond driver memory — URLs/
        // hashes-as-words pathologies): the per-round distributed argmax.
        // One job per merge round, O(nMerges) jobs — documented bound; the
        // localCheckpoint keeps each round's plan constant-size.
        var r = 1
        var exhausted = false
        while (r <= nMerges && !exhausted) {
          val win = vocab.flatMap { case (f, s) =>
              (0 until s.length - 1).iterator.map(i => (s(i), s(i + 1), f)) }
            .toDF("a", "b", "f")
            .groupBy($"a", $"b").agg(sum($"f").as("cnt"))
            .orderBy($"cnt".desc, $"a", $"b").limit(1)
            .as[(String, String, Long)].collect()
          if (win.isEmpty) exhausted = true
          else {
            val (a, b, c) = win(0)
            merges += ((r, a, b, c))
            vocab = vocab
              .map { case (f, s) => (f, bpeApplyMerge(s, a, b)) }
              // lazy: next round's winner agg scans every partition
              .localCheckpoint(false)
            r += 1
          }
        }
    }
    spark.createDataset(merges.toSeq)
      .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
  }

  /** Driver heap of a `len`-symbol vocabulary word: its row, 56 + 52 a
    * symbol (measured), and at most an 80-byte pair-count entry a bigram. */
  private[text] def bpeWordBytes(len: Int): Long = 56L + 52L * len + 80L * math.max(len - 1, 0)

  /** GPT-style contiguous sequence PACKING: concatenate all documents'
    * tokens in id order and cut the stream into fixed seqLen training
    * blocks — each doc is assigned its global token offset and the
    * first/last sequence it lands in (docs straddle block boundaries by
    * design; this is concat-and-chunk packing, not remainder-aware bin
    * packing). The global running total is THE scale trap here: a
    * window over a global ORDER BY collapses to one partition. This
    * implementation is the canonical DISTRIBUTED prefix sum instead —
    * range-partition by id, localCheckpoint to freeze the partitioning,
    * one O(#partitions) pass collects per-partition subtotals (a few
    * longs to the driver, never rows), the driver scan-prefixes them,
    * and a second per-partition pass emits running offsets. Two narrow
    * passes, no global sort bottleneck at any corpus size. Rows with
    * n_tok = 0 get last_seq = first_seq. */
  def packContiguous(docs: DataFrame, idCol: String, nTokCol: String,
      seqLen: Int, partitions: Int = 0): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val spark = docs.sparkSession
    import spark.implicits._
    val out = runningOffsets(docs, idCol, nTokCol, partitions).map {
      case (id, n, start) =>
        (id, n, start, start / seqLen,
          (start + math.max(n, 1L) - 1L) / seqLen)
    }
    spark.createDataset(out)
      .toDF(idCol, "n_tok", "start_tok", "first_seq", "last_seq")
  }

  /** The shared distributed prefix-sum core of [[packContiguous]] and
    * [[weightedSample]]: range-partition by id, localCheckpoint to freeze
    * the partitioning, one O(#partitions) pass collects per-partition
    * subtotals (a few longs to the driver, never rows), the driver
    * scan-prefixes them, and a second per-partition pass emits each row's
    * running offset. Emits (id, n, start) with start = sum of n over all
    * ids before this one in id order. */
  private def runningOffsets(docs: DataFrame, idCol: String, nCol: String,
      partitions: Int): org.apache.spark.rdd.RDD[(Long, Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs.select(col(idCol).cast("long").as("id"),
      col(nCol).cast("long").as("n"))
    val ranged = // 0 = planner default (AQE may coalesce small inputs)
      if (partitions > 0) keyed.repartitionByRange(partitions, col("id"))
      else keyed.repartitionByRange(col("id"))
    val ds = ranged
      .sortWithinPartitions(col("id"))
      .as[(Long, Long)]
      .localCheckpoint() // freeze range boundaries across the two passes
    val rdd = ds.rdd
    val partSums = rdd.mapPartitionsWithIndex { (pi, it) =>
        var s = 0L; it.foreach(s += _._2); Iterator.single((pi, s))
      }.collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    rdd.mapPartitionsWithIndex { (pi, it) =>
      var run = bc.value(pi)
      it.map { case (id, n) =>
        val start = run; run += n
        (id, n, start)
      }
    }
  }

  /** WEIGHTED SYSTEMATIC SAMPLING to a training budget: lay every
    * document on the cumulative-weight line (id order) and keep exactly
    * the docs whose weight interval [start, start + w) covers a multiple
    * of `step` — one pick per `step` tokens, each doc kept with
    * probability proportional to its weight. This is the deterministic,
    * order-stable analogue of weighted reservoir sampling (A-ES) that a
    * curation pipeline runs to downsample a corpus to a token budget:
    * exact integer arithmetic (no float priorities), reproducible across
    * engines, and the same two narrow prefix-sum passes as
    * [[packContiguous]] — no global sort, no driver rows, so the plan
    * holds at 100 TB. pick_idx is the index of the FIRST sample point
    * inside the doc's interval (a doc heavier than `step` absorbs
    * several consecutive picks but is emitted once — sampling without
    * replacement). Zero-weight docs are never picked. Output one row per
    * KEPT doc: (id, weight, start_w, pick_idx). */
  def weightedSample(docs: DataFrame, idCol: String, weightCol: String,
      step: Long, partitions: Int = 0): DataFrame = {
    require(step > 0, s"step must be positive, got $step")
    val spark = docs.sparkSession
    import spark.implicits._
    val out = runningOffsets(docs, idCol, weightCol, partitions)
      .flatMap { case (id, n, start) =>
        require(n >= 0, s"weightedSample: negative weight $n for id $id")
        systematicPick(start, n, step).map(p => (id, n, start, p)).iterator
      }
    spark.createDataset(out)
      .toDF(idCol, "weight", "start_w", "pick_idx")
  }

  /** The systematic pick rule shared by [[weightedSample]] and
    * [[weightedSampleByGroup]]: a doc whose weight interval
    * [start, start + n) covers a multiple of `step` is kept, keyed by
    * the FIRST covered multiple (all operands non-negative, so % is the
    * true mod). Some(pickIdx) iff kept. */
  private def systematicPick(start: Long, n: Long, step: Long): Option[Long] = {
    val gap = (step - start % step) % step
    if (n > 0 && gap < n) Some((start + gap) / step) else None
  }

  /** Grouped variant of [[weightedSample]]: an independent cumulative-
    * weight line PER GROUP, each group with its own `step` — the
    * MIXTURE sampler (each source's step realizes its target share of
    * the training budget: half the step, twice the tokens). Same two
    * narrow passes as [[packContiguous]], range-partitioned on
    * (group, id): the driver-side scan holds one subtotal per
    * (partition, group-run) — contiguous group runs make that
    * #groups + #partitions rows of a few longs (documented bound; a
    * billion-group pathology would want a join-based scan instead).
    * Groups absent from `steps` are dropped; zero weights never pick.
    * Output one row per KEPT doc: (group, id, weight, start_w,
    * pick_idx). */
  def weightedSampleByGroup(docs: DataFrame, groupCol: String,
      idCol: String, weightCol: String, steps: Map[String, Long],
      partitions: Int = 0): DataFrame = {
    require(steps.nonEmpty && steps.values.forall(_ > 0),
      "weightedSampleByGroup: steps must be non-empty and positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs.select(col(groupCol).cast("string").as("g"),
      col(idCol).cast("long").as("id"), col(weightCol).cast("long").as("n"))
    val ranged =
      if (partitions > 0)
        keyed.repartitionByRange(partitions, col("g"), col("id"))
      else keyed.repartitionByRange(col("g"), col("id"))
    val ds = ranged.sortWithinPartitions(col("g"), col("id"))
      .as[(String, Long, Long)]
      .localCheckpoint() // freeze range boundaries across the two passes
    val rdd = ds.rdd
    val partSums = rdd.mapPartitionsWithIndex { (pi, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { case (g, _, n) => m(g) = m.getOrElse(g, 0L) + n }
      Iterator.single((pi, m.toSeq))
    }.collect().sortBy(_._1)
    val offs = Map.newBuilder[(Int, String), Long]
    val running = scala.collection.mutable.HashMap.empty[String, Long]
    partSums.foreach { case (pi, gs) =>
      gs.foreach { case (g, s0) =>
        offs += ((pi, g) -> running.getOrElse(g, 0L))
        running(g) = running.getOrElse(g, 0L) + s0
      }
    }
    val bc = spark.sparkContext.broadcast(offs.result())
    val stepsBc = spark.sparkContext.broadcast(steps)
    val out = rdd.mapPartitionsWithIndex { (pi, it) =>
      val run = scala.collection.mutable.HashMap.empty[String, Long]
      it.flatMap { case (g, id, n) =>
        require(n >= 0, s"weightedSampleByGroup: negative weight $n for $id")
        val start = run.getOrElse(g, bc.value.getOrElse((pi, g), 0L))
        run(g) = start + n
        stepsBc.value.get(g) match {
          case Some(step) =>
            systematicPick(start, n, step)
              .map(p => (g, id, n, start, p)).iterator
          case None => Iterator.empty
        }
      }
    }
    spark.createDataset(out)
      .toDF(groupCol, idCol, "weight", "start_w", "pick_idx")
  }

  /** BPE ENCODING — the apply side of [[bpeLearnMerges]]: tokenize each
    * document with a learned merge list (applied in rank order, each
    * greedily left-to-right — the reference encoder semantics). The
    * merge table is tiny (50k rows for a production tokenizer) and rides
    * into the closure by value — broadcast, never shuffled; the encode
    * itself is a per-row typed kernel with NO shuffle, so at 100 TB it
    * runs at input-split parallelism. Emits per document the BPE token
    * count and the md5 of the exact '|'-joined token stream — the
    * cross-engine gate of the complete tokenization, and the dedup key
    * of the tokenized corpus. Documents with no tokens are dropped
    * (same contract as [[chunkTokens]]). */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val m = merges.toArray
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        val words = t.trim.split("\\s+").filter(_.nonEmpty)
        if (words.isEmpty) Iterator.empty else {
          val toks = words.iterator.flatMap { w =>
            var s = w.map(_.toString).toArray
            var i = 0
            while (i < m.length) { s = bpeApplyMerge(s, m(i)._1, m(i)._2); i += 1 }
            s
          }.toArray
          val joined = toks.mkString("|")
          val md5hex = java.security.MessageDigest.getInstance("MD5")
            .digest(joined.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          Iterator.single((id, toks.length.toLong, md5hex))
        }
      }.toDF(idCol, "n_tok_bpe", "tok_md5")
  }

  /** Edit-distance-1 fuzzy self-join over a token set — the SymSpell /
    * FastSS deletion-neighborhood algorithm (typo-level vocabulary
    * dedup, OCR-noise normalization, query-spelling clusters): every
    * unordered pair of DISTINCT tokens with Levenshtein distance <= 1,
    * WITHOUT an all-pairs comparison.
    *
    * Candidate rule: ed(a, b) <= 1 implies a and b share a string in
    * their {0,1}-deletion neighborhoods (substitution: delete the
    * differing position from both; insertion/deletion: the shorter IS a
    * 1-deletion of the longer; equality excluded by distinct). So the
    * candidate set from an EQUI-join on deletion-variant keys is a
    * guaranteed superset — recall 1.0 by construction, like e8's ball
    * bound — and the exact `levenshtein` verify (codegen'd built-in on
    * both engines) loses nothing.
    *
    * Scale shape: the key index is sum(len+1) rows (one per token per
    * deletion position, `array_union`-deduped within a token), the join
    * is a shuffled equi-join on the variant string, and verify touches
    * candidates only. Keys self-bucket by length (a length-L key only
    * ever matches tokens of length L or L+1), so there is no global hot
    * key unless the vocabulary itself packs many tokens into one
    * deletion variant — and those pairs ARE the answer, irreducible.
    * For ed <= k > 1 the same index extends to k-deletion neighborhoods
    * (FastSS); k = 1 covers the typo-dedup use case gated here.
    *
    * Input: any DataFrame with a string column; empty/NULL tokens are
    * dropped. Output: (a, b, dist) with a < b (UTF8 order), exact. */
  def edJoinLe1(tokens: DataFrame, strCol: String): DataFrame = {
    val t = tokens.select(col(strCol).cast("string").as("w"))
      .where(col("w").isNotNull && length(col("w")) >= 1)
      .distinct()
    // bind len BEFORE the lambda (the d19 discipline) — and the string
    // itself joins its own neighborhood as the 0-deletion key
    val keyed = t
      .withColumn("len", length(col("w")))
      .select(col("w"), explode(expr(
        "array_union(array(w), transform(sequence(1, len), " +
          "i -> concat(substring(w, 1, i-1), substring(w, i+1, len))))"))
        .as("k"))
    val a = keyed.select(col("w").as("a"), col("k"))
    val b = keyed.select(col("w").as("b"), col("k"))
    a.join(b, Seq("k"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
      .withColumn("dist", levenshtein(col("a"), col("b")).cast("long"))
      .where(col("dist") <= 1)
  }

  /** Lexicographic comparison of the UTF-8 BYTES of two strings — the
    * order Spark's UTF8String.compareTo implements. The driver-side BPE
    * tie-break uses this so both learn branches agree on every corpus. */
  private[text] def utf8Cmp(x: String, y: String): Int = {
    val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(xb.length, yb.length)
    var i = 0
    while (i < n) {
      val d = (xb(i) & 0xFF) - (yb(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    xb.length - yb.length
  }

  /** Greedy left-to-right application of one BPE merge: adjacent (a, b)
    * becomes the fused symbol, and the scan resumes AFTER the fusion
    * (the reference re-tokenization rule). */
  private[text] def bpeApplyMerge(sym: Array[String], a: String,
      b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < sym.length) {
      if (i + 1 < sym.length && sym(i) == a && sym(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += sym(i); i += 1 }
    }
    out.toArray
  }

  private def occurrences(text: Column, marker: String): Column =
    (length(text) - length(regexp_replace(text, marker, ""))) / marker.length

  def langScore(text: Column, lang: String): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    langMarkers(lang).map(m => occurrences(padded, m))
      .reduce(_ + _).cast("long")
  }

  def langId(text: Column): Column = {
    val en = langScore(text, "en")
    val de = langScore(text, "de")
    val es = langScore(text, "es")
    val fr = langScore(text, "fr")
    val mx = greatest(en, de, es, fr)
    // NULL text: every score is NULL, every when-predicate is NULL, and
    // the bare otherwise would mislabel a null document "fr"
    when(text.isNull, lit(null).cast("string"))
      .when(mx === 0, "und")
      .when(en === mx, "en")
      .when(de === mx, "de")
      .when(es === mx, "es")
      .otherwise("fr")
  }
}
