package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Dump formatted physical plans of representative queries to PLANS.md —
  * the evidence that filters/projections reach the scan, joins pick the
  * intended strategy, and aggregates keep partial/final split. */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val picks = Seq(
      "q1_lineitem_agg" -> "partial/final hash agg; scan-level column pruning (ReadSchema)",
      "q2_top_orders" -> "broadcast dim join + TakeOrderedAndProject top-k",
      "r2_rect_clip" -> "Z-range cellId BETWEEN predicates (CellId.zRanges) pushed ahead of payload kernels",
      "r12_clip_polygon" -> "polygon cover compiled to cellId ranges; PIP mask kernel after the prune",
      "r4_rasterize" -> "cover explode -> cell-id exchange -> burn kernel -> partial agg",
      "d3_ngram_jaccard" -> "df-capped inverted-index self-join on hashed shingles + exact set verify",
      "d4_minhash_lsh" -> "typed signature kernel -> band equi-join on ids -> hashed-set verify",
      "d5_simhash" -> "pigeonhole chunk equi-join (shuffled hash join, NOT BroadcastNestedLoop)",
      "e1_knn_cosine" -> "codegen'd zip_with/aggregate dot product + window top-k",
      "i3_phash_dedup" -> ("phash-bucket dedup: equi-join on (phash, digest) " +
        "carrying ids + digests only (the encoded image bytes never shuffle); " +
        "exact-content survivors via the md5 predicate"),
      "d10_dedup_components" -> ("dedup clustering: the verified d3 pair graph " +
        "dissolved to canonical keepers — driver union-find at fixture scale " +
        "(pairs are the sparse duplicate set), distributed min-label loop " +
        "above the limit"),
      "r20_delaunay" -> ("ring-doubling Delaunay escalation: the final plan unions " +
        "per-round localCheckpoint increments (each round = cogroup of unresolved " +
        "cells with k-ring-gathered points, cells kept only when the circumcircle " +
        "proof certifies them exact vs the global mesh)"),
      "e2_ann_ivf" -> ("IVF probe plan: broadcast centroid table (reused from " +
        "k-means, no posexplode recompute) + window probe ranking + inverted-list " +
        "equi-join on cluster id with exact cosine re-rank"),
      "r17_reproject" -> ("warp gather: tile-granular cover cogroup on the dst " +
        "grid; per-pixel inverse transform stays in the typed kernel, no per-pixel " +
        "exchange"),
      "r22_component_stats" -> ("distributed connected components: per-tile " +
        "union-find, seam-equivalence join, (g -> root) mapping JOINED (left join " +
        "+ coalesce default, no broadcast collect), distinct-root agg"),
      "q7_asof_join" -> ("backward as-of join: ONE hashpartitioning(__k) " +
        "exchange feeding a streaming Window frame (last ignoreNulls, " +
        "unbounded preceding..current row) — no join operator at all, so a " +
        "hot key is linear work in one task, never join+row_number's O(l x r)"),
      "q8_range_join" -> ("tolerance range join: right side exploded to 3 " +
        "exact-div buckets -> shuffled EQUI-join on (key, bucket) + |dt| " +
        "filter; no CartesianProduct/BNLJ anywhere in the plan"),
      "d21_bloom_dedup" -> ("bloom incremental dedup: broadcast Bloom probe " +
        "filter splits the incoming scan; only bloom-positive rows reach the " +
        "LEFT ANTI sig exchange — the anti-join probe volume is the dup rate " +
        "+ fpp, not the corpus"),
      "q12_set_ops" -> ("INTERSECT/EXCEPT: each branch compiles to " +
        "hash-aggregate + one user_id exchange (semi/anti after dedup); the " +
        "labeled union adds no shuffle"),
      "e6_ann_sq8" -> ("SQ8 scan: the candidate stage is one " +
        "WholeStageCodegen-free typed scan with BROADCAST query codes " +
        "(no join operator, no shuffle until the tiny (qid,vid,idot) " +
        "table); shortlist window + exact re-rank join only touch " +
        "survivor ids"),
      "e8_range_search" -> ("cosine range search: the balls table " +
        "(nlist centroid+radius rows) is BROADCAST to the query side — " +
        "the only nested-loop join in the plan has that tiny build side " +
        "by design; surviving (qid, cl) probes equi-join the corpus on " +
        "cl, so per-query work is the probed lists only and the corpus " +
        "shuffles ONCE on cluster id, never all-pairs"),
      "d30_fuzzy_join" -> ("ed<=1 fuzzy join: candidates come from ONE " +
        "shuffled equi-join on the deletion-variant key (index size " +
        "sum(len+1), keys self-bucket by length) — no CartesianProduct/" +
        "BNLJ anywhere; the levenshtein verify is a codegen'd filter " +
        "over candidate pairs only"),
      "d19_dup_grams" -> ("span dedup: the gram pass is ONE staged " +
        "projection — split bound to a column BEFORE the shingle lambda " +
        "(an inline split re-executes per element_at slot on the " +
        "interpreted higher-order path: 14x the gram wall), grams leave " +
        "the pass as xxhash64 longs, three compact-key shuffles follow"),
      "d28_url_dedup" -> ("URL-canonicalization dedup: the whole " +
        "variant-synthesis + 5-pass regexp canonicalization chain is one " +
        "codegen'd projection; ONE map-side-combined groupBy on the " +
        "canonical string — the d1 exact-dedup shuffle shape"),
      "d29_rank_fluency" -> ("rank fluency: the frequency ranking runs over " +
        "the FOLDED vocabulary table (corpus-size-independent, so its one " +
        "window is driver-bounded by construction), ranks broadcast-join " +
        "back onto the word stream, and the keep rule is an integer " +
        "cross-multiply — no float, no corpus-wide window"),
      "m6_length_buckets" -> ("length-bucketed batching: the (length, id) " +
        "order comes from the range-exchange + zipWithIndex global index " +
        "(Scan ExistingRDD — NEVER a single-partition window); batch ids " +
        "are integer division on that index and the padding-waste rollup " +
        "is one map-side-combined groupBy on batch_id"),
      "d27_seq_packing" -> ("sequence packing: NO single-partition global " +
        "window anywhere — the plan is range exchange + Scan ExistingRDD " +
        "(localCheckpoint'd frozen partitioning) feeding the two " +
        "prefix-sum passes; the final orderBy is display-only"),
      "g1_pagerank" -> ("PageRank iteration: the final round's plan is " +
        "constant-size — Scan ExistingRDD (localCheckpoint'd rank vector) " +
        "joined to the persisted outdegree'd edge table, ONE " +
        "hashpartitioning(dst) exchange for the contribution agg, one id " +
        "join back; lineage never grows with iteration count"),
      "d24_chunking" -> ("token-window chunking: one Generate (explode of " +
        "sequence) inside a single WholeStageCodegen scan-project span — " +
        "slice/array_join/md5 all codegen'd, zero exchanges; the only " +
        "shuffle in the plan is the display-only orderBy"),
      "d15_contamination" -> ("decontamination: distinct (doc, gram) inverted " +
        "index; the DISTINCT benchmark gram set is broadcast (tiny vs corpus " +
        "at scale) so candidates never shuffle by gram"),
      "r39_curvature" -> ("ZT curvature: one cellId halo exchange " +
        "(Stencil.padded) -> typed 3x3 kernel; identical single-shuffle shape " +
        "as r8/r30"),
      "r57_line2surface" -> ("composed line->surface: station generation is " +
        "a flatMap over the cross-line table (descriptor rows only), the " +
        "surface rides the r20 bucketed-Delaunay escalation plan, and the " +
        "bankline clip is the r12 Z-range tile prune + PIP mask — nothing " +
        "collects to the driver at any stage"),
      "q17_exact_quantiles" -> ("exact quantiles via the value histogram: " +
        "(flag, v) hash agg -> window over DISTINCT values only (50 rows " +
        "per group, never a row-level global sort) -> broadcast 3-row " +
        "quartile table -> partial/final contribution agg"),
      "d31_weighted_sample" -> ("weighted systematic sampling: the d27 " +
        "prefix-sum shape verbatim — range exchange + Scan ExistingRDD " +
        "(frozen partitioning), per-partition offset pass, then a " +
        "codegen'd first-multiple filter; no global window, no driver " +
        "rows"),
      "r59_spatial_autocorr" -> ("spatial autocorrelation: rook pairs as " +
        "ONE shuffled equi-join of the valid-cell table against its 4 " +
        "shifted copies on (row, col) — uniform key, no skew — feeding " +
        "two partial/final aggs; the Moran/Geary assembly is driver " +
        "BigDecimal over 7 longs"),
      "m7_mixture_sample" -> ("mixture sampling: the grouped prefix-sum " +
        "shape — ONE range exchange on (source, id) + Scan ExistingRDD " +
        "(frozen partitioning); per-source offsets assemble from " +
        "#groups + #partitions driver longs, the per-source step rides " +
        "a broadcast map, and the pick filter is the shared systematic " +
        "rule — no window, no join, no per-group job"),
      "d32_novelty" -> ("n-gram novelty: distinct (hash, doc) pairs -> " +
        "min-doc_id per gram (map-side combined) -> one equi-join back " +
        "on the 8-byte gram hash; the d19 bound-array discipline keeps " +
        "the gram pass one codegen'd projection and nothing wider than " +
        "(hash, doc_id) ever shuffles"),
      "q19_gap_fill" -> ("forward fill: ONE hashpartitioning(user_id) " +
        "exchange feeding a running last(ignoreNulls) frame — streaming " +
        "window state per user, no self-join, no sort beyond the " +
        "per-partition window sort"),
      "r46_pyramid" -> ("overview pyramid: declarative incremental level " +
        "aggs — level L's exchange carries 1/4 of level L-1's rows (a " +
        "geometric tail); intermediate levels are eagerly " +
        "localCheckpoint'd (Scan ExistingRDD in branches L+1) so each " +
        "level computes ONCE however many consumers, with blocks released " +
        "on GC rather than pinned in the CacheManager, and every agg " +
        "keeps the partial/final split inside whole-stage codegen"),
      "r61_sat_boxstats" -> ("summed-area table: payloads NEVER shuffle — " +
        "stage 1 emits per-tile marginal vectors (~1/256 of payload " +
        "bytes), three narrow grouped prefix scans (per tile-column, per " +
        "tile-row, two scalar corner passes) and ONE cellId equi-join " +
        "home; each box query is 4 signed corner probes equi-joined on " +
        "the owning tile id — O(1) lookups at any radius"),
      "r62_tpi_landform" -> ("multi-scale TPI: a single SAT pass serves " +
        "BOTH radii (4 and 16) as 4-corner probe joins; the landform " +
        "rollup is a partial/final hash agg over scaled-integer TPIs " +
        "(v*n - box_sum vs threshold*n — no float mean ever forms)"),
      "q22_incremental_read" -> ("icelite changelog: pruning is " +
        "METADATA-ONLY (reference-carried manifest paths are never " +
        "scanned) -> ONE full-outer cellId equi-join over the changed " +
        "files only; typing + the update pre/post pair explode happen " +
        "in a single projection, content-equal carries drop on the " +
        "null-safe struct compare"),
      "r63_cost_backlink" -> ("cost backlink: ONE halo exchange over the " +
        "already-converged distance tiles joined to the cost halo on " +
        "cellId — the exact-witness argmin stays in the typed kernel; " +
        "no iteration, no driver state"),
      "r64_cost_path" -> ("least-cost path: pointer-doubling list " +
        "ranking — the final plan unions log(pathLen) localCheckpoint " +
        "rounds, each ONE equi-join of the path prefix against the " +
        "doubled jump table; no per-step driver walk, no path cell " +
        "collected"),
      "e11_recall_eval" -> ("recall eval harness: the IVF plan (broadcast " +
        "centroid probe + inverted-list equi-join) and the brute plan " +
        "(tiny-broadcast BNLJ, the labeled exact-oracle shape) feed two " +
        "partial/final count aggs joined per query — the eval is " +
        "join-shaped, never a collect"),
      "m8_hard_negatives" -> ("hard-negative mining: ONE join under the " +
        "composite id/label-inequality predicate + per-anchor window " +
        "top-k — the exact-eval shape; the scale path is e7's filtered " +
        "list scan with the complement predicate"),
      "r65_multidir_hillshade" -> ("multidirectional hillshade: the four " +
        "sqrt-only shade chains are codegen'd Columns over the halo " +
        "gradient kernel — ONE whole-stage span after the exchange, no " +
        "second kernel, no extra shuffle"))

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence (`.explain(\"formatted\")`)\n\n")
    sb.append("Generated by `graft.Plans` on the gated queries; regenerate with\n")
    sb.append("`sbt \"runMain graft.Plans /root/testdata/sf0.01 PLANS.md\"`.\n\n")
    SparkEntry.select(picks.map(_._1)).zip(picks.map(_._2)).foreach { case (g, why) =>
      val df = g.run(spark, sfDir)
      sb.append(s"## ${g.name}\n\n$why\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("\n```\n\n")
    }
    sb.append(appendix)
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }

  /** Prose audits for operators whose plans are typed mapPartitions
    * chains (shuffle structure matters, not plan text) — kept here so
    * regeneration is idempotent. */
  private val appendix: String =
    """## Flow suite (r24-r29): shuffle structure, not plan text
      |
      |The hydrology operators are typed condensation pipelines (Dataset
      |kernels), so their physical plans are mapPartitions chains; what matters
      |for scale is the shuffle structure, audited here:
      |
      |- **r24 flowDir / r30 terrainIndices / r39 curvature / r40 aspect**:
      |  exactly one shuffle — the `Stencil.padded` halo exchange keyed by
      |  cellId (volume ~ 4/2^res of payload: only 1-px tile borders move).
      |  The kernel is a tight JVM loop per tile (r40's sector logic is pure
      |  Column expressions over the r8 gradient — one codegen span); no
      |  further exchange before the write.
      |- **r25 flowAcc / r26 watershed / r28 flowlength / r37 hand /
      |  r38 strahler**: halo exchange -> per-tile local solve -> driver
      |  condensed solve over CROSSING EDGES ONLY (O(perimeter) rows,
      |  while they fit the DriverGate byte budget; above it a
      |  distributed peel or pointer doubling) -> broadcast of resolved
      |  seeds (same O(perimeter) size) -> second per-tile pass. Two passes
      |  over the cached padded tiles; zero per-cell shuffle.
      |- **r27 streams**: one equi-join (row, col) of the r25 and r24 outputs —
      |  sort-merge/hash on 32 partitions; the acc >= threshold filter runs
      |  BEFORE the join (selectivity ~1% of cells), so the join input is the
      |  channel skeleton, not the full raster.
      |- **r29 fillSinks / r33 conditioned routing**: halo exchange -> per-tile
      |  spill graph (O(perimeter) rows) -> minimax-to-drain solve on the driver
      |  while the border cells fit the DriverGate byte budget (above it, per-tile
      |  rounds of messages over cross-tile edges, each moving O(perimeter) rows)
      |  -> each tile's terminal fills (a broadcast, or an equi-join when
      |  distributed) -> one seeded re-flood per tile. Two passes over the
      |  cached padded tiles; zero per-cell shuffle.
      |
      |
      |## d11_repetition: zero-shuffle per-row repetition stats
      |
      |Plan audit (sf0.001, formatted; identical shape at any SF):
      |
      |```
      |AdaptiveSparkPlan
      |+- Sort (final orderBy only)
      |   +- Exchange rangepartitioning(doc_id)   <- presentation sort, not compute
      |      +- Project  <- ALL of it: split -> shingles -> array_sort ->
      |      |             run-length `aggregate` lambdas (top2_cnt, dup3_occ)
      |      |             and the two exact-int divisions
      |      +- Scan parquet ReadSchema: struct<doc_id:bigint,text:string>
      |```
      |
      |One scan, one projection, zero data-dependent shuffle: the Gopher-style
      |multiplicity statistics come from run lengths over per-row SORTED shingle
      |arrays (TextOps.maxRunLength / dupOccurrences), not from a
      |groupBy(doc, gram) — at 100 TB the groupBy formulation would shuffle
      |every shingle occurrence of the corpus; this shuffles nothing and keeps
      |the whole kernel inside one whole-stage-codegen'd Project. Column pruning
      |confirmed: the scan reads only (doc_id, text).
      |
      |d14_pii_scrub and d16_stratified_sample share this shape: one scan, one
      |codegen'd Project (regexp counts/replaces; md5-bucket filter), the only
      |exchange is the presentation sort. d17_curation composes three audited
      |shapes end to end: codegen'd gate Project -> ONE hashpartitioning(sig)
      |exchange for the keeper window -> partial/final hash agg on the strata.
      |q9 is a single WindowExec over one hashpartitioning(user) exchange
      |(running frames stream); q10 is Expand -> partial/final hash agg.
      |
      |## r41 viewshed / e3 PQ / e4 IVF-PQ: typed-kernel shapes
      |
      |- **r41 viewshed**: observers explode driver-side to window-cover
      |  DESCRIPTORS (O(obs x window/tile_area) ids, never pixels); tiles
      |  equi-join the cover on cellId — one shuffle of the overlapping
      |  window payloads — then groupByKey(observer) assembles each window
      |  executor-side for the O(R^2 x R) LOS kernel. Linear in observers;
      |  dense-observer sweeps would want the shared-tile XDraw family
      |  (documented out of scope).
      |- **e3 PQ**: training = per-iteration ONE pass emitting (subspace,
      |  code) partial sums (groupByKey over m*ksub keys); codebooks are a
      |  few KB, broadcast. Serving scans m-BYTE codes (16x less than raw
      |  floats at dim 64) against broadcast per-query ADC tables; the
      |  shortlist is a window top-L on (adc, vid); raw vectors re-attach by
      |  id equi-join for shortlist survivors only.
      |- **e4 IVF-PQ**: e3's scan additionally prunes by the probe set
      |  (cluster-id filter against the broadcast probe map) — per query it
      |  touches O(N * nProbe / nlist) codes; everything else is the e3
      |  plan. The composition multiplies both savings: which vectors
      |  (lists) times how much per vector (codes).
      |
      |## d13_tfidf: broadcast vocabulary + WindowGroupLimit top-k
      |
      |```
      |Sort <- presentation
      |+- Window (row_number)                        <- final rank
      |   +- WindowGroupLimit (rank <= 3)            <- Spark 4 group-limit
      |      +- Sort [doc_id, score DESC, tok]          pushdown: each doc's
      |         +- Exchange hashpartitioning(doc_id)    partition keeps only
      |            +- WindowGroupLimit (partial)        top-3 BEFORE the
      |               +- Sort (partial, per input part) exchange — map-side
      |                  +- Project [score = cnt/df]    top-k, like partial agg
      |                     +- BroadcastHashJoin (df)   <- vocabulary broadcast
      |                        :- InMemoryTableScan (cnt: persisted term counts,
      |                        :    computed once, feeds df agg AND the join)
      |                        +- BroadcastExchange (df: groupBy(tok) over cnt)
      |```
      |
      |The term-count aggregate is map-side-combined (partial HashAggregate
      |before its exchange); the vocabulary df table is tiny -> broadcast; and
      |Spark's WindowGroupLimit applies the rank<=3 limit on the map side, so
      |the doc_id exchange carries at most 3 rows per (doc, input partition) —
      |the per-doc top-k never shuffles full posting lists.
      |
      |## i4_phash_neardup: banded perceptual join (shares the d5 plan)
      |
      |i4 reuses `TextOps.simhashNearPairs` verbatim on (image_id, phash64 of
      |the DECODED bytes), so its plan is the audited d5 shape: typed decode
      |mapPartitions -> chunk explode -> df-cap aggregate -> equi-join on
      |(chunk_idx, chunk_value) postings persisted once across both sides ->
      |dropDuplicates -> exact bit_count verify. Never an O(N^2) cartesian; the
      |only new stage vs d5 is the executor-side PNG decode + phash kernel.
      |
      |## Focal family (r43/r44/r47), cost distance (r45), s4 stream join
      |
      |Typed-kernel shapes (groupByKey descriptor shuffles, not plan text):
      |
      |- **r43 focal (n, sum) / r44 focal min-max**: TWO descriptor shuffles
      |  (group by ROW, then by COLUMN) regardless of window size k — the
      |  rectangle separates, so each pass does O(k)/cell (r43) or O(1)/cell
      |  amortized via the monotone deque (r44). Exact Long arithmetic makes
      |  both passes order-free; a float focal sum would be plan-dependent
      |  in its low bits. Caveat: a 10^6-px single row is one group — line
      |  bands, like the distance transform, want band-splitting beyond
      |  ~10^7-px rows.
      |- **r47 focal median**: median does not separate; each cell
      |  replicates to its 2k+1 destination rows (ONE shuffle, x(2k+1)
      |  descriptor volume, k single-digit), each row group sorts its own
      |  (2k+1) x ncols band. No driver state.
      |- **r45 cost distance**: per ROUND one halo exchange of the current
      |  distance plane + one cellId equi-join against the persisted padded
      |  cost tiles; each round is an EXACT tile-local Dijkstra, rounds
      |  bounded by inter-tile crossings of optimal paths (fixture: 3-4;
      |  monotone non-increasing estimates give termination detection via a
      |  changed count). Same localCheckpoint discipline as r29 — constant
      |  plan size however many rounds run. No global priority queue, no
      |  per-cell driver state.
      |- **s4 stream-stream interval join**: both sides keyed
      |  hashpartitioning(user_id) into the symmetric state store; the
      |  time-range condition (c_ts <= p_ts <= c_ts + 30min) is what bounds
      |  state — click rows evict when the purchase watermark passes
      |  c_ts + 30min, so state is O(window x arrival rate), never O(N).
      |  Inner matches emit immediately (no watermark lag on emission).
      |
      |
      |## r53/r54/i6: composite and per-image shapes (round-4 additions)
      |
      |- **r53 wetness (TWI/SPI)**: ONE row/col sort-merge/hash equi-join of two
      |  already-audited operators — the r25 flow-accumulation condensation
      |  (descriptor-only crossing-edge solve) and the r8 halo-exchange Horn
      |  gradient. The arithmetic layer (sca/slope/spi/twi_arg) is a single
      |  whole-stage-codegen span over the join output; no new kernel, no new
      |  shuffle beyond the join itself. At 100 TB both inputs are tile-bounded
      |  descriptor streams keyed by (row, col) band, so the join inherits the
      |  partitioning already used by each side's finalize stage.
      |- **r54 edit-DEM (the tutorial pipeline)**: pruned clip scan (cellId
      |  cover predicate pushed into the icelite manifest) -> attribute burn
      |  join (broadcast: 4 features) -> left join onto clipped cells -> one
      |  partial/final hash agg over 16-row bands. The whole reference notebook
      |  is one Spark job with one shuffle (the band group-by); the burn side
      |  never exceeds the feature cover, so the plan is scan-bound at scale.
      |- **i6 image quality gates**: scan -> per-image executor kernel
      |  (fixed-point contrast/texture/L1-gradient stats, all-Long) -> write.
      |  ZERO shuffle, no driver state; at 10^12 images the job is
      |  embarrassingly parallel and bounded by decode bandwidth. The oracle
      |  replicates the gradient sums by the mod-1000 neighbor-wrap rule, so
      |  the gate covers the decode + kernel path end to end.
      |
      |## d20/d21/s6: dedup + streaming shapes (round-4 additions)
      |
      |- **d20 semantic dedup (SemDeDup)**: broadcast k-means assignment (driver
      |  state = k centroids, k ~ sqrt(N)) -> ONE shuffle on the cluster id ->
      |  within-cluster self-join whose per-list work is O((N/k)^2), exactly the
      |  IVF inverted-list bound — never a corpus-all-pairs product. The cosine
      |  is the shared codegen'd zip_with/aggregate expression; the removal
      |  EXISTS reduces to a distinct + left join on vid. At 10^12 embeddings
      |  the cluster lists are the same objects the e2/e4 ANN queries partition
      |  by, so the pairing can ride the sign-LSH band join (d8) inside each
      |  list when lists outgrow quadratic comfort — same plan, one more
      |  pre-filter.
      |- **d21 bloom incremental dedup**: the corpus index folds to a Bloom
      |  filter via ONE treeAggregate (driver holds `1.2 * n * ln(1/fpp)` bits,
      |  never signatures); the filter broadcasts to the incoming scan where a
      |  per-row probe splits provably-new rows (bloom-negative, skip the
      |  shuffle entirely) from candidates (true dups + ~fpp false positives)
      |  that alone reach the LEFT ANTI sig shuffle. At a 1% dup rate the
      |  anti-join probe volume drops ~99%; correctness is unchanged (no false
      |  negatives; positives re-verified) so d18's oracle gates the whole
      |  mechanism.
      |- **s6 stream-static enrichment**: the static dimension is planned as a
      |  per-batch BROADCAST into each micro-batch — stream-static inner joins
      |  are STATELESS (no join state store at all); the only streaming state is
      |  the downstream watermarked window aggregate's, identical to s1. At
      |  scale the dimension is the curated user/source table: broadcast when
      |  small, or a shuffled equi-join keyed like any batch join when not —
      |  either way no state growth with stream length.
      |- **d22 source rollup**: two shuffles total — the sig window (compact
      |  md5 keys) marks per-doc duplication, then one partial/final hash agg
      |  rolls up to sources. The keep rule is an integer compare
      |  (n_dup * 5 <= n_docs), no float thresholds to drift cross-engine.
      |- **e5 kNN classify**: the vote layer is a tiny (qid, label) groupBy +
      |  row_number over at most k rows per query — its cost is the neighbour
      |  search's, which at scale is the e2/e4 shortlist, not the brute oracle
      |  path used for the gate.
      |- **q12 set ops**: INTERSECT/EXCEPT compile to hash-aggregate + one
      |  shuffle on user_id each (semi/anti after dedup); the union of the two
      |  labeled branches adds no extra shuffle.
      |- **i7 augmentation / a2 trim / v2 scene cuts**: all three are per-item
      |  executor kernels (decode -> transform -> integer descriptors), ZERO
      |  shuffle, no driver state — the i6/v1 shape; at 10^12 items each is
      |  embarrassingly parallel and decode-bandwidth-bound. The gates are
      |  integer-exact (weighted checksums / energies / SADs), so thresholds
      |  carry no cross-engine float risk.
      |
      |## Round-5 final additions (i10/a5/g4/q18)
      |
      |- **i10 histogram equalization / a5 VAD segmentation**: per-item
      |  executor kernels (PNG decode -> per-image <=1000-bin histogram ->
      |  exact floor-division CDF remap; RIFF decode -> window energies ->
      |  loud-island scan) — ZERO shuffle, the i6/a2 embarrassingly-parallel
      |  shape; every emitted statistic is a Long, so the gates carry no
      |  cross-engine float risk.
      |- **g4 k-core**: each peel round is ONE explode+groupBy degree agg
      |  (map-side combined) and TWO LEFT ANTI joins of the edge table
      |  against the just-peeled id set; localCheckpoint truncates lineage
      |  every round (the g1 discipline) so the final round's plan is Scan
      |  ExistingRDD -> degree agg regardless of peel depth. Driver sees one
      |  Long per round (the convergence counter), never ids.
      |- **q18 snapshot travel**: both pinned reads are explicit
      |  manifest-file-list parquet scans (no directory listing, no
      |  current-pointer dependence), so the snap-1 plan references the
      |  original data files byte-for-byte AFTER the upsert; the COW upsert
      |  itself rewrites only the touched buckets and carries every other
      |  file into the new manifest by reference.
      |- **e10 k-means / a6 rate convert / v5 fps resample / s9 ingest**:
      |  e10's per-round plan is the canonical training loop — broadcast of
      |  k centroid vectors + one groupByKey partial-sum per Lloyd round
      |  (driver holds k means, never points); a6/v5 are per-item executor
      |  kernels (zero shuffle, the a3/v1 shape); s9 drives the REAL
      |  Structured Streaming AvailableNow machinery into the icelite
      |  commit path — per batch: dedup groupByKey + the bucketed
      |  dynamic-partition-overwrite write, source offsets checkpointed so
      |  a second drain commits nothing.
      |
      |

      |""".stripMargin
}
