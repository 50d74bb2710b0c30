package graft
package gated

import org.apache.spark.sql.functions._
import graft.core.Owned
import graft.corpus.ImageCorpus
import Fixtures.{corpusTable, phashedPerceptual, i4PairCtes, i6QualitySql}

/** Image gates (i): codec invariants, resize, augmentation, patchify,
  * pixel stats, equalization and perceptual-hash dedup over the synthetic
  * image+caption corpus. Oracles rebuild each image's pixel codes by the
  * corpus formula in SQL. */
object ImageGates {

  val gated: Seq[GatedQuery] = Seq(
    // image corpus invariants: decode + PSNR + caption lineage + phash dups
    // (rows-only gate — DuckDB cannot decode PNG/JPEG)
    GatedQuery("i1_image_invariants", (s, _) => {
      import s.implicits._
      val n = 64L
      val gridW = 8
      val corpus = ImageCorpus.generate(s, n, gridW)
      val decoded = ImageCorpus.decodeTiles(corpus, gridW)
      val checks = decoded.map { t =>
        val i = t.imageId.stripPrefix("img-").toLong
        val src = if (i > 0 && i % 251 == 0) i - 1 else i
        val tx = (src % gridW).toInt
        val ty = (src / gridW).toInt
        val fmt = ImageCorpus.fmtOf(src)
        val truth = ImageCorpus.tilePayload(tx, ty).map { v =>
          if (fmt == "png") Math.rint(v * graft.codecs.ImageCodec.PngScale) / graft.codecs.ImageCodec.PngScale
          else Math.rint(v * graft.codecs.ImageCodec.JpgScale) / graft.codecs.ImageCodec.JpgScale
        }
        val p = graft.codecs.ImageCodec.psnr(t.payload, truth, 60.0)
        val captionOk = t.caption == s"tile $tx,$ty of synthetic terrain; seed=42; fmt=$fmt"
        (fmt, p, captionOk)
      }.toDF("fmt", "psnr", "caption_ok")
      // Oracle-gated as the north-star INVARIANTS: every row must clear
      // PSNR >= 40 dB (lossy gate), every png must round-trip exactly
      // (psnr = inf), every caption must propagate byte-equal — the raw
      // PSNR value itself is decoder-specific (JVM JPEG) and excluded;
      // the DuckDB side derives the fmt layout from the corpus rules and
      // asserts the invariant counts equal n per fmt.
      checks.groupBy($"fmt").agg(
        count(lit(1)).as("n"),
        sum(when($"psnr" >= 40.0, 1L).otherwise(0L)).as("n_psnr40_ok"),
        sum(when($"psnr" === Double.PositiveInfinity, 1L).otherwise(0L)).as("n_exact"),
        sum(when($"caption_ok", 1L).otherwise(0L)).as("n_caption_ok"))
        .orderBy($"fmt")
    },
      // i1: north-star invariant counts regenerated from the corpus layout
      // rules (ImageCorpus.rowOf): fmt cycles jpg on i % 4 == 3 (the
      // duplicate rule i % 251 == 0 never fires below i = 251, so src = i
      // for n = 64). The invariants themselves — every row PSNR >= 40 dB,
      // every png round-trips bit-exactly (psnr = inf), every caption
      // propagates byte-equal — are what the engine must prove; raw PSNR
      // values are decoder-specific and deliberately excluded. The oracle
      // pins jpg n_exact = 0 on purpose: a jpg tile round-tripping
      // bit-exactly would mean the fixture stopped exercising the lossy
      // path, and the gate failing IS the desired signal there.
      """WITH r AS (
        |  SELECT CASE WHEN t.i % 4 = 3 THEN 'jpg' ELSE 'png' END AS fmt
        |  FROM range(64) t(i))
        |SELECT fmt, count(*) AS n, count(*) AS n_psnr40_ok,
        |  CAST(CASE WHEN fmt = 'png' THEN count(*) ELSE 0 END AS BIGINT) AS n_exact,
        |  count(*) AS n_caption_ok
        |FROM r GROUP BY fmt ORDER BY fmt""".stripMargin),

    // Image resize pipeline op: decode -> bilinear half-resolution resize
    // (per-image kernel, no shuffle) -> deterministic integer stats of the
    // resized plane (rows-only: no SQL-engine image decode; kernel parity
    // is ScalaTest-gated against linear-ramp/constant/hand oracles)
    GatedQuery("i2_image_resize", (s, _) => {
      import s.implicits._
      // Oracle-gated: the exact corpus's decoded pixels are code/64 with
      // integer codes, so half-res bilinear output * 256 is EXACTLY the
      // 2x2 code-block sum — an integer reproducible by formula in DuckDB
      // without any image codec. The PNG encode -> decode -> resize path
      // on the Spark side is still the real one.
      val corpus = ImageCorpus.generateExact(s, 64L, 8)
      ImageCorpus.decodeTiles(corpus, 8).map { t =>
        val w2 = t.w / 2; val h2 = t.h / 2
        val rs = graft.codecs.ImageCodec.resizeBilinear(t.payload, t.w, t.h, w2, h2)
        var qsum = 0L; var nan = 0L
        var i = 0
        while (i < rs.length) {
          if (rs(i).isNaN) nan += 1
          else qsum += Math.rint(rs(i) * 256.0).toLong
          i += 1
        }
        (t.imageId, w2, h2, qsum, nan)
      }.toDF("image_id", "w2", "h2", "qsum", "nan_px")
        .orderBy($"image_id")
    },
      // i2: decoded exact-corpus pixels are code/64 with integer codes, so
      // the half-res bilinear output * 256 is exactly the 2x2 code-block
      // sum — regenerated here by formula, no image codec needed.
      """WITH px AS (
        |  SELECT t.i AS i,
        |    (((t.i // 8) * 256 + 2 * r.r + dr.d) * 31
        |     + ((t.i % 8) * 256 + 2 * c.c + dc.d) * 17) % 1000 AS code
        |  FROM range(64) t(i), range(128) r(r), range(128) c(c),
        |       range(2) dr(d), range(2) dc(d))
        |SELECT 'img-' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
        |  128 AS w2, 128 AS h2,
        |  CAST(sum(code) AS BIGINT) AS qsum, CAST(0 AS BIGINT) AS nan_px
        |FROM px GROUP BY i ORDER BY image_id""".stripMargin),

    // Phash-bucketed exact-duplicate detection over the image+caption
    // corpus — the north-star table's phash:int64 column as the candidate
    // key. Candidate pairs come from an equi-join on the 8-byte perceptual
    // hash carrying only (image_id, phash, md5-of-bytes); the encoded
    // payloads never shuffle, and a pair survives only on exact content
    // equality (md5 digest match). At 10^12 rows the plan holds: the join
    // key is fixed-width, hot phash buckets are bounded by the true
    // duplicate rate, and perceptual-but-not-byte collisions drop in the
    // digest predicate instead of surfacing as false duplicates. The
    // input is a MATERIALIZED parquet corpus table (corpusTable), so the
    // query reads phash/bytes off storage like the production job; at
    // 10^12 rows, additionally materialize the narrow (id, phash,
    // digest) projection first so the binary column is scanned and
    // hashed exactly once before the self-join.
    // Oracle: the planted duplicates are closed-form (ImageCorpus.rowOf
    // re-emits payload i-1 when i % 251 == 0), so DuckDB regenerates the
    // expected pair list from the rule alone.
    GatedQuery("i3_phash_dedup", (s, _) => {
      import s.implicits._
      val corpus = corpusTable(s)
      val sig = corpus.select($"image_id", $"phash", md5($"bytes").as("digest"))
      sig.as("a").join(sig.as("b"),
          $"a.phash" === $"b.phash" && $"a.digest" === $"b.digest" &&
            $"a.image_id" < $"b.image_id")
        .select($"a.image_id".as("id_a"), $"b.image_id".as("id_b"))
        .orderBy($"id_a")
    },
      // i3: the planted byte-identical duplicates are exactly the rows where
      // the corpus duplicate rule fired (i % 251 == 0, i > 0 — each re-emits
      // payload i-1 under a new id, same fmt), so the expected pair list is
      // closed-form; distinct tile payloads never byte-collide (the terrain
      // field's periods are irrational in pixel units) and perceptual-only
      // phash collisions are filtered by the digest predicate engine-side.
      """SELECT 'img-' || lpad(CAST(i - 1 AS VARCHAR), 8, '0') AS id_a,
        |  'img-' || lpad(CAST(i AS VARCHAR), 8, '0') AS id_b
        |FROM range(1024) t(i) WHERE i > 0 AND i % 251 = 0
        |ORDER BY id_a""".stripMargin),

    GatedQuery("i4_phash_neardup", (s, _) => {
      import s.implicits._
      import graft.codecs.ImageCodec
      val sig = phashedPerceptual(s)
      graft.text.TextOps.simhashNearPairs(sig, maxHamming = 6)
        .select(format_string("img-%08d", $"ia").as("id_a"),
          format_string("img-%08d", $"ib").as("id_b"),
          $"hamming".cast("long").as("hamming"))
        .orderBy($"id_a", $"id_b")
    },
      // i4: the FULL perceptual-hash kernel replicated in SQL — block codes
      // K(i,b) by formula (incl. the i%167 near-dup plant), phash bit b =
      // 64*K(i,b) > sum_b K(i,b) (pure integer comparison — payloads are
      // block-constant dyadic rationals, see ImageCorpus.perceptualCode),
      // hamming over all pairs, threshold <= 6. No separation assumption:
      // whatever pair set the formula implies, both engines must agree.
      s"""WITH $i4PairCtes
        |SELECT 'img-' || lpad(CAST(ia AS VARCHAR), 8, '0') AS id_a,
        |  'img-' || lpad(CAST(ib AS VARCHAR), 8, '0') AS id_b,
        |  CAST(hamming AS BIGINT) AS hamming
        |FROM ham WHERE hamming <= 6 ORDER BY id_a, id_b""".stripMargin),

    // PERCEPTUAL near-dup join over the image corpus: decode -> phash64
    // -> pigeonhole-banded hamming<=6 join (the same shuffled equi-join
    // scale shape as d5 — never the O(N²) cartesian). Input is the
    // materialized perceptual corpus (ImageCorpus.generatePerceptual):
    // block-constant payloads make every phash bit the integer
    // comparison 64*K(i,b) > sum_b K(i,b), so DuckDB regenerates all
    // hashes AND hamming distances from the closed-form block codes —
    // the full kernel is oracle-replicated, planted near-dups
    // (i % 167 == 0 re-emits i-1 with blocks 0,1 raised) and any
    // chance pair alike. phash is recomputed from the DECODED bytes on
    // executors (not the stored column) so the gate covers the decode
    // path too.
    // Image dedup CLUSTERING: connected components over the i4 perceptual
    // near-dup pair graph, each image mapped to its component's min-id
    // keeper — the d10 step for the multimodal corpus (same GraphOps
    // hybrid: descriptor-only label propagation, never payload shuffles)
    GatedQuery("i5_image_dedup_components", (s, _) => {
      import s.implicits._
      import graft.codecs.ImageCodec
      val sig = phashedPerceptual(s)
      val pairs = graft.text.TextOps.simhashNearPairs(sig, maxHamming = 6)
        .select($"ia", $"ib")
      graft.operators.GraphOps.components(pairs, "ia", "ib")
        .select(format_string("img-%08d", $"node").as("image_id"),
          format_string("img-%08d", $"root").as("keeper_id"))
        .orderBy($"keeper_id", $"image_id")
    },
      // i5: dedup clustering over the i4 near-dup pair graph — recursive
      // closure over the same CTEs, keeper = min image id per component
      s"""WITH RECURSIVE $i4PairCtes,
        |p AS (SELECT ia, ib FROM ham WHERE hamming <= 6),
        |e AS (SELECT ia AS n, ib AS m FROM p UNION ALL SELECT ib, ia FROM p),
        |reach(n, lbl) AS (
        |  SELECT n, n FROM (SELECT DISTINCT n FROM e) t
        |  UNION
        |  SELECT e.m, reach.lbl FROM reach JOIN e ON e.n = reach.n)
        |SELECT 'img-' || lpad(CAST(n AS VARCHAR), 8, '0') AS image_id,
        |  'img-' || lpad(CAST(min(lbl) AS VARCHAR), 8, '0') AS keeper_id
        |FROM reach GROUP BY n ORDER BY keeper_id, image_id""".stripMargin),

    // Image quality curation gates: real PNG decode -> per-image
    // fixed-point quality kernel (contrast span, distinct-code texture
    // count, L1 gradient energy as the blur/sharpness proxy) -> keep
    // verdict — the pre-training image filters (drop solid-fill /
    // low-contrast / blurred junk). Per-image executor kernel, zero
    // shuffle: at 10^12 rows the job is one scan -> map -> write.
    // Oracle: the exact corpus decodes to closed-form integer codes
    // (code = (gr*31+gc*17) % 1000, payload = code/64), so DuckDB
    // regenerates every statistic — including both gradient sums via the
    // mod-1000 wrap rule — without an image codec; the engine side still
    // runs the real encode -> decode -> kernel path.
    GatedQuery("i6_image_quality", (s, _) => {
      import s.implicits._
      val corpus = ImageCorpus.generateExact(s, 64L, 8)
      ImageCorpus.decodeTiles(corpus, 8).map { t =>
        val q = graft.codecs.ImageCodec.qualityStats(t.payload, t.w, t.h)
        (t.imageId, q.qMin, q.qMax, q.qMax - q.qMin, q.nDistinct, q.gradL1,
          q.qMax - q.qMin >= 64L && q.nDistinct >= 16L)
      }.toDF("image_id", "q_min", "q_max", "q_span", "n_distinct",
          "grad_l1", "keep")
        .orderBy($"image_id")
    },
      // i6: codes regenerate by formula; within an image the horizontal
      // neighbor code is (q+17) mod 1000 and the vertical (q+31) mod 1000,
      // so each |Δ| is 17 (983 on wrap, q >= 983) resp. 31 (969 on wrap,
      // q >= 969) — the gradient sums collapse to one scan, no self-join
      i6QualitySql),

    // Image AUGMENTATION kernels (flip / rotate / center-crop) — the
    // training-data transform stage: decode -> per-image permutation /
    // selection kernels -> position-WEIGHTED integer checksums, so the
    // gate proves the exact pixel permutation (a plain sum is
    // permutation-invariant and would pass a broken flip). Zero shuffle;
    // DuckDB replicates the checksums from the exact corpus's closed-form
    // codes. At 10^12 images this is embarrassingly parallel, bounded by
    // decode bandwidth like i6.
    GatedQuery("i7_image_augment", (s, _) => {
      import s.implicits._
      val corpus = ImageCorpus.generateExact(s, 64L, 8)
      ImageCorpus.decodeTiles(corpus, 8).map { t =>
        def wsum(p: Array[Double]): Long = {
          var acc = 0L; var i = 0
          while (i < p.length) {
            acc += i.toLong * Math.rint(p(i) * 64.0).toLong; i += 1
          }
          acc
        }
        def qsum(p: Array[Double]): Long = {
          var acc = 0L; var i = 0
          while (i < p.length) { acc += Math.rint(p(i) * 64.0).toLong; i += 1 }
          acc
        }
        val fl = graft.codecs.ImageCodec.flipH(t.payload, t.w, t.h)
        val rt = graft.codecs.ImageCodec.rot90cw(t.payload, t.w, t.h)
        val cr = graft.codecs.ImageCodec.cropCenter(t.payload, t.w, t.h, 128, 128)
        (t.imageId, wsum(fl), wsum(rt), qsum(cr))
      }.toDF("image_id", "flip_wsum", "rot_wsum", "crop_qsum")
        .orderBy($"image_id")
    },
      // i7: the augmentation checksums from the closed-form exact-corpus
      // codes — flip/rot are position-weighted over the PERMUTED arrays
      // (substituted back to source coordinates), crop is the center
      // 128x128 selection
      """WITH px AS (
        |  SELECT t.i AS i, r.r AS r, c.c AS c,
        |    ((((t.i // 8) * 256 + r.r) * 31
        |      + ((t.i % 8) * 256 + c.c) * 17) % 1000) AS code
        |  FROM range(64) t(i), range(256) r(r), range(256) c(c))
        |SELECT 'img-' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
        |  CAST(sum((r * 256 + 255 - c) * code) AS BIGINT) AS flip_wsum,
        |  CAST(sum((c * 256 + 255 - r) * code) AS BIGINT) AS rot_wsum,
        |  CAST(sum(CASE WHEN r BETWEEN 64 AND 191 AND c BETWEEN 64 AND 191
        |       THEN code ELSE 0 END) AS BIGINT) AS crop_qsum
        |FROM px GROUP BY i ORDER BY image_id""".stripMargin),

    // ViT-style patchification — decode -> 16x16 patch grid (256 patches
    // per 256x256 image) with per-patch integer code sums/maxes. The
    // position-WEIGHTED patch checksum (sum of patch_idx x patch_sum)
    // gates the raster patch ORDER, the per-patch max gates the patch
    // GROUPING (a plain total would pass any pixel partition). Per-image
    // kernel, no shuffle.
    GatedQuery("i8_patchify", (s, _) => {
      import s.implicits._
      val corpus = ImageCorpus.generateExact(s, 64L, 8)
      ImageCorpus.decodeTiles(corpus, 8).map { t =>
        val patches = graft.codecs.ImageCodec.patchify(t.payload, t.w, t.h, 16)
        var wsum = 0L; var maxSum = 0L
        var pi = 0
        while (pi < patches.length) {
          val p = patches(pi)
          var psum = 0L; var pmax = 0L
          var j = 0
          while (j < p.length) {
            val code = Math.rint(p(j) * 64.0).toLong
            psum += code; if (code > pmax) pmax = code; j += 1
          }
          wsum += pi.toLong * psum; maxSum += pmax; pi += 1
        }
        (t.imageId, patches.length.toLong, wsum, maxSum)
      }.toDF("image_id", "n_patches", "patch_wsum", "sum_patch_max")
        .orderBy($"image_id")
    },
      // i8: the same patch grid from the closed-form exact-corpus codes —
      // patch idx = (r/16)*16 + c/16, grouped per (image, patch)
      """WITH px AS (
        |  SELECT t.i AS i, r.r AS r, c.c AS c,
        |    ((((t.i // 8) * 256 + r.r) * 31
        |      + ((t.i % 8) * 256 + c.c) * 17) % 1000) AS code
        |  FROM range(64) t(i), range(256) r(r), range(256) c(c)),
        |pp AS (SELECT i, (r // 16) * 16 + (c // 16) AS pidx,
        |    sum(code) AS psum, max(code) AS pmax
        |  FROM px GROUP BY 1, 2)
        |SELECT 'img-' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
        |  CAST(count(*) AS BIGINT) AS n_patches,
        |  CAST(sum(pidx * psum) AS BIGINT) AS patch_wsum,
        |  CAST(sum(pmax) AS BIGINT) AS sum_patch_max
        |FROM pp GROUP BY i ORDER BY image_id""".stripMargin),

    // Dataset PIXEL-NORMALIZATION statistics — the mean/std constants
    // every vision training pipeline computes over the full corpus
    // before training. Decode is the real PNG path; each image reduces
    // to one partial row (n, sum, sum_sq, min, max of the integer
    // codes), and a partial/final hash agg rolls the partials up per
    // shard (grid column) — the exact two-level shape a 10^12-image
    // corpus needs (no posexplode of pixels into the shuffle, ever).
    GatedQuery("i9_pixel_stats", (s, _) => {
      import s.implicits._
      val corpus = ImageCorpus.generateExact(s, 64L, 8)
      ImageCorpus.decodeTiles(corpus, 8).map { t =>
        val i = t.imageId.stripPrefix("img-").toLong
        var n = 0L; var sm = 0L; var sq = 0L
        var mn = Long.MaxValue; var mx = Long.MinValue
        var j = 0
        while (j < t.payload.length) {
          val c = Math.rint(t.payload(j) * 64.0).toLong
          n += 1; sm += c; sq += c * c
          if (c < mn) mn = c
          if (c > mx) mx = c
          j += 1
        }
        (i % 8, n, sm, sq, mn, mx)
      }.toDF("shard", "n", "sm", "sq", "mn", "mx")
        .groupBy($"shard")
        .agg(sum($"n").as("n_px"), sum($"sm").as("sum_code"),
          sum($"sq").as("sum_sq"), min($"mn").as("min_code"),
          max($"mx").as("max_code"))
        .orderBy($"shard")
    },
      // i9: the normalization constants straight from the closed-form
      // exact-corpus codes, grouped by grid column (shard = i % 8)
      """WITH px AS (
        |  SELECT t.i AS i,
        |    ((((t.i // 8) * 256 + r.r) * 31
        |      + ((t.i % 8) * 256 + c.c) * 17) % 1000) AS code
        |  FROM range(64) t(i), range(256) r(r), range(256) c(c))
        |SELECT CAST(i % 8 AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  CAST(sum(code) AS BIGINT) AS sum_code,
        |  CAST(sum(code * code) AS BIGINT) AS sum_sq,
        |  CAST(min(code) AS BIGINT) AS min_code,
        |  CAST(max(code) AS BIGINT) AS max_code
        |FROM px GROUP BY 1 ORDER BY shard""".stripMargin),

    // HISTOGRAM EQUALIZATION — the per-image contrast-normalization pass
    // an image pipeline runs before augmentation: real PNG decode ->
    // integer-code histogram -> exact floor-division CDF remap to 256
    // levels (ImageCodec.equalizeCodes). Per-row kernel over the decoded
    // plane: zero shuffle, embarrassingly parallel at 10^12 rows; the
    // histogram is per IMAGE (<= 1000 bins here, 2^20 hard bound), never
    // per partition. All-Long arithmetic end to end, so DuckDB
    // regenerates the equalized plane from the closed-form corpus codes
    // alone (window-sum CDF) and the per-image stats hash-match exactly.
    GatedQuery("i10_hist_equalize", (s, _) => {
      import s.implicits._
      import graft.codecs.ImageCodec
      val corpus = ImageCorpus.generateExact(s, 64L, 8)
      corpus.map { row =>
        val (px, _, _) = ImageCodec.decode(row.bytes, row.fmt)
        val codes = new Array[Int](px.length)
        var j = 0
        while (j < px.length) {
          codes(j) = Math.rint(px(j) * ImageCodec.PngScale).toInt
          j += 1
        }
        val eq = ImageCodec.equalizeCodes(codes, 256)
        var sm = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
        val seen = new java.util.BitSet(256)
        j = 0
        while (j < eq.length) {
          val e = eq(j); sm += e; seen.set(e)
          if (e < mn) mn = e
          if (e > mx) mx = e
          j += 1
        }
        (row.image_id, sm, seen.cardinality().toLong, mn, mx)
      }.toDF("image_id", "eq_sum", "n_levels", "eq_min", "eq_max")
        .orderBy($"image_id")
    },
      // i10: the exact CDF remap replicated in SQL — per-image histogram
      // over the closed-form codes, window-sum CDF ordered by code, cdfmin
      // = the smallest present code's cumulative count, then the same
      // floor division (all operands positive, so DuckDB // == the
      // engine's Long '/'); 65536 px per image, codes 0..999
      """WITH px AS (
        |  SELECT t.i AS i,
        |    ((((t.i // 8) * 256 + r.r) * 31
        |      + ((t.i % 8) * 256 + c.c) * 17) % 1000) AS code
        |  FROM range(64) t(i), range(256) r(r), range(256) c(c)),
        |hist AS (SELECT i, code, count(*) AS n FROM px GROUP BY 1, 2),
        |cdf AS (SELECT i, code, n,
        |    sum(n) OVER (PARTITION BY i ORDER BY code) AS cum FROM hist),
        |mn AS (SELECT i, min(cum) AS cdfmin FROM cdf GROUP BY i),
        |eq AS (SELECT c.i AS i, c.n AS n,
        |    ((c.cum - m.cdfmin) * 255) // (65536 - m.cdfmin) AS e
        |  FROM cdf c JOIN mn m ON c.i = m.i)
        |SELECT 'img-' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
        |  CAST(sum(e * n) AS BIGINT) AS eq_sum,
        |  CAST(count(DISTINCT e) AS BIGINT) AS n_levels,
        |  CAST(min(e) AS BIGINT) AS eq_min,
        |  CAST(max(e) AS BIGINT) AS eq_max
        |FROM eq GROUP BY i ORDER BY image_id""".stripMargin),

    // CORPUS-GLOBAL histogram equalization (i11) — the cross-image
    // contrast-normalization pass (one CDF for the whole dataset, so
    // relative brightness ACROSS images is preserved — i10's per-image
    // equalization deliberately destroys it). Scale shape: pixels never
    // shuffle — each image folds to (code, n) partials that map-side
    // combine into a <= 1000-row global histogram; the CDF remap is
    // driver-built over that bounded code domain and BROADCAST back for
    // the per-image remap pass. Same floor-division CDF rule as i10.
    GatedQuery("i11_global_equalize", (s, _) => Owned { own =>
      import s.implicits._
      import graft.codecs.ImageCodec
      val codes = own.reuse(ImageCorpus.generateExact(s, 64L, 8).map { row =>
        val (px, _, _) = ImageCodec.decode(row.bytes, row.fmt)
        val cs = new Array[Int](px.length)
        var j = 0
        while (j < px.length) {
          cs(j) = Math.rint(px(j) * ImageCodec.PngScale).toInt
          j += 1
        }
        (row.image_id, cs)
      })
      val hist = codes.flatMap { case (_, cs) =>
        val m = new Array[Long](1000)
        cs.foreach(c => m(c) += 1)
        m.iterator.zipWithIndex.collect { case (n, code) if n > 0 =>
          (code, n) }
      }.toDF("code", "n")
        .groupBy($"code").agg(sum($"n").as("n"))
        .as[(Int, Long)].collect().sortBy(_._1)
      val total = hist.map(_._2).sum
      val remap = new Array[Int](1000)
      var cum = 0L
      var cdfMin = -1L
      hist.foreach { case (code, n) =>
        cum += n
        if (cdfMin < 0) cdfMin = cum
        remap(code) =
          if (total == cdfMin) 0
          else ((cum - cdfMin) * 255 / (total - cdfMin)).toInt
      }
      val bc = s.sparkContext.broadcast(remap)
      codes.map { case (id, cs) =>
        var sm = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
        val seen = new java.util.BitSet(256)
        var j = 0
        while (j < cs.length) {
          val e = bc.value(cs(j)); sm += e; seen.set(e)
          if (e < mn) mn = e
          if (e > mx) mx = e
          j += 1
        }
        (id, sm, seen.cardinality().toLong, mn, mx)
      }.toDF("image_id", "eq_sum", "n_levels", "eq_min", "eq_max")
        .orderBy($"image_id")
        .localCheckpoint(true)
    },
      // i11: ONE global CDF over all 64 images' codes (total 4,194,304
      // pixels), same floor-division rule, then per-image rollups
      """WITH px AS (
        |  SELECT t.i AS i,
        |    ((((t.i // 8) * 256 + r.r) * 31
        |      + ((t.i % 8) * 256 + c.c) * 17) % 1000) AS code
        |  FROM range(64) t(i), range(256) r(r), range(256) c(c)),
        |ghist AS (SELECT code, count(*) AS n FROM px GROUP BY 1),
        |gcdf AS (SELECT code, n,
        |    sum(n) OVER (ORDER BY code) AS cum FROM ghist),
        |gmn AS (SELECT min(cum) AS cdfmin FROM gcdf),
        |gmap AS (SELECT code,
        |    ((cum - (SELECT cdfmin FROM gmn)) * 255)
        |      // (4194304 - (SELECT cdfmin FROM gmn)) AS e
        |  FROM gcdf),
        |eq AS (SELECT px.i AS i, gmap.e AS e
        |  FROM px JOIN gmap ON px.code = gmap.code)
        |SELECT 'img-' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
        |  CAST(sum(e) AS BIGINT) AS eq_sum,
        |  CAST(count(DISTINCT e) AS BIGINT) AS n_levels,
        |  CAST(min(e) AS BIGINT) AS eq_min,
        |  CAST(max(e) AS BIGINT) AS eq_max
        |FROM eq GROUP BY i ORDER BY image_id""".stripMargin)
  )
}
