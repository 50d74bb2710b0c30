package graft
package gated

import org.apache.spark.sql.functions._

/** Audio gates (a), an off-paper family: WAV feature extraction, trim,
  * resample, gain, rate conversion and voice-activity segments over
  * closed-form synthetic signals. */
object AudioGates {

  val gated: Seq[GatedQuery] = Seq(
    // audio modality: opaque WAV binary column -> distributed PCM decode
    // -> windowed integer features (energy, zero crossings); the encode ->
    // REAL RIFF bytes -> decode round trip runs inside the task, and the
    // integer-exact features hash-match the SQL oracle
    GatedQuery("a1_audio_features", (s, _) => {
      import s.implicits._
      s.range(100).flatMap { k =>
        val samples = Array.tabulate(1000)(i =>
          (((k * 7 + i * 31) % 2001) - 1000).toShort)
        val bytes = graft.codecs.WavCodec.encode(samples, 16000)
        val (dec, _) = graft.codecs.WavCodec.decode(bytes)
        graft.codecs.WavCodec.windowFeatures(dec, 250).iterator.map {
          case (w, n, ss, zc) => (k, w.toLong, n, ss, zc)
        }
      }.toDF("clip_id", "win", "n", "sum_sq", "zc")
        .orderBy($"clip_id", $"win")
    },
      """WITH s AS (SELECT (i // 1000) AS clip, (i % 1000) AS idx,
        |  ((i // 1000) * 7 + (i % 1000) * 31) % 2001 - 1000 AS v
        |  FROM range(100000) t(i)),
        |lagd AS (SELECT clip, idx // 250 AS win, v,
        |  lag(v) OVER (PARTITION BY clip, idx // 250 ORDER BY idx) AS prev
        |  FROM s)
        |SELECT clip AS clip_id, CAST(win AS BIGINT) AS win,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND ((v < 0) != (prev < 0))
        |           THEN 1 ELSE 0 END) AS BIGINT) AS zc
        |FROM lagd GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Audio SILENCE TRIMMING (VAD gate): per clip, windows whose energy
    // (sum of squared samples) falls below a threshold are silent; the
    // clip keeps everything between the first and last loud window. The
    // fixture plants k%3 leading and k%2 trailing quiet windows (|v|<=20,
    // energy <= 1e5) around the a1 loud pattern (energy ~8e7), all
    // integer-exact so the threshold needs no margins. Real RIFF
    // encode -> decode in-task like a1; per-clip kernel, zero shuffle.
    GatedQuery("a2_audio_trim", (s, _) => {
      import s.implicits._
      s.range(100).map { k =>
        val lead = (k % 3).toInt; val trail = (k % 2).toInt
        val samples = Array.tabulate(1000) { i =>
          val silent = i < 250 * lead || i >= 1000 - 250 * trail
          if (silent) (((k * 7 + i * 31) % 41) - 20).toShort
          else (((k * 7 + i * 31) % 2001) - 1000).toShort
        }
        val bytes = graft.codecs.WavCodec.encode(samples, 16000)
        val (dec, _) = graft.codecs.WavCodec.decode(bytes)
        val (nw, nLead, nTrail, kept) =
          graft.codecs.WavCodec.trimSilence(dec, 250, energyThreshold = 1000000L)
        (k, nw, nLead, nTrail, kept)
      }.toDF("clip_id", "n_win", "lead_silent", "trail_silent", "kept_samples")
        .orderBy($"clip_id")
    },
      """WITH s AS (SELECT (i // 1000) AS clip, (i % 1000) AS idx,
        |  CASE WHEN (i % 1000) < 250 * ((i // 1000) % 3)
        |         OR (i % 1000) >= 1000 - 250 * ((i // 1000) % 2)
        |    THEN ((i // 1000) * 7 + (i % 1000) * 31) % 41 - 20
        |    ELSE ((i // 1000) * 7 + (i % 1000) * 31) % 2001 - 1000 END AS v
        |  FROM range(100000) t(i)),
        |w AS (SELECT clip, idx // 250 AS win, sum(v * v) AS ss
        |  FROM s GROUP BY 1, 2),
        |f AS (SELECT clip,
        |  max(CASE WHEN win = 0 THEN (ss < 1000000)::INT END) AS s0,
        |  max(CASE WHEN win = 1 THEN (ss < 1000000)::INT END) AS s1,
        |  max(CASE WHEN win = 2 THEN (ss < 1000000)::INT END) AS s2,
        |  max(CASE WHEN win = 3 THEN (ss < 1000000)::INT END) AS s3
        |  FROM w GROUP BY clip),
        |r AS (SELECT clip,
        |  s0 + s0*s1 + s0*s1*s2 + s0*s1*s2*s3 AS lead,
        |  s3 + s3*s2 + s3*s2*s1 + s3*s2*s1*s0 AS trail
        |  FROM f)
        |SELECT clip AS clip_id, CAST(4 AS BIGINT) AS n_win,
        |  CAST(lead AS BIGINT) AS lead_silent,
        |  CAST(trail AS BIGINT) AS trail_silent,
        |  CAST((4 - lead - trail) * 250 AS BIGINT) AS kept_samples
        |FROM r ORDER BY clip""".stripMargin),

    // Audio RESAMPLING (decimate-by-2, 2-tap box pre-filter): the
    // sample-rate normalization every audio corpus pass runs before
    // feature extraction. Same real RIFF encode -> decode in-task as a1;
    // the position-WEIGHTED checksum gates sample ORDER and the floor
    // rounding, sum_abs gates magnitudes. All integer-exact.
    GatedQuery("a3_audio_resample", (s, _) => {
      import s.implicits._
      s.range(100).map { k =>
        val samples = Array.tabulate(1000)(i =>
          (((k * 7 + i * 31) % 2001) - 1000).toShort)
        val bytes = graft.codecs.WavCodec.encode(samples, 16000)
        val (dec, _) = graft.codecs.WavCodec.decode(bytes)
        val out = graft.codecs.WavCodec.downsample2(dec)
        var wsum = 0L; var sabs = 0L
        var j = 0
        while (j < out.length) {
          wsum += (j + 1).toLong * out(j); sabs += math.abs(out(j).toLong)
          j += 1
        }
        (k, out.length.toLong, wsum, sabs)
      }.toDF("clip_id", "n_out", "wsum", "sum_abs")
        .orderBy($"clip_id")
    },
      // a2: regenerate the planted-silence samples, window the energies,
      // derive lead/trail runs from the four per-clip silent flags
      // a3: the decimated stream from the closed-form sample rule —
      // floor((a+b)/2) == the kernel's arithmetic shift for all ints
      """WITH s AS (
        |  SELECT k.k AS clip_id, j.j AS j,
        |    ((k.k * 7 + (2 * j.j) * 31) % 2001) - 1000 AS a,
        |    ((k.k * 7 + (2 * j.j + 1) * 31) % 2001) - 1000 AS b
        |  FROM range(100) k(k), range(500) j(j)),
        |d AS (SELECT clip_id, j, CAST(floor((a + b) / 2.0) AS BIGINT) AS v FROM s)
        |SELECT clip_id, CAST(count(*) AS BIGINT) AS n_out,
        |  CAST(sum((j + 1) * v) AS BIGINT) AS wsum,
        |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs
        |FROM d GROUP BY clip_id ORDER BY clip_id""".stripMargin),

    // Audio GAIN NORMALIZATION — measure per-clip peak, derive the exact
    // power-of-two gain (largest shift with peak<<s <= 32767), and
    // checksum the normalized stream. The fixture divides the a1 pattern
    // by 1 + k%4 so peaks (and hence shifts 5/6/6/7) vary per clip; all
    // integer-exact (trunc division, bit-shift gain). Same real RIFF
    // encode -> decode in-task as a1; per-clip kernel, zero shuffle.
    GatedQuery("a4_audio_gain", (s, _) => {
      import s.implicits._
      s.range(100).map { k =>
        val div = (1 + k % 4).toInt
        val samples = Array.tabulate(1000)(i =>
          (((((k * 7 + i * 31) % 2001) - 1000) / div).toShort))
        val bytes = graft.codecs.WavCodec.encode(samples, 16000)
        val (dec, _) = graft.codecs.WavCodec.decode(bytes)
        val (peak, shift) = graft.codecs.WavCodec.gainShift(dec)
        var wsum = 0L
        var j = 0
        while (j < dec.length) {
          wsum += (j + 1).toLong * (dec(j).toLong << shift); j += 1
        }
        (k, peak, shift.toLong, wsum)
      }.toDF("clip_id", "peak", "shift", "norm_wsum")
        .orderBy($"clip_id")
    },
      // a4: peak per clip (trunc-divided pattern), the maximal shift with
      // peak<<s <= 32767 from a 16-row shift table, and the normalized
      // position-weighted checksum — all exact integers
      """WITH s AS (
        |  SELECT k.k AS clip_id, i.i AS i,
        |    CAST(trunc(CAST(((k.k * 7 + i.i * 31) % 2001) - 1000 AS DOUBLE)
        |      / (1 + k.k % 4)) AS BIGINT) AS v
        |  FROM range(100) k(k), range(1000) i(i)),
        |p AS (SELECT clip_id, max(abs(v)) AS peak FROM s GROUP BY 1),
        |g AS (SELECT p.clip_id, p.peak,
        |    CASE WHEN p.peak = 0 THEN 0 ELSE
        |      COALESCE(max(CASE WHEN (p.peak << sh.s) <= 32767
        |                        THEN sh.s END), 0) END AS shift
        |  FROM p CROSS JOIN range(16) sh(s)
        |  GROUP BY 1, 2)
        |SELECT s.clip_id, CAST(g.peak AS BIGINT) AS peak,
        |  CAST(g.shift AS BIGINT) AS shift,
        |  CAST(sum((s.i + 1) * (s.v * (1 << g.shift))) AS BIGINT) AS norm_wsum
        |FROM s JOIN g ON g.clip_id = s.clip_id
        |GROUP BY 1, 2, 3 ORDER BY s.clip_id""".stripMargin),

    // Audio VAD SEGMENTATION (utterance splitting): where a2 trims one
    // span, this emits EVERY maximal run of loud windows as a segment —
    // the pass that splits long recordings into utterances for ASR
    // corpora. The fixture interleaves quiet windows (|v|<=20, energy
    // <= 1e5) through the a1 loud pattern (energy ~8e7) on a per-clip
    // rotating rule, so clips carry 2-3 islands at varying positions.
    // Real RIFF encode -> decode in-task; per-clip kernel, zero shuffle;
    // integer-exact so the gaps-and-islands SQL form matches bit-for-bit.
    GatedQuery("a5_vad_segments", (s, _) => {
      import s.implicits._
      s.range(100).flatMap { k =>
        val samples = Array.tabulate(2000) { i =>
          val quiet = (k + 3L * (i / 250)) % 4 == 0
          if (quiet) (((k * 7 + i * 31) % 41) - 20).toShort
          else (((k * 7 + i * 31) % 2001) - 1000).toShort
        }
        val bytes = graft.codecs.WavCodec.encode(samples, 16000)
        val (dec, _) = graft.codecs.WavCodec.decode(bytes)
        graft.codecs.WavCodec.vadSegments(dec, 250, 1000000L).iterator.map {
          case (seg, start, nw, es) => (k, seg, start, nw, es)
        }
      }.toDF("clip_id", "seg", "start_win", "n_win", "energy")
        .orderBy($"clip_id", $"seg")
    },
      // a5: gaps-and-islands over the closed-form window energies — loud
      // windows (ss >= 1e6) grouped by the classic w - row_number() island
      // key, then one row per island; the per-clip segment index is the
      // island rank by start window
      """WITH s AS (
        |  SELECT k.k AS k, i.i // 250 AS w,
        |    CASE WHEN (k.k + 3 * (i.i // 250)) % 4 = 0
        |      THEN ((k.k * 7 + i.i * 31) % 41) - 20
        |      ELSE ((k.k * 7 + i.i * 31) % 2001) - 1000 END AS v
        |  FROM range(100) k(k), range(2000) i(i)),
        |wf AS (SELECT k, w, sum(v * v) AS ss FROM s GROUP BY 1, 2),
        |loud AS (SELECT k, w, ss,
        |    w - row_number() OVER (PARTITION BY k ORDER BY w) AS grp
        |  FROM wf WHERE ss >= 1000000),
        |seg AS (SELECT k, grp, min(w) AS start_win, count(*) AS n_win,
        |    sum(ss) AS energy
        |  FROM loud GROUP BY 1, 2)
        |SELECT CAST(k AS BIGINT) AS clip_id,
        |  CAST(row_number() OVER (PARTITION BY k ORDER BY start_win) - 1
        |    AS BIGINT) AS seg,
        |  CAST(start_win AS BIGINT) AS start_win,
        |  CAST(n_win AS BIGINT) AS n_win,
        |  CAST(energy AS BIGINT) AS energy
        |FROM seg ORDER BY clip_id, seg""".stripMargin),

    // Audio RATIONAL-rate conversion (2:3, the 48 kHz -> 32 kHz shape):
    // a3's by-2 decimator generalized to the rational ratios real
    // corpora need. Output k sits at source position 3k/2 — direct read
    // on even k, exact floor-mean of the straddling pair on odd k (all
    // half-sample fractions, so the interpolation is dyadic-integer).
    // Same real RIFF encode -> decode in-task as a1; per-clip kernel,
    // zero shuffle; the position-weighted checksum gates order+rounding.
    GatedQuery("a6_rate_convert", (s, _) => {
      import s.implicits._
      s.range(100).map { k =>
        val samples = Array.tabulate(1000)(i =>
          (((k * 7 + i * 31) % 2001) - 1000).toShort)
        val bytes = graft.codecs.WavCodec.encode(samples, 48000)
        val (dec, _) = graft.codecs.WavCodec.decode(bytes)
        val out = graft.codecs.WavCodec.resample2of3(dec)
        var wsum = 0L; var sabs = 0L
        var j = 0
        while (j < out.length) {
          wsum += (j + 1).toLong * out(j)
          sabs += math.abs(out(j).toLong)
          j += 1
        }
        (k, out.length.toLong, wsum, sabs)
      }.toDF("clip_id", "n_out", "wsum", "sum_abs")
        .orderBy($"clip_id")
    },
      // a6: 667 outputs for n=1000 (k=667 is the first whose straddling
      // pair runs past the end). The pair mean must be an explicit
      // floor(): Scala's >> 1 floors toward -inf but DuckDB's integer //
      // TRUNCATES toward zero on negatives ((-7)//2 = -3, not -4) —
      // tap-index divisions stay // because those operands are
      // non-negative, where the two agree
      """WITH o AS (
        |  SELECT c.c AS clip, k.k AS k
        |  FROM range(100) c(c), range(667) k(k)),
        |s AS (
        |  SELECT clip, k,
        |    CASE WHEN k % 2 = 0
        |      THEN ((clip*7 + (3*k//2)*31) % 2001) - 1000
        |      ELSE CAST(floor((
        |            (((clip*7 + ((3*k-1)//2)*31) % 2001) - 1000)
        |          + (((clip*7 + ((3*k+1)//2)*31) % 2001) - 1000)) / 2.0)
        |        AS BIGINT)
        |    END AS v
        |  FROM o)
        |SELECT CAST(clip AS BIGINT) AS clip_id,
        |  CAST(667 AS BIGINT) AS n_out,
        |  CAST(sum((k + 1) * v) AS BIGINT) AS wsum,
        |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs
        |FROM s GROUP BY 1 ORDER BY clip_id""".stripMargin)
  )
}
