package graft
package gated

import org.apache.spark.sql.functions._
import Fixtures.sceneCutGifClips

/** Video gates (v), an off-paper family: frame decode, scene cuts,
  * clip windows, keyframes and fps resampling over synthetic animated GIF
  * clips. */
object VideoGates {

  val gated: Seq[GatedQuery] = Seq(
    // Video modality: deterministic synthetic clips as REAL GIF89a binary
    // columns (8 clips x 12 frames), frame-sampled every 3rd frame and
    // reduced to integer stats on the executor (rows-only: no SQL-engine
    // GIF decode; encode->decode round trip is ScalaTest-gated)
    GatedQuery("v1_video_frames", (s, _) => {
      import s.implicits._
      val clips = s.range(8).map { cid =>
        val frames = (0 until 12).map { f =>
          Array.tabulate(48 * 32)(i => ((cid * 37 + f * 11 + i) % 251).toDouble)
        }
        (cid.toLong, graft.sources.GifWriter.writeAnimatedBytes(
          frames, 48, 32, lo = 0, hi = 250, delayCs = 10))
      }
      graft.codecs.VideoOps.frameStats(clips, every = 3)
        .orderBy($"clip_id", $"frame_idx")
    },
      // v1: the GIF frame gray code is trunc((v-0)/250*255) of the integer
      // frame formula — identical IEEE double arithmetic in both engines
      // (including the v=150 -> 152 floor glitch), and the GIF89a round
      // trip is code-exact (ScalaTest-gated), so frame stats regenerate by
      // formula.
      """WITH px AS (
        |  SELECT t1.cid AS cid, t2.f AS f,
        |    CAST((t1.cid*37 + t2.f*11 + t3.i) % 251 AS DOUBLE) AS v
        |  FROM range(8) t1(cid), (VALUES (0),(3),(6),(9)) t2(f), range(1536) t3(i))
        |SELECT cid AS clip_id, CAST(f AS INT) AS frame_idx, 48 AS w, 32 AS h,
        |  CAST(sum(CAST(trunc(v / 250.0 * 255.0) AS BIGINT)) AS BIGINT) AS sum_intensity,
        |  CAST(sum(CASE WHEN trunc(v / 250.0 * 255.0) <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonblack
        |FROM px GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Video SCENE-CHANGE detection: SAD between consecutive decoded
    // frames, cut where SAD > 65000. The fixture switches the pixel
    // formula at frame 6 (i -> 3i+97 remap), so the 5->6 transition SADs
    // ~130k while drift steps sit ~33k — and both engines compute the
    // same exact integers regardless. Same per-clip GIF-decode kernel
    // as v1.
    GatedQuery("v2_scene_cuts", (s, _) => {
      import s.implicits._
      val clips = sceneCutGifClips(s)
      graft.codecs.VideoOps.sceneCuts(clips, threshold = 65000L)
        .orderBy($"clip_id", $"frame_idx")
    },
      // v2: regenerate both frame regimes, gray = trunc(v/250*255) like v1,
      // SAD over the (cid, i) self-join of consecutive frames
      """WITH px AS (
        |  SELECT t1.cid AS cid, t2.f AS f, t3.i AS i,
        |    CAST(trunc(CAST(CASE WHEN t2.f < 6
        |        THEN (t1.cid*37 + t2.f*11 + t3.i) % 251
        |        ELSE (t1.cid*37 + t2.f*11 + t3.i*3 + 97) % 251 END
        |      AS DOUBLE) / 250.0 * 255.0) AS BIGINT) AS g
        |  FROM range(8) t1(cid), range(12) t2(f), range(1536) t3(i)),
        |d AS (SELECT a.cid, a.f, sum(abs(a.g - b.g)) AS sad
        |  FROM px a JOIN px b ON b.cid = a.cid AND b.i = a.i AND b.f = a.f - 1
        |  WHERE a.f >= 1 GROUP BY 1, 2)
        |SELECT cid AS clip_id, CAST(f AS INT) AS frame_idx,
        |  CAST(sad AS BIGINT) AS sad, sad > 65000 AS is_cut
        |FROM d ORDER BY 1, 2""".stripMargin),

    GatedQuery("v3_clip_windows", (s, _) => {
      import s.implicits._
      val clips = sceneCutGifClips(s)
      graft.codecs.VideoOps.clipWindows(clips, winFrames = 4, stride = 3)
        .orderBy($"clip_id", $"win_idx")
    },
      // v3: same decoded-gray formula as v2 (incl. the GIF palette
      // trunc(code/250*255) quantization), summed per frame, windowed
      // 4-stride-3 with the position-weighted checksum
      """WITH px AS (
        |  SELECT t1.cid AS cid, t2.f AS f, t3.i AS i,
        |    CAST(trunc(CAST(CASE WHEN t2.f < 6
        |        THEN (t1.cid*37 + t2.f*11 + t3.i) % 251
        |        ELSE (t1.cid*37 + t2.f*11 + t3.i*3 + 97) % 251 END
        |      AS DOUBLE) / 250.0 * 255.0) AS BIGINT) AS g
        |  FROM range(8) t1(cid), range(12) t2(f), range(1536) t3(i)),
        |fs AS (SELECT cid, f, sum(g) AS gsum FROM px GROUP BY 1, 2),
        |wins AS (SELECT c.c AS clip_id, s.s AS win_idx, s.s * 3 AS first_frame
        |  FROM range(8) c(c), range(4) s(s))
        |SELECT w.clip_id, CAST(w.win_idx AS INT) AS win_idx,
        |  CAST(w.first_frame AS INT) AS first_frame,
        |  CAST(least(4, 12 - w.first_frame) AS INT) AS n_frames,
        |  CAST(sum((fs.f - w.first_frame + 1) * fs.gsum) AS BIGINT) AS wsum
        |FROM wins w JOIN fs ON fs.cid = w.clip_id
        |  AND fs.f >= w.first_frame AND fs.f < w.first_frame + 4
        |GROUP BY w.clip_id, w.win_idx, w.first_frame
        |ORDER BY 1, 2""".stripMargin),

    // KEYFRAME selection — each v3 window elects its largest-gray-sum
    // frame (ties -> smallest index). Same v2/v3 fixture; the formula
    // switch at frame 6 makes gray-sums vary within windows, and the
    // integer argmax is engine-independent. Per-clip kernel, no shuffle.
    GatedQuery("v4_keyframes", (s, _) => {
      import s.implicits._
      val clips = sceneCutGifClips(s)
      graft.codecs.VideoOps.keyFrames(clips, winFrames = 4, stride = 3)
        .orderBy($"clip_id", $"win_idx")
    },
      // v4: the same per-frame gray-sums as v3; each window elects its
      // argmax frame via row_number (gsum DESC, frame ASC = the engine's
      // smallest-index tie-break)
      """WITH px AS (
        |  SELECT t1.cid AS cid, t2.f AS f, t3.i AS i,
        |    CAST(trunc(CAST(CASE WHEN t2.f < 6
        |        THEN (t1.cid*37 + t2.f*11 + t3.i) % 251
        |        ELSE (t1.cid*37 + t2.f*11 + t3.i*3 + 97) % 251 END
        |      AS DOUBLE) / 250.0 * 255.0) AS BIGINT) AS g
        |  FROM range(8) t1(cid), range(12) t2(f), range(1536) t3(i)),
        |fs AS (SELECT cid, f, sum(g) AS gsum FROM px GROUP BY 1, 2),
        |wins AS (SELECT c.c AS clip_id, s.s AS win_idx, s.s * 3 AS first_frame
        |  FROM range(8) c(c), range(4) s(s)),
        |sel AS (SELECT w.clip_id, w.win_idx, fs.f, fs.gsum,
        |    row_number() OVER (PARTITION BY w.clip_id, w.win_idx
        |      ORDER BY fs.gsum DESC, fs.f) AS rn
        |  FROM wins w JOIN fs ON fs.cid = w.clip_id
        |    AND fs.f >= w.first_frame AND fs.f < w.first_frame + 4)
        |SELECT clip_id, CAST(win_idx AS INT) AS win_idx,
        |  CAST(f AS INT) AS key_frame, CAST(gsum AS BIGINT) AS key_gsum
        |FROM sel WHERE rn = 1 ORDER BY 1, 2""".stripMargin),

    // Temporal CLIP WINDOWING — the video analog of d24 chunking: each
    // 12-frame clip cut into 4-frame training windows stepped by 3
    // (tail window = 3 frames). Same v2 fixture (formula switch at
    // frame 6), all integers; the position-weighted gray-sum checksum
    // pins frame order inside each window.
    // Video FPS RESAMPLING — nearest-frame temporal normalization (the
    // a3 decimator's video sibling): 10 fps source clips to 4 fps by
    // the exact half-up integer selection rule; each selected frame
    // REALLY decodes (GIF89a round trip) to integer gray sums. 12
    // frames -> 5 outputs picking sources 0,3,5,8,10. Per-clip kernel,
    // zero shuffle.
    GatedQuery("v5_fps_resample", (s, _) => {
      import s.implicits._
      val clips = s.range(8).map { cid =>
        val frames = (0 until 12).map { f =>
          Array.tabulate(48 * 32)(i => ((cid * 37 + f * 11 + i) % 251).toDouble)
        }
        (cid.toLong, graft.sources.GifWriter.writeAnimatedBytes(
          frames, 48, 32, lo = 0, hi = 250, delayCs = 10))
      }
      graft.codecs.VideoOps.fpsResample(clips, srcFps = 10, dstFps = 4)
        .orderBy($"clip_id", $"out_idx")
    },
      // v5: the (out_idx, src_frame) pairs are closed-form under the
      // half-up rule (12 frames, 10 -> 4 fps => 5 picks), and the decoded
      // gray code is the same trunc(v/250*255) mapping as v1
      """WITH px AS (
        |  SELECT t1.cid AS cid, t2.k AS k, t2.src AS src,
        |    CAST((t1.cid*37 + t2.src*11 + t3.i) % 251 AS DOUBLE) AS v
        |  FROM range(8) t1(cid),
        |    (VALUES (0, 0), (1, 3), (2, 5), (3, 8), (4, 10)) t2(k, src),
        |    range(1536) t3(i))
        |SELECT cid AS clip_id, CAST(k AS BIGINT) AS out_idx,
        |  CAST(src AS BIGINT) AS src_frame,
        |  CAST(sum(CAST(trunc(v / 250.0 * 255.0) AS BIGINT)) AS BIGINT)
        |    AS sum_intensity
        |FROM px GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin)
  )
}
