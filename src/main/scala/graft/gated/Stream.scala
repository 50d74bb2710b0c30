package graft
package gated

import org.apache.spark.sql.functions._
import graft.corpus.ImageCorpus
import Fixtures.{scratchDir, stagedEvents, stagedLateEvents, stagedImageStream,
  withFewPartitions, dropCheckpoint, i6QualitySql}

/** Streaming gates (s), an off-paper family: Structured Streaming
  * drains over staged event and image streams (windows, sessions, dedup,
  * stream joins, late data) plus the streamed icelite ingest. Each drain
  * gets a fresh checkpoint and memory sink. */
object StreamGates {

  val gated: Seq[GatedQuery] = Seq(
    // Structured Streaming, hash-gated: the watermarked 1-hour tumbling
    // window aggregation runs as a REAL streaming query (file source ->
    // watermark -> window state -> append-mode sink, drained with
    // AvailableNow over the chronologically staged event stream) and must
    // equal the batch/SQL windowed aggregate exactly. See
    // streaming/StreamOps for the one-batch-lagged flush mechanics.
    GatedQuery("s1_stream_window", (s, dir) => {
      val staged = stagedEvents(s, dir)
      val ckpt = scratchDir("s1_ckpt")
      // fixed sink name: the memory sink replaces the temp view on each
      // run, so repeated invocations in one session don't accumulate
      // result tables on the driver heap
      val df = withFewPartitions(s) {
        graft.streaming.StreamOps.windowedEventCounts(s, staged, ckpt, "s1_mem")
      }
      dropCheckpoint(ckpt)
      df
    },
      // s1: the streaming windowed aggregate must equal the plain SQL
      // windowed aggregate — 1-hour tumbling windows align to epoch hours
      // in both engines (Spark windows anchor at the 1970 epoch,
      // date_trunc('hour') likewise), counts are longs and the money sum
      // uses the established exact-cents rule.
      """SELECT epoch_ms(date_trunc('hour', ts)) AS w_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Gap-rule sessionization as CUSTOM STREAMING STATE
    // (flatMapGroupsWithState carrying per-user (lastTs, sessions,
    // events) across micro-batches) — must equal the batch
    // window-function sessionization (the q4 oracle).
    GatedQuery("s2_stream_sessionize", (s, dir) => {
      val staged = stagedEvents(s, dir)
      val ckpt = scratchDir("s2_ckpt")
      val df = withFewPartitions(s) {
        graft.streaming.StreamOps.sessionize(s, staged, ckpt, "s2_mem")
      }
      dropCheckpoint(ckpt)
      df
    },
      // s2: the streaming sessionizer's final per-user rows equal the batch
      // window-function sessionization — byte-identical to the q4 oracle.
      """WITH g AS (
        |  SELECT user_id, event_id,
        |    epoch_ms(ts)
        |      - lag(epoch_ms(ts))
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap,
        |    ts
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN gap IS NULL OR gap > 1800000 THEN 1 ELSE 0 END AS new_sess
        |  FROM g),
        |c AS (
        |  SELECT user_id,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
        |  FROM s)
        |SELECT user_id, max(sess) AS n_sessions, count(*) AS n_events
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Streaming EXACT dedup: state-store dropDuplicates over the key,
    // each (user_id, event_type) emitted once on first sight across all
    // micro-batches; must equal batch SELECT DISTINCT exactly. The
    // ingest-time dedup primitive of a training pipeline.
    GatedQuery("s3_stream_dedup", (s, dir) => {
      val staged = stagedEvents(s, dir)
      val ckpt = scratchDir("s3_ckpt")
      val df = withFewPartitions(s) {
        graft.streaming.StreamOps.streamDedup(s, staged, ckpt, "s3_mem")
      }
      dropCheckpoint(ckpt)
      df
    },
      // s3: streaming first-sight dedup over the key projection == batch
      // DISTINCT (key-only emission is what makes this deterministic).
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin),

    // STREAM-STREAM interval join: purchases attributed to same-user
    // clicks within the preceding 30 minutes — watermarked self-join of
    // the staged event stream with a time-range condition bounding the
    // join state. Must equal the batch interval join exactly.
    GatedQuery("s4_stream_join", (s, dir) => {
      val staged = stagedEvents(s, dir)
      val ckpt = scratchDir("s4_ckpt")
      val df = withFewPartitions(s) {
        graft.streaming.StreamOps.intervalJoin(s, staged, ckpt, "s4_mem")
      }
      dropCheckpoint(ckpt)
      df
    },
      // s4: the stream-stream interval join == the batch interval join;
      // the range condition compares full-precision timestamps in both
      // engines, lag_ms is a difference of per-event truncated epoch-ms.
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.user_id AS user_id,
        |  epoch_ms(p.ts) - epoch_ms(c.ts) AS lag_ms
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin),

    // LEFT OUTER stream-stream interval join — the hardest streaming
    // join path: unmatched clicks emit null purchase columns only once
    // the watermark proves no match can arrive; the staged far-future
    // sentinels advance it past every real click. Must equal the batch
    // LEFT JOIN exactly.
    GatedQuery("s5_stream_join_outer", (s, dir) => {
      val staged = stagedEvents(s, dir)
      val ckpt = scratchDir("s5_ckpt")
      val df = withFewPartitions(s) {
        graft.streaming.StreamOps.intervalJoinOuter(s, staged, ckpt, "s5_mem")
      }
      dropCheckpoint(ckpt)
      df
    },
      // s5: the outer variant — unmatched clicks carry NULL purchase/lag
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.user_id AS user_id,
        |  epoch_ms(p.ts) - epoch_ms(c.ts) AS lag_ms
        |FROM events c LEFT JOIN events p
        |  ON c.user_id = p.user_id
        | AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |WHERE c.event_type = 'click'
        |ORDER BY click_id, purchase_id""".stripMargin),

    // STREAM-STATIC enrichment join + windowed aggregate — the fourth
    // streaming-join surface: each micro-batch broadcast-joins a static
    // per-user segment dimension (stateless — no join state store), then
    // the watermarked 1-hour windows aggregate per (segment, event_type).
    // Must equal the batch join + GROUP BY exactly.
    GatedQuery("s6_stream_static", (s, dir) => {
      val staged = stagedEvents(s, dir)
      val ckpt = scratchDir("s6_ckpt")
      val df = withFewPartitions(s) {
        graft.streaming.StreamOps.streamStaticEnrich(s, staged, ckpt, "s6_mem")
      }
      dropCheckpoint(ckpt)
      df
    },
      // s6: the stream-static broadcast enrichment + windowed aggregate ==
      // the batch join + GROUP BY; the segment lookup's closed form is
      // 'seg' || (user_id % 5), exactly what the static dimension carries.
      """SELECT epoch_ms(date_trunc('hour', ts)) AS w_start,
        |  'seg' || CAST(user_id % 5 AS VARCHAR) AS segment, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    GatedQuery("s7_stream_image_quality", (s, _) => {
      val staged = stagedImageStream(s) // cached across runs like s1-s6
      val ckpt = scratchDir("s7_ckpt")
      val out = scratchDir("s7_out")
      val df = withFewPartitions(s) {
        graft.streaming.StreamOps.imageQualityCuration(s, staged, ckpt, out)
      }
      dropCheckpoint(ckpt)
      df
    },
      // s7: the STREAMED i6 — same closed-form oracle; the gate proves the
      // foreachBatch micro-batch path reproduces the batch kernel exactly
      i6QualitySql),

    // STREAMING image curation — the modality counterpart of s1-s6: the
    // exact corpus arrives as 8 micro-batches, each batch decodes +
    // scores on the executors (the i6 quality kernel) and foreachBatch
    // lands verdicts in a batch-id-keyed idempotent parquet sink. The
    // drained table must equal the batch i6 computation — same closed-
    // form oracle.
    // LATE-DATA DISCARD — the watermark semantics gate: a third staged
    // file re-delivers 100 closed-window events (ids offset 10^9) AFTER
    // the watermark has advanced past their windows; the engine must
    // drop every one. The oracle aggregates the ORIGINAL events only —
    // if late rows leak into closed windows, the counts inflate and the
    // hash fails. Same windowed aggregate as s1.
    GatedQuery("s8_stream_late_drop", (s, dir) => {
      val staged = stagedLateEvents(s, dir)
      val ckpt = scratchDir("s8_ckpt")
      val df = withFewPartitions(s) {
        graft.streaming.StreamOps.windowedEventCounts(s, staged, ckpt, "s8_mem")
      }
      dropCheckpoint(ckpt)
      df
    },
      // s8: the ORIGINAL events only — the 100 late re-deliveries must
      // contribute nothing, so the expected table is exactly s1's
      """SELECT epoch_ms(date_trunc('hour', ts)) AS w_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // STREAMING INGEST into the table format, gated end-to-end: a real
    // Structured Streaming AvailableNow drain of a parquet backlog ->
    // per-batch last-wins dedup -> icelite resumable snapshot commit ->
    // read the committed snapshot back and emit content invariants.
    // Composes the north star's three non-query claims (streaming,
    // exactly-once ingest, snapshot resumability) into one driver-gated
    // surface; StreamIngestSpec additionally kills and resumes the same
    // path. Source written as 4 files (< maxFilesPerTrigger), so the
    // drain is one batch and the final snapshot carries the full corpus.
    GatedQuery("s9_stream_ingest", (s, _) => {
      import s.implicits._
      val tmp = java.nio.file.Paths.get(scratchDir("s9-ingest"))
      val src = tmp.resolve("src").toString
      val tbl = tmp.resolve("icelite").toString
      val ckpt = tmp.resolve("ckpt").toString
      ImageCorpus.generateExact(s, 64L, 8).coalesce(4).write.parquet(src)
      graft.streaming.StreamIngest.runAvailableNow(s, src, tbl, ckpt,
        gridW = 8)
      val snap = graft.icelite.IceLite.currentSnapshot(tbl).getOrElse(
        sys.error("s9: no snapshot committed"))
      graft.icelite.IceLite.read(s, tbl, snap).map { t =>
        var sq = 0L
        t.payload.foreach(v => sq += Math.rint(v * 64.0).toLong)
        (1L, t.payload.length.toLong, sq)
      }.toDF("t", "n", "sq")
        .agg(sum($"t").as("n_tiles"), sum($"n").as("n_cells"),
          sum($"sq").as("sum_q"))
    },
      // s9: the exact-corpus pixel codes summed globally in closed form
      // (64 tiles, 256x256, code = (gr*31 + gc*17) % 1000)
      """WITH px AS (
        |  SELECT (((t.i // 8) * 256 + r.r) * 31
        |        + ((t.i % 8) * 256 + c.c) * 17) % 1000 AS code
        |  FROM range(64) t(i), range(256) r(r), range(256) c(c))
        |SELECT CAST(64 AS BIGINT) AS n_tiles,
        |  CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(code) AS BIGINT) AS sum_q
        |FROM px""".stripMargin)
  )
}
