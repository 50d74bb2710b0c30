package graft
package gated

import java.nio.file.{Files, Path, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tile
import graft.corpus.{ImageCorpus, Synth}
import graft.icelite.IceLite
import graft.operators.TileOps
import graft.streaming.StreamOps

/** Fixture and scratch plumbing shared by the gated families: the scratch
  * root and its cleanup, the input-table reader, the fixtures built once
  * per JVM (the icelite DEM table, the two image corpora, the staged
  * streams) and the oracle SQL that several families share. Every
  * build-once fixture is built under this object's one lock. */
object Fixtures {

  private[graft] val tileRes = 6 // 64x64-pixel tiles for the small fixture grids

  /** Scratch space for fixture tables, stream staging and checkpoints:
    * tmpfs-backed when available. Streaming checkpoints write offset/
    * commit logs and state-store deltas with an fsync PER MICRO-BATCH,
    * and the icelite fixture queries commit/rewrite small parquet files
    * per run — where /tmp is a disk and /dev/shm is RAM, scratch
    * placement is pure latency with zero semantic difference (every dir
    * here is created fresh by the query run and holds no cross-run
    * results). A production
    * deployment points checkpoints/tables at durable storage; the gated
    * results never depend on the location. */
  private val scratchBase: Path = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) shm.resolve("graft-scratch")
    else Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
  }
  // Every dir this JVM creates is removed on exit so repeated runs
  // cannot accumulate in shared memory.
  private val scratchCreated = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private lazy val scratchHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchCreated.forEach { p =>
        try {
          import scala.jdk.CollectionConverters._
          Files.walk(p).iterator().asScala.toSeq.reverseIterator
            .foreach(f => try Files.deleteIfExists(f) catch { case NonFatal(_) => () })
        } catch { case NonFatal(_) => () }
      }))
    ()
  }
  private[gated] def scratchDir(prefix: String): String = {
    scratchHook
    Files.createDirectories(scratchBase)
    val d = Files.createTempDirectory(scratchBase, prefix)
    scratchCreated.add(d)
    d.toString
  }

  private[gated] def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The DEM fixture served from an ICELITE-BACKED Parquet table (written
    * once, resumable commit), not from in-memory `spark.range` tiles — so
    * the correctness run exercises the engine's real scan path: manifest
    * min/max file pruning + pushed cellId range predicates on the Parquet
    * scan (the scale story's load-bearing machinery, PLANS.md r2). */
  private val demTableDir = scratchBase.resolve("graft_icelite_dem_v1").toString
  private[gated] def demTiles(s: SparkSession): Dataset[Tile] = synchronized {
    val snap = IceLite.currentSnapshot(demTableDir).getOrElse {
      IceLite.commitResumable(s,
        TileOps.tileGrid(s, Synth.demRef, tileRes)(Synth.demValue),
        demTableDir, buckets = 4, snap = 1L)
    }
    IceLite.read(s, demTableDir, snap)
  }

  /** `gen` written to `dir` once (until its `_SUCCESS` marker exists),
    * then scanned. */
  private def materialized(s: SparkSession, dir: String)(gen: => Dataset[_]): DataFrame =
    synchronized {
      if (!new java.io.File(dir + "/_SUCCESS").exists())
        gen.write.mode("overwrite").parquet(dir)
      s.read.parquet(dir)
    }

  /** The i3 dedup corpus as a MATERIALIZED parquet table (written once per
    * tmpdir, then scanned) — the north-star input is a table of
    * image+caption pairs, so the dedup query must read its phash/bytes
    * columns off storage, not regenerate them in both sides of the
    * self-join. */
  private[gated] def corpusTable(s: SparkSession): DataFrame =
    materialized(s, scratchBase.resolve("graft_corpus_1024_v1").toString)(
      ImageCorpus.generate(s, 1024L, 8))

  private[gated] def perceptualCorpusTable(s: SparkSession): DataFrame =
    materialized(s, scratchBase.resolve("graft_corpus_percep_1024_v1").toString)(
      ImageCorpus.generatePerceptual(s, 1024L))

  /** Decode + phash of the perceptual corpus (one definition for
    * i4/i5/m4). Measured: a pre-decode repartition to core count LOSES
    * here — the byte shuffle costs more than the fixture's decode saves
    * (the scan already yields enough splits) — so the kernel runs
    * directly on the scan partitions. */
  private[gated] def phashedPerceptual(s: SparkSession): DataFrame = {
    import s.implicits._
    import graft.codecs.ImageCodec
    perceptualCorpusTable(s).select($"image_id", $"bytes", $"fmt")
      .as[(String, Array[Byte], String)]
      .map { case (id, bytes, fmt) =>
        val (px, w, h) = ImageCodec.decode(bytes, fmt)
        (id.stripPrefix("img-").toLong, ImageCodec.phash64(px, w, h))
      }
      .toDF("doc_id", "simhash")
  }

  /** Shared e-family fixture: 16 true clusters x 30 members, dim 16,
    * dyadic coordinates (bit-identical cosines across engines). e2/e3/e4
    * consume it verbatim (e7 rebuilds it with a lang column) and their
    * DuckDB oracles regenerate this exact closed form — ONE definition
    * keeps the four hash gates synchronized. */
  private[gated] def clusteredEmbeddings(s: SparkSession): DataFrame = {
    import s.implicits._
    val C = 16; val M = 30; val dim = 16
    s.range(C.toLong * M).map { vid =>
      val cl = (vid % C).toInt; val m = (vid / C).toInt
      val v = Array.tabulate(dim) { d =>
        val center = if (d == cl) 8.0f else 0.0f
        center + (((m * 31 + d * 17 + cl * 7) % 13) - 6) * 0.125f
      }
      (vid, v)
    }.toDF("vec_id", "embedding")
  }

  /** Shared v-family fixture: 8 GIF clips x 12 frames with a planted
    * scene cut at frame 6 (v2/v3/v4; v1 uses a cut-free variant). Same
    * single-source-of-truth rule as [[clusteredEmbeddings]]. */
  private[gated] def sceneCutGifClips(s: SparkSession) = {
    import s.implicits._
    s.range(8).map { cid =>
      val frames = (0 until 12).map { f =>
        Array.tabulate(48 * 32) { i =>
          val code = if (f < 6) (cid * 37 + f * 11 + i) % 251
                     else (cid * 37 + f * 11 + i * 3 + 97) % 251
          code.toDouble
        }
      }
      (cid.toLong, graft.sources.GifWriter.writeAnimatedBytes(
        frames, 48, 32, lo = 0, hi = 250, delayCs = 10))
    }
  }

  /** Cents helper: exact integer money via floor(v*100 + 0.5) — pure
    * IEEE multiply/add/floor, bit-identical in Spark and DuckDB. round()
    * is banned for gated money columns: Spark rounds the shortest-decimal
    * BigDecimal HALF_UP while DuckDB rounds the binary double, so a
    * dyadic *.x5 boundary row flips the hash (the r4 q9 regression). */
  private[gated] def cents(c: org.apache.spark.sql.Column) =
    floor(c * 100 + lit(0.5)).cast("long")

  /** Staged streams for the streaming queries, one staging per key per
    * JVM (each query run gets a fresh checkpoint + memory sink). Runs the
    * real Structured Streaming machinery at few shuffle partitions —
    * state-store commit overhead is per (partition x micro-batch), and
    * the fixture state is tiny. */
  private val stagedStreams = scala.collection.mutable.Map[String, String]()
  private def staged(key: String, prefix: String)(stage: String => String): String =
    synchronized(stagedStreams.getOrElseUpdate(key, stage(scratchDir(prefix))))
  /** Chronologically staged event stream for the s1-s6 queries. */
  private[gated] def stagedEvents(s: SparkSession, dir: String): String =
    staged(dir, "graft_stream")(d =>
      StreamOps.stageChronological(s, s"$dir/events.parquet", d, chunks = 2))
  private[gated] def stagedLateEvents(s: SparkSession, dir: String): String =
    staged(s"__s8_late__$dir", "s8_stream")(d =>
      StreamOps.stageWithLateArrivals(s, s"$dir/events.parquet", d))
  private[gated] def stagedImageStream(s: SparkSession): String =
    staged("__s7_images__", "s7_stream")(d =>
      StreamOps.stageImageChunks(s, 64L, 8, d, chunks = 8))

  /** State-store partition count for the drained fixture streams.
    * Stateful-op overhead is per (partition x micro-batch) — each
    * partition opens and commits its state stores every batch — so the
    * count should track stream VOLUME, not the host's cores: measured on
    * the ~100k-row fixture batches, 2 beats both 4 (more per-batch store
    * commits than the data warrants) and 1 (no parallelism on the real
    * chunks). Production streams size this by throughput per the usual
    * 100MB-1GB-per-partition rule; checkpoints pin it per query. */
  private[gated] def withFewPartitions[A](s: SparkSession)(f: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }
  /** Remove a drained stream's checkpoint dir — the returned result lives
    * in the memory-sink table, so nothing references the checkpoint once
    * awaitTermination returned; repeated runs would otherwise accumulate
    * orphaned temp dirs. */
  private[gated] def dropCheckpoint(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
  }

  // ---------------------------------------- oracle SQL shared by families

  /** The i6 image-quality oracle (exact-corpus codes by formula; span/
    * distinct/gradient stats + keep rule) — shared by the batch i6 gate
    * and the streamed s7 gate, which must produce identical tables. */
  private[gated] val i6QualitySql: String =
      """WITH px AS (
        |  SELECT t.i AS i, r.r AS r, c.c AS c,
        |    (((t.i // 8) * 256 + r.r) * 31 + ((t.i % 8) * 256 + c.c) * 17) % 1000 AS q
        |  FROM range(64) t(i), range(256) r(r), range(256) c(c)),
        |st AS (
        |  SELECT i, min(q) AS q_min, max(q) AS q_max,
        |    count(DISTINCT q) AS n_distinct,
        |    sum(CASE WHEN c < 255 THEN (CASE WHEN q >= 983 THEN 983 ELSE 17 END) ELSE 0 END
        |      + CASE WHEN r < 255 THEN (CASE WHEN q >= 969 THEN 969 ELSE 31 END) ELSE 0 END) AS grad_l1
        |  FROM px GROUP BY i)
        |SELECT 'img-' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
        |  CAST(q_min AS BIGINT) AS q_min, CAST(q_max AS BIGINT) AS q_max,
        |  CAST(q_max - q_min AS BIGINT) AS q_span,
        |  CAST(n_distinct AS BIGINT) AS n_distinct,
        |  CAST(grad_l1 AS BIGINT) AS grad_l1,
        |  (q_max - q_min >= 64 AND n_distinct >= 16) AS keep
        |FROM st ORDER BY image_id""".stripMargin

  /** The i4 perceptual-hash pair CTE chain (block codes by formula, bit
    * rule, all-pairs hamming) — shared by the i4, i5 and m4 oracles. */
  private[gated] val i4PairCtes: String =
    """cell AS (
      |  SELECT t.i AS i, b.b AS b,
      |    CASE WHEN t.i > 0 AND (t.i % 167 = 0 OR t.i % 311 = 0)
      |      THEN (t.i - 1) * 64 + b.b ELSE t.i * 64 + b.b END AS x,
      |    CASE WHEN t.i > 0 AND t.i % 167 = 0 AND b.b < 2 + t.i // 167 THEN 128
      |         WHEN t.i > 0 AND t.i % 311 = 0 AND b.b < 24 THEN 257
      |         ELSE 0 END AS bump
      |  FROM range(1024) t(i), range(64) b(b)),
      |h AS (SELECT i, b, bump, (x * 2654435761) % 4294967296 AS h1 FROM cell),
      |hh AS (SELECT i, b, bump,
      |    (xor(h1, h1 // 65536) * 60493) % 4294967296 AS h3 FROM h),
      |k AS (SELECT i, b, xor(h3, h3 // 65536) % 512 + bump AS kv FROM hh),
      |s AS (SELECT i, sum(kv) AS tot FROM k GROUP BY 1),
      |bits AS (SELECT k.i, k.b, CASE WHEN 64 * k.kv > s.tot THEN 1 ELSE 0 END AS bit
      |  FROM k JOIN s ON k.i = s.i),
      |ham AS (SELECT a.i AS ia, c.i AS ib,
      |    sum(CASE WHEN a.bit <> c.bit THEN 1 ELSE 0 END) AS hamming
      |  FROM bits a JOIN bits c ON a.b = c.b AND a.i < c.i
      |  GROUP BY 1, 2)""".stripMargin
}
