package graft
package gated

import org.apache.spark.sql.functions._
import graft.core._
import graft.operators.TileOps
import Fixtures.{tileRes, scratchDir, table}

/** icelite table-format gates (q18, q20-q32): snapshot travel,
  * compaction, schema evolution, incremental reads, rollback,
  * write-audit-publish, range delete, CDC apply, lineage, metadata scans
  * and snapshot GC. Each query builds its table in a fresh scratch dir
  * from the tiled fixture grids, so every run starts from the same bytes;
  * the oracles regenerate the expected rows in SQL. */
object IceliteGates {

  val gated: Seq[GatedQuery] = Seq(
    // ICELITE TIME TRAVEL end-to-end through the driver harness: write
    // snapshot 1 (resumable bucketed commit), row-level COW upsert (4 of
    // 6 tiles updated + 1 appended) -> snapshot 2, then read BOTH pinned
    // snapshots and emit per-snapshot integer invariants. Gates the
    // north-star resumability claim where it matters: the snap-1 pin is
    // bit-identical AFTER the upsert (readers never see partial merges),
    // and the snap-2 read shows exactly the COW rule (updated cells
    // replace, new cells append, untouched buckets carry by reference).
    GatedQuery("q18_snapshot_travel", (s, _) => {
      import s.implicits._
      val dir = scratchDir("q18-icelite")
      val ref = GridRef(ncols = 160, nrows = 96, xll = 0, yll = 0,
        cellsize = 1, nodata = -9999)
      val base = TileOps.tileGrid(s, ref, tileRes)((r, c) =>
        ((r * 7 + c * 3) % 100).toDouble)
      graft.icelite.IceLite.commitResumable(s, base, dir, buckets = 4,
        snap = 1L)
      val upd = base.filter(t => (t.col0 / 64) % 2 == 0)
        .map(t => t.copy(payload = t.payload.map(_ + 1000.0)))
      val extra = s.createDataset(Seq(graft.core.Tile(
        graft.core.CellId.encode(tileRes, 999, 999), 999 * 64, 999 * 64,
        2, 2, Array(1.0, 2.0, 3.0, 4.0))))
      val snap2 = graft.icelite.IceLite.upsert(s, dir, upd.union(extra))
      def stats(snap: Long, tag: Long) =
        graft.icelite.IceLite.read(s, dir, snap).map { t =>
          var sv = 0L
          t.payload.foreach(v => sv += Math.rint(v).toLong)
          (tag, 1L, t.payload.length.toLong, sv)
        }.toDF("snap", "t", "n", "sv")
      stats(1L, 1L).unionByName(stats(snap2, 2L))
        .groupBy($"snap")
        .agg(sum($"t").as("n_tiles"), sum($"n").as("n_cells"),
          sum($"sv").as("sum_v"))
        .orderBy($"snap")
    },
      """WITH cells AS (
        |  SELECT r.r AS r, c.c AS c, (r.r * 7 + c.c * 3) % 100 AS v
        |  FROM range(96) r(r), range(160) c(c)),
        |s1 AS (SELECT 1 AS snap, 6 AS n_tiles, count(*) AS n_cells,
        |    sum(v) AS sum_v FROM cells),
        |s2 AS (SELECT 2 AS snap, 7 AS n_tiles, count(*) + 4 AS n_cells,
        |    sum(v + CASE WHEN (c // 64) % 2 = 0 THEN 1000 ELSE 0 END) + 10
        |      AS sum_v FROM cells)
        |SELECT CAST(snap AS BIGINT) AS snap,
        |  CAST(n_tiles AS BIGINT) AS n_tiles,
        |  CAST(n_cells AS BIGINT) AS n_cells,
        |  CAST(sum_v AS BIGINT) AS sum_v
        |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
        |ORDER BY snap""".stripMargin),

    // SNAPSHOT COMPACTION equivalence (rewrite_data_files analog): 8
    // small buckets compact to 2, and BOTH snapshots — pre- and post-
    // compaction — read back with identical content invariants; the
    // compacted snapshot is a pure physical rewrite (fewer, larger
    // files), never a logical change. With q18 (COW upsert) and s9
    // (streaming ingest) this completes the driver-gated table-format
    // maintenance story.
    GatedQuery("q20_compact_equiv", (s, _) => {
      import s.implicits._
      val dir = scratchDir("q20-icelite")
      val ref = GridRef(ncols = 160, nrows = 96, xll = 0, yll = 0,
        cellsize = 1, nodata = -9999)
      val base = TileOps.tileGrid(s, ref, tileRes)((r, c) =>
        ((r * 7 + c * 3) % 100).toDouble)
      graft.icelite.IceLite.commitResumable(s, base, dir, buckets = 8,
        snap = 1L)
      val snap2 = graft.icelite.IceLite.compact(s, dir, targetBuckets = 2)
      def stats(snap: Long, tag: Long) =
        graft.icelite.IceLite.read(s, dir, snap).map { t =>
          var sv = 0L
          t.payload.foreach(v => sv += Math.rint(v).toLong)
          (tag, 1L, t.payload.length.toLong, sv)
        }.toDF("snap", "t", "n", "sv")
      stats(1L, 1L).unionByName(stats(snap2, 2L))
        .groupBy($"snap")
        .agg(sum($"t").as("n_tiles"), sum($"n").as("n_cells"),
          sum($"sv").as("sum_v"))
        .orderBy($"snap")
    },
      // q20: compaction is content-neutral, so both snapshots are the SAME
      // closed-form row (6 tiles of the 96x160 formula grid)
      """WITH cells AS (
        |  SELECT (r.r * 7 + c.c * 3) % 100 AS v
        |  FROM range(96) r(r), range(160) c(c)),
        |one AS (SELECT 6 AS n_tiles, count(*) AS n_cells,
        |    sum(v) AS sum_v FROM cells)
        |SELECT CAST(t.s AS BIGINT) AS snap,
        |  CAST(n_tiles AS BIGINT) AS n_tiles,
        |  CAST(n_cells AS BIGINT) AS n_cells,
        |  CAST(sum_v AS BIGINT) AS sum_v
        |FROM one, (VALUES (1), (2)) t(s) ORDER BY snap""".stripMargin),

    // SCHEMA EVOLUTION gated end-to-end: metadata-only add-column (no
    // data file touched), read-time NULL-fill of pre-evolution files,
    // then a COW upsert backfilling the new column for 2 of 6 tiles —
    // the 4 untouched tiles carry by reference and still null-fill.
    // Payload sums prove the evolution/backfill never perturbs data.
    GatedQuery("q21_schema_evolution", (s, _) => {
      import s.implicits._
      val dir = scratchDir("q21-icelite")
      val ref = GridRef(ncols = 160, nrows = 96, xll = 0, yll = 0,
        cellsize = 1, nodata = -9999)
      val base = TileOps.tileGrid(s, ref, tileRes)((r, c) =>
        ((r * 7 + c * 3) % 100).toDouble)
      graft.icelite.IceLite.commitResumable(s, base, dir, buckets = 4,
        snap = 1L)
      graft.icelite.IceLite.evolveAddColumn(dir, "grade", "BIGINT")
      val updates = base.filter(_.col0 == 0).toDF()
        .withColumn("grade", lit(7L))
      val snap2 = graft.icelite.IceLite.upsertDf(s, dir, updates)
      def stats(snap: Long, tag: Long) =
        graft.icelite.IceLite.readDf(s, dir, snap)
          .select(lit(tag).as("phase"), lit(1L).as("t"),
            when($"grade".isNotNull, 1L).otherwise(0L).as("gs"),
            coalesce($"grade", lit(0L)).as("g"),
            aggregate($"payload", lit(0L),
              (acc, v) => acc + v.cast("long")).as("sv"))
      stats(1L, 1L).unionByName(stats(snap2, 2L))
        .groupBy($"phase")
        .agg(sum($"t").as("n_tiles"), sum($"gs").as("n_grade_set"),
          sum($"g").as("sum_grade"), sum($"sv").as("sum_v"))
        .orderBy($"phase")
    },
      // q21: constants from the evolution contract (6 tiles, 2 backfilled
      // at grade 7) + the formula-grid payload sum proving data stability
      """WITH cells AS (
        |  SELECT (r.r * 7 + c.c * 3) % 100 AS v
        |  FROM range(96) r(r), range(160) c(c)),
        |one AS (SELECT sum(v) AS sum_v FROM cells)
        |SELECT CAST(p.p AS BIGINT) AS phase, CAST(6 AS BIGINT) AS n_tiles,
        |  CAST(CASE WHEN p.p = 2 THEN 2 ELSE 0 END AS BIGINT) AS n_grade_set,
        |  CAST(CASE WHEN p.p = 2 THEN 14 ELSE 0 END AS BIGINT) AS sum_grade,
        |  CAST(sum_v AS BIGINT) AS sum_v
        |FROM one, (VALUES (1), (2)) p(p) ORDER BY phase""".stripMargin),

    // ICELITE INCREMENTAL CHANGELOG read (Iceberg incremental-scan /
    // Delta Change-Data-Feed analog) gated end-to-end: commit snapshot 1,
    // COW upsert (+1000 on the even 64-col tile bands, one appended
    // tile) -> snapshot 2, COW row-level DELETE (the appended tile + the
    // untouched (0,64) tile) -> snapshot 3, then readChanges over BOTH
    // intervals. Pruning is metadata-only — files carried between
    // manifests by reference are never opened, so the diff reads only
    // the touched buckets — and updates emit pre+post images whose
    // content-equality backstop drops rewritten-but-unchanged carries.
    // Gated as per-interval per-change-type tile/cell/value totals.
    GatedQuery("q22_incremental_read", (s, _) => {
      import s.implicits._
      val dir = scratchDir("q22-icelite")
      val ref = GridRef(ncols = 160, nrows = 96, xll = 0, yll = 0,
        cellsize = 1, nodata = -9999)
      val base = TileOps.tileGrid(s, ref, tileRes)((r, c) =>
        ((r * 7 + c * 3) % 100).toDouble)
      graft.icelite.IceLite.commitResumable(s, base, dir, buckets = 4,
        snap = 1L)
      val upd = base.filter(t => (t.col0 / 64) % 2 == 0)
        .map(t => t.copy(payload = t.payload.map(_ + 1000.0)))
      val extra = s.createDataset(Seq(graft.core.Tile(
        graft.core.CellId.encode(tileRes, 999, 999), 999 * 64, 999 * 64,
        2, 2, Array(1.0, 2.0, 3.0, 4.0))))
      val snap2 = graft.icelite.IceLite.upsert(s, dir, upd.union(extra))
      val delKeys = base.filter(t => t.row0 == 0 && t.col0 == 64).toDF()
        .select($"cellId")
        .unionByName(extra.toDF().select($"cellId"))
      val snap3 = graft.icelite.IceLite.deleteRows(s, dir, delKeys)
      def phase(a: Long, b: Long, tag: Long) =
        graft.icelite.IceLite.readChanges(s, dir, a, b)
          .select(lit(tag).as("phase"), $"_change_type".as("ct"), $"payload")
          .as[(Long, String, Array[Double])]
      phase(1L, snap2, 1L).union(phase(snap2, snap3, 2L))
        .map { case (p, ct, pl) =>
          var sv = 0L
          pl.foreach(v => sv += Math.rint(v).toLong)
          (p, ct, 1L, pl.length.toLong, sv)
        }
        .toDF("phase", "change_type", "t", "n", "sv")
        .groupBy($"phase", $"change_type")
        .agg(sum($"t").as("n_tiles"), sum($"n").as("n_cells"),
          sum($"sv").as("sum_v"))
        .orderBy($"phase", $"change_type")
    },
      // q22: changelog totals in closed form from the construction — the
      // upsert touches the (c // 64) even bands (+1000/cell, 4 tiles,
      // 9216 cells), the insert is the 4-cell [1,2,3,4] tile, the delete
      // phase removes that tile plus the untouched (r<64, 64<=c<128) tile
      """WITH cells AS (
        |  SELECT r.r AS r, c.c AS c, (r.r * 7 + c.c * 3) % 100 AS v
        |  FROM range(96) r(r), range(160) c(c)),
        |upd AS (SELECT * FROM cells WHERE (c // 64) % 2 = 0),
        |del AS (SELECT * FROM cells WHERE r < 64 AND c >= 64 AND c < 128),
        |rows AS (
        |  SELECT 1 AS phase, 'insert' AS change_type,
        |      1 AS n_tiles, 4 AS n_cells, 10 AS sum_v
        |  UNION ALL SELECT 1, 'update_postimage', 4, count(*),
        |      sum(v + 1000) FROM upd
        |  UNION ALL SELECT 1, 'update_preimage', 4, count(*),
        |      sum(v) FROM upd
        |  UNION ALL SELECT 2, 'delete', 2, count(*) + 4,
        |      sum(v) + 10 FROM del)
        |SELECT CAST(phase AS BIGINT) AS phase, change_type,
        |  CAST(n_tiles AS BIGINT) AS n_tiles,
        |  CAST(n_cells AS BIGINT) AS n_cells,
        |  CAST(sum_v AS BIGINT) AS sum_v
        |FROM rows ORDER BY phase, change_type""".stripMargin),

    // ICELITE CDC REPLICATION (q23): the changelog is proven COMPLETE
    // and REPLAYABLE by rebuilding a second physical table from NOTHING
    // but q22's per-interval readChanges feed — mirror starts as a copy
    // of snapshot 1, then each interval's inserts/update-postimages
    // upsert and deletes delete, exactly the Iceberg-CDC-to-downstream
    // pattern. Gated as per-stage invariants where mirror must equal
    // source after every applied interval.
    GatedQuery("q23_cdc_apply", (s, _) => {
      import s.implicits._
      val il = graft.icelite.IceLite
      val src = scratchDir("q23-src")
      val mir = scratchDir("q23-mir")
      val ref = GridRef(ncols = 160, nrows = 96, xll = 0, yll = 0,
        cellsize = 1, nodata = -9999)
      val base = TileOps.tileGrid(s, ref, tileRes)((r, c) =>
        ((r * 7 + c * 3) % 100).toDouble)
      il.commitResumable(s, base, src, buckets = 4, snap = 1L)
      val upd = base.filter(t => (t.col0 / 64) % 2 == 0)
        .map(t => t.copy(payload = t.payload.map(_ + 1000.0)))
      val extra = s.createDataset(Seq(graft.core.Tile(
        graft.core.CellId.encode(tileRes, 999, 999), 999 * 64, 999 * 64,
        2, 2, Array(1.0, 2.0, 3.0, 4.0))))
      val snap2 = il.upsert(s, src, upd.union(extra))
      val delKeys = base.filter(t => t.row0 == 0 && t.col0 == 64).toDF()
        .select($"cellId").unionByName(extra.toDF().select($"cellId"))
      val snap3 = il.deleteRows(s, src, delKeys)
      // mirror boots from the snapshot-1 image, then consumes ONLY the feed
      il.commitResumableDf(s, il.readDf(s, src, 1L), mir, buckets = 2,
        snap = 1L)
      def stats(table: String, snap: Long, stage: Long, side: String) =
        il.read(s, table, snap).map { t =>
          var sv = 0L
          t.payload.foreach(v => sv += Math.rint(v).toLong)
          (stage, side, 1L, t.payload.length.toLong, sv)
        }.toDF("stage", "side", "t", "n", "sv")
      val parts = Seq(snap2, snap3).map { sn =>
        // localCheckpoint, not persist: the columnar InMemoryRelation
        // encode of 4096-double payload arrays cost more than the
        // changelog itself (measured ~1.6s/interval); the RDD-block
        // checkpoint caches rows as-is
        val ch = il.readChanges(s, src, sn - 1, sn).localCheckpoint(false)
        // ONE action decides both apply branches (and materializes the
        // lazily checkpointed changelog) — two separate isEmpty probes
        // were two extra driver round-trips per interval
        val nByType = ch.groupBy($"_change_type").count()
          .as[(String, Long)].collect().toMap
        val ups = ch.filter($"_change_type".isin("insert", "update_postimage"))
          .drop("_change_type")
        if (nByType.getOrElse("insert", 0L) +
            nByType.getOrElse("update_postimage", 0L) > 0) il.upsertDf(s, mir, ups)
        val dels = ch.filter($"_change_type" === "delete").select($"cellId")
        if (nByType.getOrElse("delete", 0L) > 0) il.deleteRows(s, mir, dels)
        ch.unpersist()
        val mHead = il.currentSnapshot(mir).get
        stats(src, sn, sn, "source").unionByName(stats(mir, mHead, sn, "mirror"))
      }
      parts.reduce(_ unionByName _)
        .groupBy($"stage", $"side")
        .agg(sum($"t").as("n_tiles"), sum($"n").as("n_cells"),
          sum($"sv").as("sum_v"))
        .orderBy($"stage", $"side")
    },
      // q23: mirror must carry the SAME closed-form invariants as source
      // after every applied changelog interval
      """WITH cells AS (
        |  SELECT r.r AS r, c.c AS c, (r.r * 7 + c.c * 3) % 100 AS v
        |  FROM range(96) r(r), range(160) c(c)),
        |upd AS (SELECT * FROM cells WHERE (c // 64) % 2 = 0),
        |del AS (SELECT * FROM cells WHERE r < 64 AND c >= 64 AND c < 128),
        |s2 AS (SELECT (SELECT sum(v) FROM cells)
        |  + 1000 * (SELECT count(*) FROM upd) + 10 AS sv),
        |s3 AS (SELECT (SELECT sv FROM s2) - 10
        |  - (SELECT sum(v) FROM del) AS sv),
        |rows AS (
        |  SELECT 2 AS stage, 'mirror' AS side, 7 AS n_tiles,
        |    15364 AS n_cells, (SELECT sv FROM s2) AS sum_v
        |  UNION ALL SELECT 2, 'source', 7, 15364, (SELECT sv FROM s2)
        |  UNION ALL SELECT 3, 'mirror', 5, 11264, (SELECT sv FROM s3)
        |  UNION ALL SELECT 3, 'source', 5, 11264, (SELECT sv FROM s3))
        |SELECT CAST(stage AS BIGINT) AS stage, side,
        |  CAST(n_tiles AS BIGINT) AS n_tiles,
        |  CAST(n_cells AS BIGINT) AS n_cells,
        |  CAST(sum_v AS BIGINT) AS sum_v
        |FROM rows ORDER BY stage, side""".stripMargin),

    // ICELITE WRITE-AUDIT-PUBLISH (q24): the Iceberg staging-branch
    // pattern — THE production ingestion shape at 100 TB: a full
    // snapshot (data + lineage + manifest) is committed to a NAMED REF
    // without moving the current pointer, an audit validates it by
    // reading the ref, and one atomic metadata flip publishes. Gated as
    // three stages: main before publish (must still be the old
    // snapshot), the staged branch, and main after publish.
    GatedQuery("q24_wap", (s, _) => {
      import s.implicits._
      val il = graft.icelite.IceLite
      val dir = scratchDir("q24-icelite")
      val ref = GridRef(ncols = 160, nrows = 96, xll = 0, yll = 0,
        cellsize = 1, nodata = -9999)
      val base = TileOps.tileGrid(s, ref, tileRes)((r, c) =>
        ((r * 7 + c * 3) % 100).toDouble)
      il.commitResumable(s, base, dir, buckets = 4, snap = 1L)
      val staged = base.map(t => t.copy(payload = t.payload.map(_ + 1000.0)))
      il.commitResumable(s, staged, dir, buckets = 4, snap = 2L,
        stageRef = Some("audit"))
      def stats(snap: Long, stage: String) =
        il.read(s, dir, snap).map { t =>
          var sv = 0L
          t.payload.foreach(v => sv += Math.rint(v).toLong)
          (stage, 1L, t.payload.length.toLong, sv)
        }.toDF("stage", "t", "n", "sv")
      val preMain = stats(il.currentSnapshot(dir).get, "a_pre_main")
      val auditSnap = il.refSnapshot(dir, "audit").get
      val branch = stats(auditSnap, "b_branch")
      // the audit: staged row count must match main before the flip
      require(il.read(s, dir, auditSnap).count() ==
        il.read(s, dir, 1L).count(), "WAP audit failed")
      il.publish(dir, "audit")
      val postMain = stats(il.currentSnapshot(dir).get, "c_post_main")
      preMain.unionByName(branch).unionByName(postMain)
        .groupBy($"stage")
        .agg(sum($"t").as("n_tiles"), sum($"n").as("n_cells"),
          sum($"sv").as("sum_v"))
        .orderBy($"stage")
    },
      // q24: pre-publish main = base grid; branch and post-publish main =
      // the +1000 staged image
      """WITH cells AS (
        |  SELECT r.r AS r, c.c AS c, (r.r * 7 + c.c * 3) % 100 AS v
        |  FROM range(96) r(r), range(160) c(c)),
        |rows AS (
        |  SELECT 'a_pre_main' AS stage, 6 AS n_tiles, count(*) AS n_cells,
        |    sum(v) AS sum_v FROM cells
        |  UNION ALL SELECT 'b_branch', 6, count(*), sum(v + 1000) FROM cells
        |  UNION ALL SELECT 'c_post_main', 6, count(*), sum(v + 1000)
        |    FROM cells)
        |SELECT stage, CAST(n_tiles AS BIGINT) AS n_tiles,
        |  CAST(n_cells AS BIGINT) AS n_cells,
        |  CAST(sum_v AS BIGINT) AS sum_v
        |FROM rows ORDER BY stage""".stripMargin),

    // ICELITE RANGE DELETE (q25): the retention / partition-drop shape.
    // A single tile row makes Z-order ids monotonic in tx, so the range
    // edges hit bucket boundaries: deleting col0 in [448, 576) drops one
    // data file at the METADATA level (manifest rows -> 0, file never
    // opened — O(manifest) partition drops at 100 TB), COW-rewrites the
    // one straddling file, and carries the rest by reference; the old
    // snapshot still time-travels to the full strip (stage 3 == stage 1).
    // File-level behavior is pinned in IceLiteSpec; this gates content.
    GatedQuery("q25_range_delete", (s, _) => {
      import s.implicits._
      val il = graft.icelite.IceLite
      val dir = scratchDir("q25-icelite")
      val ref = GridRef(ncols = 1024, nrows = 64, xll = 0, yll = 0,
        cellsize = 1, nodata = -9999)
      val strip = TileOps.tileGrid(s, ref, tileRes)((r, c) =>
        ((r * 7 + c * 3) % 100).toDouble)
      il.commitResumable(s, strip, dir, buckets = 4, snap = 1L)
      val s2 = il.deleteRange(s, dir,
        graft.core.CellId.encode(tileRes, 7, 0),
        graft.core.CellId.encode(tileRes, 8, 0))
      def stats(snap: Long, stage: Long) =
        il.read(s, dir, snap).map { t =>
          var sv = 0L
          t.payload.foreach(v => sv += Math.rint(v).toLong)
          (stage, 1L, t.payload.length.toLong, sv)
        }.toDF("stage", "t", "n", "sv")
      stats(1L, 1L).unionByName(stats(s2, 2L)).unionByName(stats(1L, 3L))
        .groupBy($"stage")
        .agg(sum($"t").as("n_tiles"), sum($"n").as("n_cells"),
          sum($"sv").as("sum_v"))
        .orderBy($"stage")
    },
      // q25: survivors are exactly the cells outside col [448, 576);
      // stage 3 time-travels back to the full strip
      """WITH cells AS (
        |  SELECT r.r AS r, c.c AS c, (r.r * 7 + c.c * 3) % 100 AS v
        |  FROM range(64) r(r), range(1024) c(c)),
        |kept AS (SELECT * FROM cells WHERE c < 448 OR c >= 576),
        |rows AS (
        |  SELECT 1 AS stage, 16 AS n_tiles, count(*) AS n_cells,
        |    sum(v) AS sum_v FROM cells
        |  UNION ALL SELECT 2, 14, count(*), sum(v) FROM kept
        |  UNION ALL SELECT 3, 16, count(*), sum(v) FROM cells)
        |SELECT CAST(stage AS BIGINT) AS stage,
        |  CAST(n_tiles AS BIGINT) AS n_tiles,
        |  CAST(n_cells AS BIGINT) AS n_cells,
        |  CAST(sum_v AS BIGINT) AS sum_v
        |FROM rows ORDER BY stage""".stripMargin),

    // ICELITE ROLLBACK (q26): metadata-only rollback_to_snapshot — the
    // bad-commit undo. After rolling back past an upsert, the head
    // re-reads as the original image, the ABANDONED snapshot still
    // time-travels by pin (until expiry), and the next write allocates
    // ids PAST the abandoned head (nextSnapshotId), branching history
    // without overwriting it.
    GatedQuery("q26_rollback", (s, _) => {
      import s.implicits._
      val il = graft.icelite.IceLite
      val dir = scratchDir("q26-icelite")
      val ref = GridRef(ncols = 160, nrows = 96, xll = 0, yll = 0,
        cellsize = 1, nodata = -9999)
      val base = TileOps.tileGrid(s, ref, tileRes)((r, c) =>
        ((r * 7 + c * 3) % 100).toDouble)
      il.commitResumable(s, base, dir, buckets = 4, snap = 1L)
      val upd = base.filter(t => (t.col0 / 64) % 2 == 0)
        .map(t => t.copy(payload = t.payload.map(_ + 1000.0)))
      val snap2 = il.upsert(s, dir, upd)
      il.rollback(dir, 1L)
      val extra = s.createDataset(Seq(graft.core.Tile(
        graft.core.CellId.encode(tileRes, 999, 999), 999 * 64, 999 * 64,
        2, 2, Array(1.0, 2.0, 3.0, 4.0))))
      val snap3 = il.upsert(s, dir, extra) // must land PAST the abandoned head
      require(snap3 == snap2 + 1, s"id allocation reused $snap3")
      def stats(snap: Long, stage: Long) =
        il.read(s, dir, snap).map { t =>
          var sv = 0L
          t.payload.foreach(v => sv += Math.rint(v).toLong)
          (stage, 1L, t.payload.length.toLong, sv)
        }.toDF("stage", "t", "n", "sv")
      // 1: the rolled-back head's image (== base, read via the pin the
      //    rollback re-pointed to); 2: the abandoned upsert, readable by
      //    pin; 3: the branched head (base + extra)
      stats(1L, 1L).unionByName(stats(snap2, 2L)).unionByName(stats(snap3, 3L))
        .groupBy($"stage")
        .agg(sum($"t").as("n_tiles"), sum($"n").as("n_cells"),
          sum($"sv").as("sum_v"))
        .orderBy($"stage")
    },
      // q26: stage 1/3 are the base image (+extra at 3); stage 2 is the
      // abandoned upsert, still pinned
      """WITH cells AS (
        |  SELECT r.r AS r, c.c AS c, (r.r * 7 + c.c * 3) % 100 AS v
        |  FROM range(96) r(r), range(160) c(c)),
        |upd AS (SELECT * FROM cells WHERE (c // 64) % 2 = 0),
        |rows AS (
        |  SELECT 1 AS stage, 6 AS n_tiles, count(*) AS n_cells,
        |    sum(v) AS sum_v FROM cells
        |  UNION ALL SELECT 2, 6, (SELECT count(*) FROM cells),
        |    (SELECT sum(v) FROM cells) + 1000 * count(*) FROM upd
        |  UNION ALL SELECT 3, 7, count(*) + 4, sum(v) + 10 FROM cells)
        |SELECT CAST(stage AS BIGINT) AS stage,
        |  CAST(n_tiles AS BIGINT) AS n_tiles,
        |  CAST(n_cells AS BIGINT) AS n_cells,
        |  CAST(sum_v AS BIGINT) AS sum_v
        |FROM rows ORDER BY stage""".stripMargin),

    // ICELITE METADATA TABLES (q27): the Iceberg `table$files` analog —
    // per-file rows straight from the manifest, NO parquet footer opened.
    // The single-tile-row strip makes the Z-order bucket layout exact:
    // ids are (6<<58) + spread(tx), so every file's row count and
    // min/max cell stats are closed-form — the oracle hardcodes the
    // interleave table. This gates the PRUNING METADATA itself (the
    // stats every range-pruned read depends on).
    GatedQuery("q27_files_meta", (s, _) => {
      import s.implicits._
      val il = graft.icelite.IceLite
      val dir = scratchDir("q27-icelite")
      val ref = GridRef(ncols = 1024, nrows = 64, xll = 0, yll = 0,
        cellsize = 1, nodata = -9999)
      val strip = TileOps.tileGrid(s, ref, tileRes)((r, c) =>
        ((r * 7 + c * 3) % 100).toDouble)
      il.commitResumable(s, strip, dir, buckets = 4, snap = 1L)
      il.filesDf(s, dir, 1L)
        .select($"bucket".cast("long").as("bucket"), $"file_rows",
          $"min_cell", $"max_cell")
        .orderBy($"bucket")
    },
      // q27: the Z-order layout in closed form — ids are
      // 6*2^58 + spread(tx) with spread the bit-interleave table for
      // tx 0..15: {0,1,4,5,16,17,20,21,64,65,68,69,80,81,84,85}; the
      // value-range bucketing over span 86 puts tx 0-7 in bucket 0,
      // nothing in 1, tx 8 alone in 2, tx 9-15 in 3
      """WITH z AS (SELECT CAST(6 AS BIGINT) * 288230376151711744 AS b),
        |rows AS (
        |  SELECT 0 AS bucket, 8 AS file_rows,
        |    (SELECT b FROM z) + 0 AS min_cell,
        |    (SELECT b FROM z) + 21 AS max_cell
        |  UNION ALL SELECT 1, 0, 0, 0
        |  UNION ALL SELECT 2, 1, (SELECT b FROM z) + 64,
        |    (SELECT b FROM z) + 64
        |  UNION ALL SELECT 3, 7, (SELECT b FROM z) + 65,
        |    (SELECT b FROM z) + 85)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(file_rows AS BIGINT) AS file_rows,
        |  CAST(min_cell AS BIGINT) AS min_cell,
        |  CAST(max_cell AS BIGINT) AS max_cell
        |FROM rows ORDER BY bucket""".stripMargin),

    // ICELITE LINEAGE AUDIT (q28): the per-partition LINEAGE ROWS the
    // north rule requires — (bucket, rows, order-independent checksum)
    // as durably recorded at commit time — under the driver hash gate.
    // The checksum is XOR of (cellId*31 + payload_len) over the
    // bucket's rows (Long wraparound), recomputed independently by the
    // oracle from the closed-form Z-order layout via HUGEINT mod-2^64
    // arithmetic, so a single dropped or double-committed row anywhere
    // in any bucket flips the gate.
    GatedQuery("q28_lineage_audit", (s, _) => {
      import s.implicits._
      val il = graft.icelite.IceLite
      val dir = scratchDir("q28-icelite")
      val ref = GridRef(ncols = 1024, nrows = 64, xll = 0, yll = 0,
        cellsize = 1, nodata = -9999)
      val strip = TileOps.tileGrid(s, ref, tileRes)((r, c) =>
        ((r * 7 + c * 3) % 100).toDouble)
      il.commitResumable(s, strip, dir, buckets = 4, snap = 1L)
      s.createDataset(il.lineage(dir, 1L))
        .select($"bucket".cast("long").as("bucket"), $"rows",
          $"checksum")
        .orderBy($"bucket")
    },
      // q28: the closed-form Z-order layout (q27's spread table) bucketed
      // by the value-range rule, each bucket's checksum re-derived as
      // XOR of (cid*31 + 4096) under HUGEINT mod-2^64 -> signed-BIGINT
      // wraparound — exactly Scala's Long overflow semantics
      """WITH sp(tx, z) AS (VALUES (0,0),(1,1),(2,4),(3,5),(4,16),(5,17),(6,20),
        |    (7,21),(8,64),(9,65),(10,68),(11,69),(12,80),(13,81),(14,84),(15,85)),
        |t AS (SELECT CAST(6 AS BIGINT) * 288230376151711744 + z AS cid,
        |    LEAST(3, (z * 4) // 86) AS bucket FROM sp),
        |term AS (SELECT bucket,
        |    CAST(CASE WHEN m >= 9223372036854775808 THEN m - 18446744073709551616
        |         ELSE m END AS BIGINT) AS x
        |  FROM (SELECT bucket,
        |      (CAST(cid AS HUGEINT) * 31 + 4096) % 18446744073709551616 AS m
        |    FROM t) s),
        |agg AS (SELECT bucket, count(*) AS n, bit_xor(x) AS chk
        |  FROM term GROUP BY bucket)
        |SELECT CAST(b.b AS BIGINT) AS bucket,
        |  CAST(coalesce(a.n, 0) AS BIGINT) AS "rows",
        |  CAST(coalesce(a.chk, 0) AS BIGINT) AS checksum
        |FROM range(4) b(b) LEFT JOIN agg a ON a.bucket = b.b
        |ORDER BY bucket""".stripMargin),

    // ICELITE METADATA-ONLY COUNT (q29): the Iceberg count(*) pushdown —
    // per-stage (live files, total rows) answered from the MANIFEST
    // ALONE across a commit -> range delete -> COW upsert sequence; no
    // parquet footer or data page is opened for any count. The numbers
    // must track every mutation exactly: the delete drops one full file
    // at the metadata level and COW-shrinks the straddler; the upsert
    // rewrites one bucket in place (counts unchanged).
    GatedQuery("q29_meta_count", (s, _) => {
      import s.implicits._
      val il = graft.icelite.IceLite
      val dir = scratchDir("q29-icelite")
      val ref = GridRef(ncols = 1024, nrows = 64, xll = 0, yll = 0,
        cellsize = 1, nodata = -9999)
      val strip = TileOps.tileGrid(s, ref, tileRes)((r, c) =>
        ((r * 7 + c * 3) % 100).toDouble)
      il.commitResumable(s, strip, dir, buckets = 4, snap = 1L)
      val s2 = il.deleteRange(s, dir,
        graft.core.CellId.encode(tileRes, 7, 0),
        graft.core.CellId.encode(tileRes, 8, 0))
      val upd = strip.filter(t => t.col0 == 0)
        .map(t => t.copy(payload = t.payload.map(_ + 1000.0)))
      val s3 = il.upsert(s, dir, upd)
      val rows = Seq(1L, s2, s3).zipWithIndex.map { case (sn, i) =>
        ((i + 1).toLong, il.dataFileCount(dir, sn).toLong,
          il.countRows(dir, sn))
      }
      s.createDataset(rows).toDF("stage", "n_files", "n_rows")
        .orderBy($"stage")
    },
      // q29: derived from the construction — stage 1 commits 16 tiles into
      // buckets {0: tx0-7, 2: tx8, 3: tx9-15} (bucket 1 empty -> 3 live
      // files); the delete drops tx7 (COW, bucket 0 -> 7 rows) and all of
      // bucket 2 (metadata-only -> 0 rows, file count 2); the tx0 upsert
      // rewrites bucket 0 in place (counts unchanged)
      """WITH rows AS (
        |  SELECT 1 AS stage, 3 AS n_files, 16 AS n_rows
        |  UNION ALL SELECT 2, 2, 14
        |  UNION ALL SELECT 3, 2, 14)
        |SELECT CAST(stage AS BIGINT) AS stage,
        |  CAST(n_files AS BIGINT) AS n_files,
        |  CAST(n_rows AS BIGINT) AS n_rows
        |FROM rows ORDER BY stage""".stripMargin),

    // ICELITE SCAN-PLAN PRUNING (q30): the pruning DECISION itself under
    // the hash gate — for five probe ranges over the q25 strip, the
    // files the planner opens (manifest min/max overlap), the rows those
    // files hold, and the rows actually in range after the exact filter.
    // Probe 2 lands in the gap BETWEEN buckets (all files pruned — the
    // empty-scan path); probe 3 straddles two buckets where scanned (9)
    // >> in-range (2) — the case manifest stats exist for at 100 TB.
    GatedQuery("q30_scan_prune", (s, _) => {
      import s.implicits._
      val il = graft.icelite.IceLite
      val dir = scratchDir("q30-icelite")
      val ref = GridRef(ncols = 1024, nrows = 64, xll = 0, yll = 0,
        cellsize = 1, nodata = -9999)
      val strip = TileOps.tileGrid(s, ref, tileRes)((r, c) =>
        ((r * 7 + c * 3) % 100).toDouble)
      il.commitResumable(s, strip, dir, buckets = 4, snap = 1L)
      val b = graft.core.CellId.encode(tileRes, 0, 0)
      val probes = Seq((1L, b, b + 21L), (2L, b + 22L, b + 63L),
        (3L, b + 21L, b + 64L), (4L, b + 65L, b + 85L), (5L, b, b + 85L))
      val rows = probes.map { case (pid, lo, hi) =>
        val nFiles = il.planFiles(dir, 1L, lo, hi).size.toLong
        val scanned = il.read(s, dir, 1L, Some((lo, hi)))
        val nScan = scanned.count()
        val nRange = scanned.filter(t => t.cellId >= lo && t.cellId <= hi)
          .count()
        (pid, nFiles, nScan, nRange)
      }
      s.createDataset(rows).toDF("probe", "n_files", "n_scanned", "n_in_range")
        .orderBy($"probe")
    },
      // q30: files re-derived from the spread table + the range-bucket
      // rule; a probe opens a file iff [min,max] overlaps, scans ALL its
      // rows, and the in-range count is the spread values inside the probe
      """WITH sp(z) AS (VALUES (0),(1),(4),(5),(16),(17),(20),(21),(64),(65),
        |    (68),(69),(80),(81),(84),(85)),
        |f AS (SELECT LEAST(3, (z * 4) // 86) AS bucket, min(z) AS lo,
        |    max(z) AS hi, count(*) AS nrows FROM sp GROUP BY 1),
        |pr(probe, plo, phi) AS (VALUES (1, 0, 21), (2, 22, 63), (3, 21, 64),
        |    (4, 65, 85), (5, 0, 85)),
        |scan AS (SELECT p.probe, count(f.bucket) AS n_files,
        |    coalesce(sum(f.nrows), 0) AS n_scanned
        |  FROM pr p LEFT JOIN f ON f.hi >= p.plo AND f.lo <= p.phi
        |  GROUP BY p.probe),
        |rng AS (SELECT p.probe, count(sp.z) AS n_in_range
        |  FROM pr p LEFT JOIN sp ON sp.z BETWEEN p.plo AND p.phi
        |  GROUP BY p.probe)
        |SELECT CAST(s.probe AS BIGINT) AS probe,
        |  CAST(s.n_files AS BIGINT) AS n_files,
        |  CAST(s.n_scanned AS BIGINT) AS n_scanned,
        |  CAST(r.n_in_range AS BIGINT) AS n_in_range
        |FROM scan s JOIN rng r ON r.probe = s.probe
        |ORDER BY probe""".stripMargin),

    // ICELITE SNAPSHOT EXPIRY + GC (q31): the retention lifecycle under
    // the hash gate — expire keeps the last 2 snapshots, deletes exactly
    // the ONE data directory no live manifest references (bucket 0's
    // pre-upsert file; bucket 3's old file is still referenced by the
    // kept snap 2 and MUST survive), the head and the kept pin stay
    // byte-identical, and reading the expired snapshot fails loudly.
    GatedQuery("q31_expire_gc", (s, _) => {
      import s.implicits._
      val il = graft.icelite.IceLite
      val dir = scratchDir("q31-icelite")
      val ref = GridRef(ncols = 1024, nrows = 64, xll = 0, yll = 0,
        cellsize = 1, nodata = -9999)
      val strip = TileOps.tileGrid(s, ref, tileRes)((r, c) =>
        ((r * 7 + c * 3) % 100).toDouble)
      il.commitResumable(s, strip, dir, buckets = 4, snap = 1L)
      val s2 = il.upsert(s, dir, strip.filter(t => t.col0 == 0)
        .map(t => t.copy(payload = t.payload.map(_ + 1000.0))))
      val s3 = il.upsert(s, dir, strip.filter(t => t.col0 == 960)
        .map(t => t.copy(payload = t.payload.map(_ + 500.0))))
      def rsum(snap: Long): Long = il.read(s, dir, snap).map { t =>
        var x = 0L; t.payload.foreach(v => x += Math.rint(v).toLong); x
      }.reduce(_ + _)
      val nBefore = il.snapshots(dir).size.toLong
      val headBefore = rsum(s3)
      val removed = il.expireSnapshots(dir, keepLast = 2).toLong
      val nAfter = il.snapshots(dir).size.toLong
      val headAfter = rsum(s3)
      val prevPin = rsum(s2)
      val gone =
        try { il.read(s, dir, 1L).count(); 0L }
        catch { case _: il.SnapshotNotFound => 1L }
      s.createDataset(Seq(
        ("a_before", nBefore, headBefore),
        ("b_after", nAfter, headAfter),
        ("c_gc", removed, prevPin),
        ("d_expired_pin", gone, 0L)))
        .toDF("stage", "n", "rint_sum")
        .orderBy($"stage")
    },
      // q31: stage numbers derived from the construction — head carries
      // both upserts (+1000 and +500 on one 4096-cell tile each), the
      // kept snap-2 pin carries only the first, expiry deletes exactly
      // one dead directory and the expired snapshot must be unreadable
      """WITH cells AS (
        |  SELECT r.r AS r, c.c AS c, (r.r * 7 + c.c * 3) % 100 AS v
        |  FROM range(64) r(r), range(1024) c(c)),
        |b AS (SELECT sum(v) AS sv FROM cells),
        |rows AS (
        |  SELECT 'a_before' AS stage, 3 AS n,
        |    (SELECT sv FROM b) + 4096000 + 2048000 AS rint_sum
        |  UNION ALL SELECT 'b_after', 2,
        |    (SELECT sv FROM b) + 4096000 + 2048000
        |  UNION ALL SELECT 'c_gc', 1, (SELECT sv FROM b) + 4096000
        |  UNION ALL SELECT 'd_expired_pin', 1, 0)
        |SELECT stage, CAST(n AS BIGINT) AS n,
        |  CAST(rint_sum AS BIGINT) AS rint_sum
        |FROM rows ORDER BY stage""".stripMargin),

    // ICELITE WAP AUDIT-REJECT (q32) — the arm q24 does not cover: a
    // staged snapshot FAILS its audit (4 of 6 tiles — a broken
    // upstream), is abandoned instead of published, and the abandon
    // must GC exactly the staged artifacts (4 data dirs — every staged
    // bucket is unshared), leave main byte-identical, and make both
    // the ref and the staged snapshot loudly unreadable.
    GatedQuery("q32_wap_reject", (s, _) => {
      import s.implicits._
      val il = graft.icelite.IceLite
      val dir = scratchDir("q32-icelite")
      val ref = GridRef(ncols = 160, nrows = 96, xll = 0, yll = 0,
        cellsize = 1, nodata = -9999)
      val base = TileOps.tileGrid(s, ref, tileRes)((r, c) =>
        ((r * 7 + c * 3) % 100).toDouble)
      il.commitResumable(s, base, dir, buckets = 4, snap = 1L)
      // broken upstream: the tx=0 tile column went missing
      il.commitResumable(s, base.filter(t => t.col0 != 0), dir,
        buckets = 4, snap = 2L, stageRef = Some("audit"))
      def stats(snap: Long): (Long, Long) = {
        val r0 = il.read(s, dir, snap).map { t =>
          var x = 0L; t.payload.foreach(v => x += Math.rint(v).toLong)
          (1L, x)
        }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
        r0
      }
      val (preN, preSum) = stats(1L)
      val staged = il.refSnapshot(dir, "audit").get
      val (stN, stSum) = stats(staged)
      val rejected = if (stN != preN) 1L else 0L // the audit verdict
      require(rejected == 1L, "q32: audit unexpectedly passed")
      val gc = il.abandonStaged(dir, "audit").toLong
      val (postN, postSum) = stats(1L)
      val gone =
        (try { il.read(s, dir, staged).count(); 0L }
        catch { case _: il.SnapshotNotFound => 1L }) min
          (if (il.refSnapshot(dir, "audit").isEmpty) 1L else 0L)
      s.createDataset(Seq(
        ("a_main_pre", preN, preSum),
        ("b_staged", stN, stSum),
        ("c_reject", rejected, 0L),
        ("d_gc", gc, 0L),
        ("e_main_post", postN, postSum),
        ("f_staged_gone", gone, 0L)))
        .toDF("stage", "n", "rint_sum")
        .orderBy($"stage")
    },
      // q32: numbers from the construction — main 6 tiles/base sum, the
      // staged branch 4 tiles / the c >= 64 sub-sum, audit rejects, GC
      // deletes the 4 unshared staged bucket dirs, main unchanged
      """WITH cells AS (
        |  SELECT r.r AS r, c.c AS c, (r.r * 7 + c.c * 3) % 100 AS v
        |  FROM range(96) r(r), range(160) c(c)),
        |rows AS (
        |  SELECT 'a_main_pre' AS stage, 6 AS n, sum(v) AS rint_sum
        |    FROM cells
        |  UNION ALL SELECT 'b_staged', 4, sum(v) FROM cells WHERE c >= 64
        |  UNION ALL SELECT 'c_reject', 1, 0
        |  UNION ALL SELECT 'd_gc', 4, 0
        |  UNION ALL SELECT 'e_main_post', 6, (SELECT sum(v) FROM cells)
        |  UNION ALL SELECT 'f_staged_gone', 1, 0)
        |SELECT stage, CAST(n AS BIGINT) AS n,
        |  CAST(rint_sum AS BIGINT) AS rint_sum
        |FROM rows ORDER BY stage""".stripMargin)
  )
}
