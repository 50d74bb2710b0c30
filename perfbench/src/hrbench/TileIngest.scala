package hrbench

import java.io.File
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core._
import graft.corpus.ImageCorpus
import graft.icelite.IceLite
import graft.sources.{GeoTiffReader, GeoTiffWriter}

/** tile_ingest: the write path on the storage and codec layers. Encodes
  * corpus tiles (PNG/JPG) and writes them as parquet, reads a GeoTIFF
  * fixture into tiles, commits them to an icelite table in 16 buckets,
  * upserts one contiguous eighth of the tiles and reads the new snapshot
  * back. The table and the encoded corpus are deleted after every pass,
  * so no pass reads an earlier pass's output. */
final class TileIngest(sz: Sizes, seed: Long, fixtures: File) extends Workload {
  val name = "tile_ingest"
  val steps = Seq("codecs.encode", "sources.tif_read", "icelite.commit",
    "icelite.upsert", "icelite.read")

  private val res = 8
  private val ts = 1 << res
  private val side = sz.tifSide
  require(side % ts == 0, "GeoTIFF side must be a whole number of tiles")
  private val tilesX = side / ts
  private val nTiles = tilesX * tilesX
  private val buckets = 16
  private val ref = GridRef(side, side, 500000.0, 200000.0, 5.0)
  private val tifPath = new File(fixtures, s"dem_s${side}_seed$seed.tif")

  // the edit window: one contiguous eighth of the tiles in row-major
  // order, at a seeded position aligned to its own length
  private val windowLen = math.max(1, nTiles / 8)
  private val windowStart = java.lang.Math.floorMod(Common.mix(seed), nTiles / windowLen) * windowLen
  private val editDelta = 1.5

  val cells: Long = sz.ingestTiles.toLong * ImageCorpus.TileSize * ImageCorpus.TileSize +
    side.toLong * side + windowLen.toLong * ts * ts

  private val grid = IngestGrid(tilesX, Common.phase(seed, 1), Common.phase(seed, 2))
  import grid.{base, tileOf}

  private def inWindow(k: Int) = k >= windowStart && k < windowStart + windowLen

  /** Snapshot checksum the generator formula predicts after the upsert. */
  private lazy val expectedChecksum: Long = (0 until nTiles).map { k =>
    val t = tileOf(k, if (inWindow(k)) editDelta else 0.0)
    Common.tileChecksum(t.cellId, t.payload)
  }.sum

  def prepare(spark: => SparkSession): Unit =
    if (!tifPath.exists()) {
      val data = new Array[Double](side * side)
      var i = 0
      while (i < data.length) { data(i) = base(i / side, i % side); i += 1 }
      val tmp = new File(tifPath.getPath + ".tmp")
      GeoTiffWriter.write(tmp.getPath, ref, data)
      require(tmp.renameTo(tifPath), s"cannot move the GeoTIFF fixture into $tifPath")
    }

  def load(spark: SparkSession): Unit = {
    require(GeoTiffReader.readHeaderRef(tifPath.getPath).ncols == side,
      s"GeoTIFF fixture $tifPath has the wrong size")
    expectedChecksum
  }

  /** (rows, checksum) of a tile set. */
  def summarize(ds: Dataset[Tile]): (Long, Long) = {
    import ds.sparkSession.implicits._
    ds.map(t => (1L, Common.tileChecksum(t.cellId, t.payload)))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  def checkEncoded(rows: Long): Check = Check("codecs.encode", rows == sz.ingestTiles,
    s"encoded table holds $rows rows, expected ${sz.ingestTiles}")
  def checkTable(step: String, rows: Long): Check = Check(step, rows == nTiles,
    s"snapshot after $step holds $rows rows, expected $nTiles")
  def checkRead(rows: Long, chk: Long): Check =
    Check("icelite.read", rows == nTiles && chk == expectedChecksum,
      s"read back $rows rows (expected $nTiles), checksum ${if (chk == expectedChecksum) "ok" else "differs"}")

  private def updates(spark: SparkSession): Dataset[Tile] = {
    import spark.implicits._
    val (g, start, d) = (grid, windowStart, editDelta)
    spark.range(windowLen.toLong).map(i => g.tileOf(start + i.toInt, d))
  }

  def pass(spark: SparkSession, tr: Tracer, work: File): PassResult = {
    import spark.implicits._
    val encoded = new File(work, "encoded").getPath
    val table = new File(work, "table")
    val ((commitBytes, upsertBytes, snaps, rows, chk), secs, heap) = Common.measure {
      tr.step("codecs.encode")(ImageCorpus.generate(spark, sz.ingestTiles, 16)
        .write.mode("overwrite").parquet(encoded))
      val tiles = tr.step("sources.tif_read")(
        GeoTiffReader.readTiles(spark, tifPath.getPath, res).map(_._2).localCheckpoint(true))
      val s1 = tr.step("icelite.commit")(
        IceLite.commitResumable(spark, tiles, table.getPath, buckets, snap = 1L))
      val b1 = Common.dirBytes(table)
      val s2 = tr.step("icelite.upsert")(IceLite.upsert(spark, table.getPath, updates(spark)))
      val b2 = Common.dirBytes(table)
      val (n, c) = tr.step("icelite.read")(summarize(IceLite.read(spark, table.getPath, s2)))
      (b1, b2 - b1, (s1, s2), n, c)
    }
    PassResult(secs, heap, Map(
      "icelite.commit.write_amp" -> commitBytes.toDouble / (side.toLong * side * 8),
      "icelite.upsert.write_amp" -> upsertBytes.toDouble / (windowLen.toLong * ts * ts * 8)),
      () => Seq(
        checkEncoded(spark.read.parquet(encoded).count()),
        checkTable("icelite.commit", IceLite.countRows(table.getPath, snaps._1)),
        checkTable("icelite.upsert", IceLite.countRows(table.getPath, snaps._2)),
        checkRead(rows, chk)))
  }

  def selfTest(spark: SparkSession, work: File): Seq[String] = {
    import spark.implicits._
    val encoded = new File(work, "encoded").getPath
    val table = new File(work, "table").getPath
    ImageCorpus.generate(spark, sz.ingestTiles - 1, 16).write.mode("overwrite").parquet(encoded)
    val tiles = GeoTiffReader.readTiles(spark, tifPath.getPath, res).map(_._2)
    val s1 = IceLite.commitResumable(spark, tiles.filter(_.row0 > 0), table, buckets, snap = 1L)
    val (n1, c1) = summarize(IceLite.read(spark, table, s1))
    Seq(
      "encoded table short one tile" -> checkEncoded(spark.read.parquet(encoded).count()),
      "commit missing a tile row" -> checkTable("icelite.commit", IceLite.countRows(table, s1)),
      "read-back without the edit" -> checkRead(n1, c1)
    ).collect { case (what, c) if c.error.isEmpty => what }
  }
}

/** The GeoTIFF fixture's values and the edited tiles, by formula. */
final case class IngestGrid(tilesX: Int, p1: Double, p2: Double) {
  private val ts = 256
  private val res = 8

  /** Cell value as the float32 file holds it. */
  def base(r: Int, c: Int): Double = {
    val x = c * 5.0
    val y = r * 5.0
    (120.0 + 40.0 * math.sin(x / 1300.0 + p1) + 22.0 * math.cos(y / 800.0 + p2) +
      0.003 * (x + y)).toFloat.toDouble
  }

  /** Tile k (row-major) with `delta` added to every cell. */
  def tileOf(k: Int, delta: Double): Tile = {
    val tx = k % tilesX
    val ty = k / tilesX
    val p = new Array[Double](ts * ts)
    var i = 0
    while (i < p.length) { p(i) = base(ty * ts + i / ts, tx * ts + i % ts) + delta; i += 1 }
    Tile(CellId.encode(res, tx, ty), ty * ts, tx * ts, ts, ts, p)
  }
}
