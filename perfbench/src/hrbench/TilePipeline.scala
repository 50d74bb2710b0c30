package hrbench

import java.io.File
import java.util.concurrent.{Callable, Executors, TimeUnit}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.codecs.ImageCodec
import graft.core._
import graft.corpus.{ImageCorpus, ImageRow}
import graft.operators.{Knn, PtRec, Rasterize}

/** tile_pipeline: the read path. Scans a pre-written image+caption corpus,
  * finds the losing duplicate tiles from the image ids alone, decodes and
  * computes stats for the winners only, burns 2x2-block quads (with 50x
  * duplicated features on tile row 0) and runs a kNN slab as a second
  * submitted branch. The corpus generator plants one duplicate at every
  * row i % 251 == 0 (i > 0), which repeats row i - 1's tile.
  *
  * Untraced, the dedup+decode+burn branch and the kNN branch run at the
  * same time, the kNN one on one extra submitter thread. Traced, each step
  * runs and is forced on its own. */
final class TilePipeline(sz: Sizes, seed: Long, fixtures: File) extends Workload {
  val name = "tile_pipeline"
  val steps = Seq("corpus.dedup", "codecs.decode", "rasterize.burn", "knn.slab")

  private val n = sz.corpusTiles
  private val gridW = sz.corpusGridW
  private val tileRows = n / gridW
  require(n % gridW == 0 && tileRows % 2 == 0, "corpus must be an even number of full tile rows")
  private val ts = ImageCorpus.TileSize
  val cells: Long = n.toLong * ts * ts

  private val corpusDir = new File(fixtures, s"corpus_n${n}_w$gridW")
  private val ref = ImageCorpus.corpusRef(n, gridW)
  private val plantedDups = (n - 1) / 251
  private val winnersExpected = n - plantedDups

  // 2x2-tile quads inset by 64 px: the edges lie on pixel boundaries, so
  // every quad burns exactly (2 * 256 - 128)^2 pixel centres
  private val inset = 64
  private val quadPx = (2L * ts - 2 * inset) * (2L * ts - 2 * inset)
  private val hotReps = 50
  private val burnExpected = (tileRows / 2).toLong * (gridW / 2) * quadPx
  private def quads(skip: Int = -1): Seq[Feature] = for {
    ty <- 0 until tileRows by 2
    tx <- 0 until gridW by 2
    if ty * gridW + tx != skip
    rep <- 0 until (if (ty == 0) hotReps else 1)
  } yield {
    val cs = ref.cellsize
    val x0 = ref.left + (tx * ts + inset) * cs
    val x1 = ref.left + ((tx + 2) * ts - inset) * cs
    val y1 = ref.top - (ty * ts + inset) * cs
    val y0 = ref.top - ((ty + 2) * ts - inset) * cs
    Feature((ty * gridW + tx) * 64L + rep, "polygon",
      Array(x0, x1, x1, x0, x0), Array(y0, y0, y1, y1, y0),
      attr = (tx + ty).toDouble, seq = ty * gridW + tx)
  }

  // kNN slab across the full corpus width, 2 points per tile; its height
  // scales with the tile-row count so the point density (64 cells per
  // point) does not depend on the corpus size
  private val slabH = math.max(16, tileRows * ts / 512)
  private val slabRef = GridRef(gridW * ts, slabH, ref.left,
    ref.top - slabH * ref.cellsize, ref.cellsize)
  private val knnExpected = slabRef.numCells

  private var corpus: Dataset[ImageRow] = _
  private val knnThread = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, "knn-branch"); t.setDaemon(true); t
  }

  def prepare(spark: => SparkSession): Unit =
    if (!new File(corpusDir, "_SUCCESS").exists())
      ImageCorpus.generate(spark, n, gridW).write.mode("overwrite").parquet(corpusDir.getPath)

  def load(spark: SparkSession): Unit = {
    import spark.implicits._
    corpus = spark.read.parquet(corpusDir.getPath).as[ImageRow]
  }

  /** The losing duplicates: for every cell, all ids but the highest. The
    * set is tiny, so it is broadcast into the anti join and the payloads
    * never shuffle. */
  private def losers(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val gw = gridW
    corpus.select("image_id").as[String].map { id =>
      val i = id.stripPrefix("img-").toLong
      val src = if (i > 0 && i % 251 == 0) i - 1 else i
      (CellId.encode(ImageCorpus.TileRes, src % gw, src / gw), i, id)
    }.groupByKey(_._1).flatMapGroups { (_, it) =>
      val rows = it.toArray
      if (rows.length <= 1) Iterator.empty
      else rows.sortBy(-_._2).iterator.drop(1).map(_._3)
    }.toDF("image_id")
  }

  /** (tiles decoded, pixels decoded) over the given rows. */
  private def decodeStats(rows: Dataset[ImageRow]): DataFrame = {
    import rows.sparkSession.implicits._
    rows.map(r => ImageCodec.decodeStats(r.bytes, r.fmt)._3.toLong).toDF("px")
      .agg(count(lit(1)).as("tiles"), sum($"px").as("px"))
  }

  private def burn(spark: SparkSession, feats: Seq[Feature],
      acc: Option[org.apache.spark.util.LongAccumulator]) =
    Rasterize(spark, feats, ref, ImageCorpus.TileRes, useAttr = true, burnedPx = acc)

  private def points(spark: SparkSession): Dataset[PtRec] = {
    import spark.implicits._
    val (s, r) = (seed, slabRef)
    spark.range(2L * n).map { i =>
      PtRec(i, r.left + Common.u01(s, i, 0) * r.ncols * r.cellsize,
        r.bottom + Common.u01(s, i, 1) * r.nrows * r.cellsize, (i % 400) / 4.0)
    }
  }

  private def knn(spark: SparkSession): DataFrame =
    Knn.nearestBucketed(spark, points(spark), slabRef, res = 6, ringK = 1)

  def checkDecode(tiles: Long, px: Long): Seq[Check] = Seq(
    Check("codecs.decode", tiles == winnersExpected,
      s"decoded $tiles tiles, expected $n - $plantedDups planted duplicates = $winnersExpected"),
    Check("codecs.decode", px == tiles * ts * ts, s"decoded $px pixels for $tiles tiles"))
  def checkBurn(rows: Long): Check = Check("rasterize.burn", rows == burnExpected,
    s"burned $rows pixels, expected $burnExpected")
  def checkKnn(rows: Long): Check = Check("knn.slab", rows == knnExpected,
    s"kNN answered $rows cells, expected $knnExpected")

  def pass(spark: SparkSession, tr: Tracer, work: File): PassResult =
    if (tr.active) tracedPass(spark, tr) else concurrentPass(spark)

  private def concurrentPass(spark: SparkSession): PassResult = {
    import spark.implicits._
    val ((main, knnRows), secs, heap) = Common.measure {
      val fKnn = knnThread.submit(new Callable[Long] {
        def call(): Long = knn(spark).count()
      })
      val winners = corpus.join(broadcast(losers(spark)), Seq("image_id"), "left_anti").as[ImageRow]
      // the kNN branch is waited for even if this one throws
      val main = try decodeStats(winners).select(lit(0).as("k"), $"tiles", $"px")
        .unionByName(burn(spark, quads(), None).agg(count(lit(1)).as("tiles"))
          .select(lit(1).as("k"), $"tiles", lit(0L).as("px")))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      finally scala.util.Try(fKnn.get())
      (main, fKnn.get())
    }
    val (tiles, px) = main(0)
    PassResult(secs, heap, Map.empty, () =>
      checkDecode(tiles, px) ++ Seq(checkBurn(main(1)._1), checkKnn(knnRows)))
  }

  private def tracedPass(spark: SparkSession, tr: Tracer): PassResult = {
    import spark.implicits._
    val burnedPx = spark.sparkContext.longAccumulator("burned-px")
    val ((nLosers, (tiles, px), burnRows, knnRows), secs, heap) = Common.measure {
      val (lost, nLost) = tr.step("corpus.dedup") {
        val l = losers(spark).localCheckpoint(true)
        (l, l.count())
      }
      val dec = tr.step("codecs.decode") {
        val r = decodeStats(corpus.join(broadcast(lost), Seq("image_id"), "left_anti")
          .as[ImageRow]).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      val b = tr.step("rasterize.burn")(burn(spark, quads(), Some(burnedPx)).count())
      val k = tr.step("knn.slab")(knn(spark).count())
      (nLost, dec, b, k)
    }
    PassResult(secs, heap, Map(
      "corpus.dedup.useful_ratio" -> (n - nLosers).toDouble / n,
      "codecs.decode.mpx" -> px / 1e6,
      "rasterize.burn.cells" -> burnedPx.value.toDouble), () =>
      Check("corpus.dedup", nLosers == plantedDups,
        s"found $nLosers losing duplicates, expected $plantedDups") +:
        (checkDecode(tiles, px) ++ Seq(checkBurn(burnRows), checkKnn(knnRows))))
  }

  def selfTest(spark: SparkSession, work: File): Seq[String] = {
    val noDedup = decodeStats(corpus).collect()(0)
    val shortBurn = burn(spark, quads(skip = 0), None).count()
    val shortKnn = knn(spark).limit(knnExpected.toInt - 1).count()
    Seq(
      "decode without dedup" -> checkDecode(noDedup.getLong(0), noDedup.getLong(1)),
      "burn missing one quad" -> Seq(checkBurn(shortBurn)),
      "kNN missing one cell" -> Seq(checkKnn(shortKnn))
    ).collect { case (what, cs) if cs.forall(_.error.isEmpty) => what }
  }

  override def close(): Unit = {
    knnThread.shutdownNow()
    knnThread.awaitTermination(30, TimeUnit.SECONDS)
  }
}
