package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.corpus.{ImageCorpus, Synth}
import graft.gated._
import graft.gated.Fixtures.tileRes
import graft.operators.{Rasterize, TileOps}

/** The flagship [[entry]] pipeline and the registry of gated queries.
  * Each [[GatedQuery]] pairs one implemented operator's query (SURVEY.md
  * §2) with the DuckDB SQL that rebuilds the same result from the same
  * fixture; each family lives in one file under `graft/gated/`, each
  * query directly above its oracle.
  */
object SparkEntry {

  /** Flagship: the full north-star shape end-to-end —
    * (1) image+caption corpus -> decode -> dedup-early mosaic (last-wins by
    *     seq) -> per-tile stats + caption-lineage check;
    * (2) the reference tutorial pipeline (demo/tutorial_edit_DEM.ipynb):
    *     DEM tiles -> rect_clip -> rasterize CA1 features -> burn-edit join
    *     -> per-feature edit stats.
    * Returns one row per pipeline stage with row counts + checksums. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // (1) corpus leg
    val gridW = 8
    val corpus = ImageCorpus.generate(spark, 64, gridW)
    val decoded = ImageCorpus.decodeTiles(corpus, gridW)
    val captionsOk = decoded.map { t =>
      val i = t.imageId.stripPrefix("img-").toLong
      val src = if (i > 0 && i % 251 == 0) i - 1 else i
      val (tx, ty) = ((src % gridW).toInt, (src / gridW).toInt)
      if (t.caption == s"tile $tx,$ty of synthetic terrain; seed=42; fmt=${ImageCorpus.fmtOf(src)}") 1L else 0L
    }.reduce(_ + _)
    val mosaicTiles = TileOps.mosaic(decoded.map(t =>
      TilePatch(t.cellId, t.row0, t.col0, t.h, t.w,
        t.imageId.stripPrefix("img-").toLong.toInt, t.payload,
        TilePatch.fullCover(t.h * t.w))))
    val corpusValid = mosaicTiles.map(_.validCount).reduce(_ + _)

    // (2) tutorial leg
    val dem = TileOps.tileGrid(spark, Synth.demRef, tileRes)(Synth.demValue)
    val (clipped, _) = TileOps.rectClip(dem, Synth.demRef, Synth.tutorialClip, tileRes)
    val burned = Rasterize(spark, Synth.ca1Features, Synth.demRef, tileRes, useAttr = true)
    val edited = Rasterize.editJoin(TileOps.cells(clipped), burned)
      .withColumn("v_edit", when($"burn".isNotNull, $"v" - $"burn" * 2).otherwise($"v"))
    val editStats = edited.filter($"burn".isNotNull)
      .groupBy($"burn").agg(count(lit(1)).as("n"), sum($"v_edit").as("sum"))
      .collect().map(r => (s"edit_burn_${r.getDouble(0)}", r.getLong(1), r.getDouble(2)))

    val rows = Seq(
      ("corpus_caption_ok", captionsOk, 0.0),
      ("corpus_mosaic_valid_px", corpusValid, 0.0)) ++ editStats
    spark.createDataset(rows).toDF("stage", "n", "checksum")
  }

  /** Every gated query, family by family; names are unique. */
  val gated: Seq[GatedQuery] = {
    val all = RasterGates.gated ++ TerrainGates.gated ++ IceliteGates.gated ++
      RelationalGates.gated ++ ImageGates.gated ++ AudioGates.gated ++
      VideoGates.gated ++ TextGates.gated ++ EmbeddingGates.gated ++
      BatchGates.gated ++ StreamGates.gated ++ GraphGates.gated
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gated query names: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }

  /** The named queries, in the order given; no names means every query.
    * Throws IllegalArgumentException listing every unknown name, so a
    * typo can never select nothing. */
  def select(names: Seq[String]): Seq[GatedQuery] = {
    val unknown = names.filterNot(n => gated.exists(_.name == n))
    require(unknown.isEmpty, s"unknown gated query names: ${unknown.mkString(", ")}")
    if (names.isEmpty) gated else names.distinct.map(n => gated.find(_.name == n).get)
  }
}
