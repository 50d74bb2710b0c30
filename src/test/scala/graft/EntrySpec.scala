package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class EntrySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("flagship entry: rows > 0, caption lineage intact, burn stats present") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length >= 6)
    val byStage = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStage("corpus_caption_ok") == 64L)
    assert(byStage("corpus_mosaic_valid_px") > 0L)
    assert(rows.count(_.getString(0).startsWith("edit_burn_")) == 4)
  }

  test("gated registry pin: the 184 names, unique, each with a non-blank oracle") {
    val names = SparkEntry.gated.map(_.name)
    assert(names.distinct.size == names.size)
    assert(names.sorted == EntrySpec.gatedNames)
    SparkEntry.gated.foreach(g => assert(g.oracle.trim.nonEmpty, g.name))
  }

  test("select: an unknown name fails and names itself; no names selects all") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("r1_grid_stats", "r1_grid_stat", "zz_nope")))
    assert(e.getMessage.contains("r1_grid_stat,") && e.getMessage.contains("zz_nope"))
    assert(SparkEntry.select(Nil) == SparkEntry.gated)
    assert(SparkEntry.select(Seq("r2_rect_clip", "q1_lineitem_agg")).map(_.name) ==
      Seq("r2_rect_clip", "q1_lineitem_agg"))
  }

  test("README quickstart flow: tif -> rect_clip -> rasterize(shp) -> edit -> write") {
    // the reference quickstart (README.md:36-60): Raster(tif) -> rect_clip
    // -> rasterize(shp) -> edit cells inside polygons -> write. Runs here
    // end-to-end on the engine's own GeoTIFF reader and the REAL CA1
    // shapefile (the reference's .tif is stripped from the snapshot, so
    // the deterministic fixture DEM stands in for the pixel content).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.core._
    import graft.corpus.Synth
    import graft.operators.{Rasterize, TileOps}
    import graft.sources.{AscIO, GeoTiffReader, GeoTiffWriter, ShpReader}
    val shp = "/root/reference/hydro_raster/sample/CA1_overhead_features.shp"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(shp)))
    val dir = java.nio.file.Files.createTempDirectory("quickstart")
    val ref = Synth.demRef.withEpsg(27700)
    val data = Array.tabulate(ref.nrows * ref.ncols)(i =>
      Synth.demValue(i / ref.ncols, i % ref.ncols))
    val tif = dir.resolve("dem.tif").toString
    GeoTiffWriter.write(tif, ref, data, tileSize = 64)

    // 1. read raster  2. clip  3. rasterize shapefile  4. edit  5. write
    val tiles = GeoTiffReader.readTiles(spark, tif, 6).map(_._2)
    val (clipped, (r0, r1, c0, c1)) =
      TileOps.rectClip(tiles, ref, Extent(340761, 341528, 554668, 555682), 6)
    val features = ShpReader.readFeatures(shp, "adjust_val")
    val burned = Rasterize(spark, features, ref, 6, useAttr = true)
    val edited = Rasterize.editJoin(TileOps.cells(clipped), burned)
      .withColumn("v2",
        when($"burn".isNotNull && $"v".isNotNull, $"v" - $"burn")
          .otherwise($"v"))
    val nEdited = edited.filter($"burn".isNotNull && $"v".isNotNull).count()
    assert(nEdited > 0)
    // write the edited clip back out as ASC and GeoTIFF; round-trip checks
    val outRef = ref.windowRef(r0, r1, c0, c1)
    val cellRows = edited.select($"row", $"col", $"v2").collect()
    val out = Array.fill(outRef.ncols * outRef.nrows)(Double.NaN)
    cellRows.foreach { r =>
      if (!r.isNullAt(2))
        out((r.getInt(0) - r0) * outRef.ncols + (r.getInt(1) - c0)) = r.getDouble(2)
    }
    val asc = dir.resolve("edited.asc").toString
    AscIO.writeFile(asc, outRef, out)
    val (refBack, dataBack) = AscIO.readFile(asc)
    assert(refBack == outRef) // incl. the EPSG:27700 crs via .prj sidecar
    assert(dataBack.count(!_.isNaN) == out.count(!_.isNaN))
    val tifOut = dir.resolve("edited.tif").toString
    GeoTiffWriter.write(tifOut, outRef, out)
    val back = GeoTiffReader.read(tifOut)
    assert(back.ref == outRef && back.epsg == 27700)
  }
}

object EntrySpec {
  /** Every gated query name, sorted. */
  val gatedNames: Seq[String] = Seq(
    "a1_audio_features", "a2_audio_trim", "a3_audio_resample",
    "a4_audio_gain", "a5_vad_segments", "a6_rate_convert",
    "d10_dedup_components", "d11_repetition", "d12_hash_split",
    "d13_tfidf", "d14_pii_scrub", "d15_contamination",
    "d16_stratified_sample", "d17_curation", "d18_incremental_dedup",
    "d19_dup_grams", "d1_dedup_sets", "d20_semdedup", "d21_bloom_dedup",
    "d22_source_stats", "d23_length_profile", "d24_chunking",
    "d25_bpe_merges", "d26_bpe_encode", "d27_seq_packing",
    "d28_url_dedup", "d29_rank_fluency", "d2_quality", "d30_fuzzy_join",
    "d31_weighted_sample", "d32_novelty", "d3_ngram_jaccard",
    "d4_minhash_lsh", "d5_simhash", "d6_langid", "d7_fingerprint",
    "d8_embed_neardup", "d9_token_stats", "e10_kmeans_assign",
    "e11_recall_eval", "e1_knn_cosine", "e2_ann_ivf", "e3_ann_pq",
    "e4_ann_ivfpq", "e5_knn_classify", "e6_ann_sq8", "e7_ann_filtered",
    "e8_range_search", "e9_mips", "g1_pagerank", "g2_bfs_depth",
    "g3_triangles", "g4_kcore", "g5_personalized_pr",
    "i10_hist_equalize", "i11_global_equalize", "i1_image_invariants",
    "i2_image_resize", "i3_phash_dedup", "i4_phash_neardup",
    "i5_image_dedup_components", "i6_image_quality", "i7_image_augment",
    "i8_patchify", "i9_pixel_stats", "m1_contrastive_batches",
    "m2_mixture_interleave", "m3_curriculum", "m4_curated_batches",
    "m5_epoch_order", "m6_length_buckets", "m7_mixture_sample",
    "m8_hard_negatives", "q10_rollup", "q11_pivot", "q12_set_ops",
    "q13_cube", "q14_approx_distinct", "q15_ohlc_bars", "q16_pivot",
    "q17_exact_quantiles", "q18_snapshot_travel", "q19_gap_fill",
    "q1_lineitem_agg", "q20_compact_equiv", "q21_schema_evolution",
    "q22_incremental_read", "q23_cdc_apply", "q24_wap",
    "q25_range_delete", "q26_rollback", "q27_files_meta",
    "q28_lineage_audit", "q29_meta_count", "q2_top_orders",
    "q30_scan_prune", "q31_expire_gc", "q32_wap_reject",
    "q3_events_window", "q4_sessionize", "q5_cell_functions",
    "q6_json_props", "q7_asof_join", "q8_range_join",
    "q9_window_analytics", "r10_vectorize", "r11_bilinear",
    "r12_clip_polygon", "r13_classify", "r14_resample_avg",
    "r15_resample_med", "r16_tif_ingest", "r17_reproject", "r18_idw",
    "r19_resample_cubic", "r1_grid_stats", "r20_delaunay",
    "r21_delaunay_cubic", "r22_component_stats", "r23_vectorize_edges",
    "r24_flowdir", "r25_flowacc", "r26_watershed", "r27_streams",
    "r28_flowlength", "r29_fill_sinks", "r2_rect_clip",
    "r30_terrain_indices", "r31_contour", "r32_zonal_stats",
    "r33_conditioned_flowdir", "r34_to_points", "r35_axis_stats",
    "r36_paste_on", "r37_hand", "r38_strahler", "r39_curvature",
    "r3_mosaic", "r40_aspect", "r41_viewshed", "r42_distance_transform",
    "r43_focal_stats", "r44_focal_extrema", "r45_cost_distance",
    "r46_pyramid", "r47_focal_median", "r48_normdiff", "r49_kde",
    "r4_rasterize", "r50_xsection", "r51_tabulate", "r52_focal_majority",
    "r53_twi", "r54_edit_dem", "r55_hypsometry", "r56_xyz_tiles",
    "r57_line2surface", "r58_cell_compact", "r59_spatial_autocorr",
    "r5_knn", "r60_remove_block", "r61_sat_boxstats", "r62_tpi_landform",
    "r63_cost_backlink", "r64_cost_path", "r65_multidir_hillshade",
    "r6_resample", "r7_line2sub", "r8_gradient", "r9_zipjoin",
    "s1_stream_window", "s2_stream_sessionize", "s3_stream_dedup",
    "s4_stream_join", "s5_stream_join_outer", "s6_stream_static",
    "s7_stream_image_quality", "s8_stream_late_drop", "s9_stream_ingest",
    "v1_video_frames", "v2_scene_cuts", "v3_clip_windows",
    "v4_keyframes", "v5_fps_resample")
}
