package graft.tools

import java.nio.file.{Files, Paths}

/** Writes formatted physical plans, so plan quality (pushdown, broadcast,
  * partial agg, codegen) is reviewable without running anything.
  *
  *   runMain graft.tools.ExplainDump                      # EXPLAIN.md, headline queries
  *   runMain graft.tools.ExplainDump <outFile> <query>... # named queries, one file
  *
  * Plans are of the `SPARK_GRAFT_SF_DIR` tables (default sf0.001) under
  * the `Engine.session` posture; the before/after plan evidence under
  * `plans/` is made with the second form. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.core.Engine.session(graft.core.Engine.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val picks = Seq(
      "q01_filter_project", "q03_agg_group", "q06_join_chain",
      "q09_subset_rekey", "a10_agg_elementwise", "d03_minhash_lsh",
      "d08_dedup_emblsh", "s01_ann_bruteforce", "p01_corpus_pipeline",
      "p04_sequence_packing", "t06_vocabulary", "qc01_cube_pipeline",
      "q24_asof_join", "q25_range_join", "p05_domain_mix",
      "d12_semantic_dedup", "s06_ann_topk_operator",
      "t08_boilerplate_share", "t09_bigram_lm", "d15_dup_ngram_spans",
      "s07_range_search", "p08_domain_temperature", "q32_pivot",
      "t12_cms_heavy_hitters", "p10_weighted_sample", "q33_bucketed_join",
      "q35_partition_pruning", "d16_containment", "s08_ann_pq",
      "p11_filter_funnel", "t13_kmv_distinct", "p12_dataset_card",
      "q37_zorder_layout", "d17_incremental_minhash",
      "q38_salted_skew_join", "s09_ann_ivf_pq", "q40_session_window",
      "m06_image_dhash", "t14_zipf_curve", "q41_compact_small_files",
      "p13_dedup_aware_sample", "q43_zorder_bigmin", "s10_ann_filtered",
      "p14_epoch_shuffle", "s11_ann_matryoshka", "t15_perplexity_bucket",
      "p15_token_budget", "q50_merge_on_read", "m08_audio_fingerprint",
      "q51_scd2_merge", "q52_time_travel", "t16_bm25_topk",
      "t17_hdr_quantiles", "c04_ols_suffstats", "q53_funnel",
      "p16_chunking", "p17_pagerank", "p18_bfs_hops",
      "t18_tfidf_keywords", "d19_editdist", "m09_vit_patches",
      "c05_auc_rank", "c06_calibration_bins", "s12_knn_join",
      "d20_knn_clusters", "q55_drift_chi2", "q56_cohort_retention",
      "t19_char_entropy", "qc05_cube_anomaly",
      "q57_schema_evolution", "m10_patch_ssim", "q58_session_paths",
      "q59_dv_vacuum", "t20_repetition_filter", "p19_temperature_mix",
      "c01_kmeans_embeddings", "q61_wap_publish",
      "t21_quality_classifier", "d21_substring_spans", "c07_langid_eval",
      "p20_curriculum", "q62_equality_deletes", "m11_histogram_gate",
      "d22_cluster_keep_best", "c08_ndcg_eval", "q63_incremental_mv",
      "m12_vad_segments", "s13_ann_recall", "q65_manifest_skipping",
      "p21_triangle_count", "c10_bootstrap_ci", "m13_shot_boundary",
      "t23_ngram_novelty", "q66_changelog_diff", "t24_winsorized_stats",
      "c11_mcc_eval", "p22_rendezvous_shards", "q68_merge_cow",
      "m14_jpeg_features", "m15_png_features", "m16_audio_resample",
      "c12_ngram_overlap_eval", "q69_occ_conflict",
      "s14_maxsim_multivector", "s15_hybrid_rrf", "qn13_jsonl_quarantine",
      "m18_gif_features", "m19_gif_frames", "c13_span_f1",
      "q70_multi_table_txn", "q71_restore_snapshot",
      "p23_kcenter_coreset", "p24_dsir_selection", "p25_label_propagation",
      "p26_selection_curve", "c15_average_precision", "c16_mcnemar_paired",
      "c17_psi_drift", "d23_lsh_recall_eval", "t26_stupid_backoff",
      "t27_luhn_pii", "t28_log_odds", "s16_ann_binary_quant",
      "m21_block_phash", "m22_tiff_metadata", "m23_dominant_color",
      "m24_png_interlaced", "q75_column_mapping",
      "q76_partition_evolution", "q77_snapshot_expiry",
      "q73_bloom_skip_index", "t25_gopher_gates", "c14_brier_decomposition",
      "m20_wht_spectrogram", "qn14_fletcher_import",
      "m25_jpeg_progressive", "qc06_cube_regrid", "c18_spearman",
      "d24_cluster_histogram", "m26_flac_features", "m27_mjpeg_shots",
      "m28_avi_demux", "qn15_export_dist_ea", "t29_heaps_growth",
      "c19_paired_bootstrap", "t30_bpe_encode", "m29_video_neardup",
      "d25_cdc_chunks", "m30_av_sync", "c20_bt_arena",
      "p27_dedup_reweight", "m31_media_quarantine", "m32_bmp_rle",
      "qn16_vlen_labels", "d26_threshold_sweep", "q78_check_constraints",
      "s17_nprobe_sweep", "m33_stream_media_dedup", "p28_interleave_order",
      "q79_dynamic_overwrite",
      "s18_ann_persisted", "t31_unigram_train", "d27_bloom_prefilter",
      "m34_png16_features", "m35_adpcm_features", "m36_adpcm_stereo",
      "q81_branch_cherry_pick", "q82_metadata_tables",
      "qn17_export_dist_filtered",
      "s19_pq_persisted", "s20_ann_index_merge", "m37_apng_features",
      "m38_g711_features", "m39_exif_orientation", "t32_unigram_encode",
      "qn18_multifile_import", "s21_ann_tombstones", "qc07_intercube",
      "c21_risk_coverage", "q83_stream_exactly_once",
      "q84_hilbert_layout", "p29_epoch_budget",
      "m40_tga_features", "s22_ann_filtered_serve", "qn19_compound_import",
      "q85_time_travel_asof", "c22_krippendorff",
      "qd10_dialect_expand", "s23_ann_generation_rebuild",
      "s24_sq8_persisted", "q86_manifest_two_level",
      "q87_log_checkpointing", "m41_tiff_compressed",
      "c23_calibration_error",
      "m42_aiff_features", "q88_branch_merge", "s25_quantizer_recall",
      "qn20_warc_ingest", "t33_html_extract", "t34_nb_train",
      "t36_boilerplate_blocks", "t37_utf8_sanitize",
      "q90_parquet_native_skip", "p30_crawl_funnel", "qn21_robots_gate",
      "p31_url_frontier", "qn22_warc_revisit", "m43_mp3_books",
      "m44_mp4_books", "m45_ogg_books", "m46_mkv_books",
      "m47_webp_books", "t38_kneser_ney", "m48_srt_books",
      "qn23_webdataset_tar", "m49_zip_books", "m50_pdf_books")
    val outFile = args.headOption.getOrElse("EXPLAIN.md")
    val names = if (args.length > 1) args.toSeq.tail else picks
    val sb = new StringBuilder
    sb.append("# EXPLAIN — physical plans (generated by graft.tools.ExplainDump)\n\n")
    sb.append("Things to look for: `PushedFilters`/`ReadSchema` on scans, ")
    sb.append("`BroadcastHashJoin` for dims, `partial_` aggregates, `*(n)` codegen stages.\n")
    val (known, unknown) = names.partition(graft.SparkEntry.queries.contains)
    unknown.foreach(n => System.err.println(s"[explain] unknown query: $n"))
    known.foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(plan).append("\n```\n")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"[explain] wrote $outFile (${known.size} plans)")
    spark.stop()
  }
}
