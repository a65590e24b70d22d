package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dirty-input robustness for the DECLARED query surface: every
  * documents-only entry in `SparkEntry.queries` must execute (not
  * necessarily return rows) against (a) a corpus of degenerate docs —
  * null/empty/whitespace/unicode/1-char text, zero n_chars — and (b)
  * an EMPTY corpus. These are the rows a real 100 TB crawl always
  * contains; an operator that throws on them fails the whole job at
  * scale. Complements RobustnessSpec, which pins individual library
  * functions; this spec drives the end-user entry points.
  */
class RobustnessSurfaceSpec extends SparkSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val dir = SparkSpec.tempDir("graft-robust").toString
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, t) =>
        org.apache.spark.sql.Row(i, t, if (i % 2 == 0) "en" else "de", "crawl",
          if (t == null) 0L else t.length.toLong)
      }, 2), docSchema)
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private lazy val dirtyDir = writeDocs(Seq(
    (0L, "hello world hello again and again hello"),
    (1L, null),
    (2L, ""),
    (3L, "   "),
    (4L, "héllo wörld 你好 мир"),
    (5L, "a"),
    (6L, "the quick brown fox jumps over the lazy dog"),
    (7L, "\n\t\r"),
    (8L, "solo")))
  private lazy val emptyDir = writeDocs(Seq.empty)

  // every SparkEntry query that reads ONLY the documents table
  // (vs_list_collections excluded: it materializes a collection store,
  // covered by StorageSpec/VectorStoreSpec)
  private val docQueries = Seq(
    "dedup_exact", "dedup_incremental",
    "text_token_count", "text_quality", "text_langid", "text_normalize",
    "text_repetition", "text_decontam", "text_fingerprint",
    "text_search_e2e", "text_hybrid_rrf",
    "pipe_e2e_prep", "pipe_pack_sequences", "pipe_curate",
    "samp_hash_split", "samp_domain_mix", "samp_bottomk", "samp_weighted",
    "text_chunking", "text_bm25", "text_vocab", "text_pmi",
    "text_chunk_search", "text_lm_score", "text_bigram_freq",
    "text_length_stats", "text_pii_redact", "text_tfidf",
    "samp_token_budget", "aug_token_dropout", "samp_temperature",
    "text_ccnet_bins", "dedup_span_ngrams", "samp_importance",
    "pipe_bucket_batches", "text_zipf_fit", "text_postings",
    "pipe_split_leakage", "text_charclass", "text_readability",
    "text_entropy", "text_ttr", "text_gopher_rules", "pipe_data_card",
    "stat_gini", "dedup_cluster_sizes", "pipe_interleave", "samp_ks_test",
    "samp_negative_sampling", "text_langid_eval", "dedup_lsh_eval",
    "dedup_df_profile", "samp_cluster_split",
    "pipe_dataset_hash", "text_simpson", "samp_kl",
    "text_para_dedup", "text_boilerplate", "pipe_dedup_savings",
    "graph_cc_modularity", "pipe_contract_docs", "priv_t_nominal",
    "text_hapax", "samp_chao1",
    "stat_theil", "text_burstiness", "text_source_similarity",
    "dedup_prefix_filter", "samp_group_sample",
    "stat_ols_fit", "stat_mwu", "text_js_div", "text_mi_chi2",
    "samp_reliability_bins", "pipe_epoch_mix", "graph_triangles",
    "samp_quantile_norm", "text_kmv_vocab", "pipe_shard_manifest",
    "stat_welch_ttest", "stat_cohens_kappa", "pipe_filter_attrition",
    "stat_anova", "stat_spearman", "stat_nmi", "samp_bootstrap",
    "stat_kruskal", "stat_levene",
    "text_bpe_pairs", "text_vocab_coverage", "graph_kcore",
    "graph_assort", "graph_adamic_adar", "graph_bfs",
    "text_llr", "text_rake", "text_selfbleu",
    "samp_poisson_bootstrap", "priv_dp_counts", "samp_strat_alloc",
    "priv_k_anonymity", "priv_l_diversity", "samp_horvitz_thompson",
    "text_heaps_fit", "stat_chi2_indep", "graph_jaccard_nbrs",
    "emb_norm_invariant",
    "mm_binary_meta", "mm_frame_sample", "mm_resize_box", "mm_audio_windows",
    "mm_patch_grid", "mm_shot_bounds",
    // round-10 additions
    "stat_roc_auc", "stat_psi", "stat_wasserstein", "text_ndcg",
    "stat_cliffs_delta", "priv_dp_mean", "text_textrank", "text_chao1",
    "stat_cramers_v", "emb_service_search", "graph_local_cc",
    "graph_degree_dist", "text_lmir", "text_sentiment", "text_diversity",
    "dedup_sorted_nbrhood", "priv_t_closeness",
    "stat_cohens_d", "text_yule_k", "text_map_mrr",
    "graph_rich_club", "mm_image_ahash",
    "graph_eigencentrality", "text_ari", "mm_audio_vad",
    "dedup_cdc_chunks", "stat_ad_test", "dedup_threshold_curve",
    "feat_hash_buckets", "stat_cronbach", "samp_ess",
    "graph_katz", "graph_closeness", "priv_dp_quantile",
    "samp_kfold", "dedup_bloom_incremental", "mm_video_keyframes",
    "text_extract_summary", "text_ngram_novelty",
    "dedup_band_curve", "pipe_tokenizer_fertility",
    "stat_hosmer_lemeshow", "stat_dunn_test", "samp_poststratify",
    "text_dedup_impact", "mm_modality_card", "text_burrows_delta",
    "samp_capture_recapture",
    "stat_bartlett", "stat_hodges_lehmann", "text_successor_entropy",
    "mm_image_dhash",
    "stat_tukey_hsd", "stat_cvm", "feat_woe", "pipe_incremental_shards",
    "text_cooc_window", "graph_conductance",
    "samp_raking", "pipe_stratified_shards",
    "graph_label_prop", "stat_icc", "samp_pps_systematic",
    "stat_dagostino", "pipe_mixture_schedule", "text_kn_perplexity",
    "stat_brunner_munzel", "stat_mood_median",
    "stat_ancova", "stat_welch_anova", "priv_exp_mech",
    "stat_lin_ccc", "stat_ridge_fit", "stat_vs_control",
    "stat_mixture_em", "mm_image_phash", "graph_node2vec",
    "stat_logistic_irls", "stat_meta_analysis", "stat_brier_decomp")

  test("documents-only queries execute on a degenerate corpus") {
    val failures = docQueries.flatMap { name =>
      try { SparkEntry.queries(name)(spark, dirtyDir).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("documents-only queries execute on an EMPTY corpus") {
    val failures = docQueries.flatMap { name =>
      try { SparkEntry.queries(name)(spark, emptyDir).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private def writeEmb(rows: Seq[(Long, Array[Float], Int)], extra: Seq[org.apache.spark.sql.Row] = Nil): String = {
    val dir = SparkSpec.tempDir("graft-robust-emb").toString
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, v, l) =>
        org.apache.spark.sql.Row(i, v, l) } ++ extra, 2), embSchema)
    df.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  // queries that read ONLY the embeddings table (AnnIndex-serving ones
  // excluded: they materialize partitioned indexes, covered elsewhere)
  private val embQueries = Seq(
    "dedup_embed_cosine", "ann_topk_batch", "emb_hard_negatives",
    "emb_label_cohesion", "emb_silhouette", "samp_stratified", "emb_power_iter",
    "emb_dim_stats", "emb_knn_accuracy", "vec_binary_quant",
    "vec_matryoshka", "vec_scalar_quant", "vec_quant_fidelity",
    "ann_kmeans_step", "vec_pq_adc",
    "ann_mmr_rerank", "emb_whiten", "emb_triplets", "dedup_semantic",
    "emb_drift", "vec_residual_quant", "samp_coreset", "ann_knn_graph",
    "emb_anisotropy", "ann_jl_recall", "emb_twonn_id",
    "emb_participation_ratio", "emb_cka", "emb_knn_vote",
    "ann_ivf_recall_curve", "emb_hubness", "emb_top_eigen",
    "emb_deflated_eigen", "emb_abtt", "emb_align_uniform",
    "ann_nn_descent",
    "emb_centroid_classifier", "vec_matryoshka_curve")

  test("embeddings-only queries execute on degenerate vectors") {
    // zero-norm vector (cosine denominators), constant vector,
    // and a null embedding row — the rows a real embedding job's
    // failures leave behind
    val base = (0L until 8L).map { i =>
      (i, Array.tabulate(64)(j => if (j == i.toInt % 64) 1.0f else 0.01f * j), (i % 3).toInt)
    }
    val dirty = writeEmb(
      base ++ Seq((8L, Array.fill(64)(0.0f), 0), (9L, Array.fill(64)(2.0f), 1)),
      extra = Seq(org.apache.spark.sql.Row(10L, null, 2)))
    val failures = embQueries.flatMap { name =>
      try { SparkEntry.queries(name)(spark, dirty).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("embeddings-only queries execute on an EMPTY embeddings table") {
    val empty = writeEmb(Seq.empty)
    val failures = embQueries.flatMap { name =>
      try { SparkEntry.queries(name)(spark, empty).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  private val evSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def writeEvents(rows: Seq[org.apache.spark.sql.Row]): String = {
    val dir = SparkSpec.tempDir("graft-robust-ev").toString
    // ts written as plain INT64 epoch-nanos; Tables.events reads the
    // driver's TIMESTAMP(NANOS) as long too, so the loader sees the
    // same shape either way
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), evSchema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private val evQueries = Seq(
    "ts_gap_fill", "agg_pivot", "win_moving_avg", "win_range_frame",
    "stat_percentiles", "agg_salted_hot", "ev_sessionize", "ev_json_extract",
    "ev_error_rate", "ev_asof_join", "ev_range_join", "stat_mad",
    "stat_approx_quantiles", "ts_ohlc", "ev_outliers", "ev_histogram",
    "ev_heavy_hitters", "ev_funnel", "ev_retention", "ev_window_agg",
    "ev_transitions", "stat_moments", "ev_ewma_bounded",
    "ev_winsorize", "ev_attribution", "ev_rfm", "ev_benford",
    "ev_dau_wau", "ev_conversion_lag", "ev_pareto",
    "ev_debounce", "ev_session_paths", "ev_cohort_triangle",
    "ts_seasonal", "ev_assoc_rules", "graph_pagerank",
    "ev_scd2", "ts_acf", "ev_funnel_windowed", "ev_attribution_decay",
    "ev_streaks", "ev_concurrency", "ev_bot_flags",
    "ev_survival", "ev_stationary", "ts_cusum", "ev_ab_test", "ev_lift_gain",
    "ts_backtest", "stat_mde_curve",
    "ev_growth_accounting", "ts_decompose", "ev_simpson",
    "ev_srm", "ev_diff_in_diff", "stat_fdr", "stat_wilson_ci",
    "stat_jackknife", "ts_ccf", "ts_pettitt",
    // round-10 additions
    "ev_countmin", "stat_tost", "ev_qini", "ts_goertzel",
    "ev_interarrival", "stat_perm_test",
    "ev_markov_accuracy", "ev_markov_entropy", "ts_ljung_box",
    "ts_mann_kendall", "stat_gumbel", "ev_cuped",
    "stat_jarque_bera", "stat_mcnemar", "ts_hurst", "priv_rand_response",
    "stat_group_seq", "ev_markov2",
    "ts_strength", "ts_spectral_entropy", "ev_retention_fit", "ev_srm_daily",
    "feat_target_encode", "ev_abandonment", "samp_time_split",
    "ts_granger", "stat_durbin_watson", "graph_hits", "ts_pacf",
    "ev_conformance", "ts_theil_u", "ts_runs_test", "stat_fisher_exact",
    "stat_bayes_ab", "stat_sprt", "stat_cmh",
    "ev_intervention_its", "ts_cointegration", "stat_lilliefors",
    "priv_noisy_max", "pipe_contract_events",
    "stat_sign_test", "ev_stickiness",
    "ev_segment_migration", "ts_backtest_snaive", "stat_overdispersion",
    "ts_hampel", "ev_covariate_balance", "ev_session_durations",
    "stat_bootstrap", "ev_ipw", "ev_bounce_rate", "stat_esd",
    "ts_locf", "stat_merge_partials", "stat_nb_fit",
    "stat_factorial", "ev_qte", "ev_event_study",
    "ts_theil_sen", "stat_influence",
    "stat_friedman", "ts_sax", "graph_reciprocity", "ev_dow_hour",
    "stat_mediation", "stat_logrank", "ev_lorenz_deciles",
    "ts_peak_detect",
    "stat_breslow_day", "ev_type_overlap", "stat_cochran_armitage",
    "ev_episode_mining", "ts_holt_linear", "ts_segmented_trend",
    "ts_periodogram",
    "stat_binom_test", "stat_cochran_q", "stat_gamma_fit",
    "stat_powerlaw_alpha",
    "ts_haar_energy", "stat_gpd_tail", "ev_user_similarity",
    "ts_kalman_level", "ts_hmm_forward", "ts_garch11", "stat_holm")

  test("events-only queries execute on degenerate events") {
    import org.apache.spark.sql.Row
    val h = 3600L * 1000000000L
    val dirty = writeEvents(Seq(
      Row(0L, 0L, 1L, "click", 1.0, """{"page":"a"}"""),
      Row(1L, h, 1L, "click", 1.0, "not json"),          // malformed props
      Row(2L, h, 1L, null, null, null),                  // null type/value/props
      Row(3L, 2 * h, 2L, "purchase", -5.0, "{}"),        // negative value
      Row(4L, 2 * h, 2L, "purchase", 0.0, """{"page":null}"""),
      Row(5L, 2 * h, 2L, "error", Double.NaN, """{"page":"b"}"""))) // NaN value
    val failures = evQueries.flatMap { name =>
      try { SparkEntry.queries(name)(spark, dirty).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("events-only queries execute on an EMPTY events table") {
    val empty = writeEvents(Seq.empty)
    val failures = evQueries.flatMap { name =>
      try { SparkEntry.queries(name)(spark, empty).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("BM25 tolerates empty corpus and absent terms") {
    import graft.text.Bm25
    val docs = Tables.documents(spark, dirtyDir)
    assert(Bm25.search(docs, Seq("zzz_not_present"), 5).collect().isEmpty)
    val empty = Tables.documents(spark, emptyDir)
    assert(Bm25.search(empty, Seq("hello"), 5).collect().isEmpty)
  }

  test("decontamination tolerates an empty benchmark set") {
    import graft.text.TextAnalytics
    val docs = Tables.documents(spark, dirtyDir)
    val emptyBench = Tables.documents(spark, emptyDir)
    val out = TextAnalytics.contamination(docs, emptyBench, 3).collect()
    assert(out.forall(_.getAs[Long]("n_hit") == 0L))
  }

  test("as-of and range joins tolerate empty sides") {
    import graft.ops.Joins
    val s = spark
    import s.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b")).toDF("k", "ts", "v")
    val right = Seq((1L, 5L, 1.0)).toDF("k", "rts", "px")
    val emptyL = left.limit(0)
    val emptyR = right.limit(0)
    // empty right: every left row survives with a null asof struct
    val la = Joins.asofJoin(left, emptyR, Seq("k"), "ts", "rts").collect()
    assert(la.length == 2 && la.forall(_.isNullAt(la.head.fieldIndex("asof"))))
    assert(Joins.asofJoin(emptyL, right, Seq("k"), "ts", "rts").collect().isEmpty)
    val pts = Seq((1L, 7L)).toDF("k", "ts")
    val ivs = Seq((1L, 5L, 9L)).toDF("k", "st", "en")
    assert(Joins.rangeJoinBucketed(pts.limit(0), ivs, Seq("k"), "ts", "st", "en", 4L)
      .collect().isEmpty)
    assert(Joins.rangeJoinBucketed(pts, ivs.limit(0), Seq("k"), "ts", "st", "en", 4L)
      .collect().isEmpty)
  }

  test("PQ handles fewer vectors than centroids and rejects bad configs") {
    import graft.ann.Pq
    val s = spark
    import s.implicits._
    // dim not divisible by m is a CONTRACT violation -> fail fast
    intercept[IllegalArgumentException] { Pq.Config(dim = 6, m = 4, k = 4) }
    val cfg = Pq.Config(dim = 4, m = 2, k = 4, iters = 1)
    // 2 vectors < k=4 centroids: train/encode/search must still run
    val emb = Seq(
      (1L, Array(1.0, 0.0, 0.0, 1.0)),
      (2L, Array(0.0, 1.0, 1.0, 0.0))).toDF("vec_id", "embedding")
    val cb = Pq.train(emb, cfg)
    assert(cb.count() > 0)
    val enc = Pq.encode(emb, cb, cfg)
    assert(enc.count() == 2)
    val qdf = Seq(Tuple1(Array(1.0, 0.0, 0.0, 1.0))).toDF("q")
    val res = Pq.search(emb, enc, cb, qdf, cfg, 2, 1)
    assert(res.collect().length == 1)
  }
}
