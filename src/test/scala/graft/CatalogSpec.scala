package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Catalog

/** t1 smoke (SURVEY.md §5): every declared query runs at sf0.001 and its
  * output schema has the exact column names the oracle will compare on. */
class CatalogSpec extends AnyFunSuite {
  import SparkTestSession.{atScale, spark, sf0001}

  val expectedCols: Map[String, Seq[String]] = Map(
    "q01_project_rename" -> Seq("okey", "pkey", "rflag"),
    "q02_cast_date" -> Seq("event_id", "d"),
    "q03_eq_filter" -> Seq("event_id", "user_id"),
    "q04_range_filter" -> Seq("event_id"),
    "q05_daily_distinct" -> Seq("d", "event_count"),
    "q06_json_extract" -> Seq("event_id", "k"),
    "q07_group_count" -> Seq("event_type", "n"),
    "q08_roundtrip" -> Seq("d", "n", "n_users"),
    "q09_join_agg" -> Seq("c_mktsegment", "rev"),
    "q10_anti_join" -> Seq("c_custkey"),
    "q11_latest_per_user" -> Seq("user_id", "event_id", "event_type", "value"),
    "q12_distinct_count" -> Seq("n"),
    "q13_top_tokens" -> Seq("token", "n"),
    "q14_cosine_topk" -> Seq("vec_id", "cos"),
    "q15_set_except" -> Seq("user_id"),
    "q16_join_window" -> Seq("n_name", "rn", "c_custkey", "c_acctbal"),
    "x17_dedup_exact" -> Seq("h", "keep_id", "n"),
    "x18_dedup_minhash" -> Seq("a", "b", "est_jaccard"),
    "x19_dedup_simhash" -> Seq("doc_id", "simhash"),
    "x20_dedup_ngram" -> Seq("a", "b", "jaccard"),
    "x21_dedup_embedding" -> Seq("a", "b", "cos"),
    "x22_sim_lsh" -> Seq("qid", "rn", "vec_id", "cos"),
    "x23_text_langid" -> Seq("doc_id", "en_hits", "de_hits", "fr_hits", "es_hits", "lang_pred"),
    "x24_text_quality" -> Seq("doc_id", "n_tokens", "avg_token_len", "stopword_ratio", "quality"),
    "x25_text_tokencount" -> Seq("doc_id", "ws_tokens", "re_tokens", "n_chars"),
    "x26_text_fingerprint" -> Seq("doc_id", "fp"),
    "x27_multimodal_decode" -> Seq("asset_id", "kind", "byte_len", "width", "height"),
    "x28_approx_distinct" -> Seq("d", "exact_users", "within_tol"),
    "x29_scalar_kit" -> Seq("o_orderkey", "y", "m", "month_start", "pri_lower",
      "pri_code", "pri_digit", "tag", "pri_len"),
    "x30_set_ops" -> Seq("user_id"),
    "x31_rollup_agg" -> Seq("event_type", "d", "n"),
    "x32_asof_join" -> Seq("event_id", "prior_error_us"),
    "x33_percentiles" -> Seq("event_type", "p50", "p90", "p99"),
    "x34_dedup_embedding_lsh" -> Seq("a", "b", "cos"),
    "x35_full_outer" -> Seq("k", "n_orders", "known_customer"),
    "x36_window_lag" -> Seq("user_id", "event_id", "gap_us"),
    "x37_cube_agg" -> Seq("event_type", "d", "n"),
    "x38_except_all" -> Seq("user_id"),
    "x39_tfidf" -> Seq("doc_id", "rn", "token", "tfidf"),
    "x40_hash_split" -> Seq("split", "n"),
    "x41_lev_neardup" -> Seq("a", "b", "lev"),
    "x42_pivot" -> Seq("d", "click", "error", "purchase", "signup", "view"),
    "x43_grouping_sets" -> Seq("event_type", "d", "n"),
    "x44_exists_subquery" -> Seq("c_custkey"),
    "x45_window_frame" -> Seq("user_id", "event_id", "mv3"),
    "x46_sessionize" -> Seq("user_id", "n_sessions"),
    "x47_boilerplate_ngrams" -> Seq("sh", "n_docs"),
    "x48_ann_ivf" -> Seq("qid", "rn", "vec_id", "cos"),
    "x49_curation" -> Seq("lang_pred", "n_kept", "total_quality"),
    "x50_range_join" -> Seq("event_id", "n_prior_errors"),
    "x51_rank_distribution" -> Seq("o_orderkey", "o_orderpriority", "quartile", "pr", "cd"),
    "x52_array_ops" -> Seq("doc_id", "n_distinct", "first_tok", "last_tok"),
    "x53_scalar_subquery" -> Seq("c_custkey", "c_acctbal"),
    "x54_approx_percentiles" -> Seq("event_type", "p50", "p90",
      "within_tol"),
    "x55_intersect_all" -> Seq("user_id"),
    "x56_string_agg" -> Seq("user_id", "types"),
    "x57_unpivot" -> Seq("d", "event_type", "n"),
    "x58_window_range_frame" -> Seq("user_id", "event_id", "v10m"),
    "x59_text_scrub" -> Seq("doc_id", "n_vruns", "scrub_len"),
    "x60_dedup_clusters" -> Seq("doc_id", "cluster"),
    "x61_stats_kit" -> Seq("rflag", "corr_qp", "covar_qp", "sd_disc",
      "var_tax", "slope_pq"),
    "x62_funnel" -> Seq("user_id", "depth"),
    "x63_stratified_sample" -> Seq("event_type", "n_kept", "min_id", "max_id"),
    "x64_doc_chunks" -> Seq("doc_id", "off", "n_chunk", "chunk"),
    "x65_bpe_pairs" -> Seq("pair", "n"),
    "x66_decontamination" -> Seq("doc_id", "n_shared"),
    "x67_winsorize" -> Seq("event_type", "n", "n_clipped", "sum_clipped",
      "max_clipped"),
    "x68_histogram" -> Seq("bucket", "n", "sum_v"),
    "x69_repetition" -> Seq("doc_id", "n_sh", "n_uniq", "rep_ratio"),
    "x70_source_report" -> Seq("source", "n_docs", "n_uniq_texts", "n_langs",
      "sum_chars"),
    "x71_knn_label" -> Seq("qid", "pred_label", "votes"),
    "x72_gapfill" -> Seq("user_id", "d", "n"),
    "x73_forward_fill" -> Seq("user_id", "event_id", "last_purchase_v"),
    "x74_debounce" -> Seq("user_id", "event_type", "w", "first_event_id",
      "n_suppressed"),
    "x75_share_of_total" -> Seq("d", "event_type", "n", "share"),
    "x76_rank_ties" -> Seq("c_mktsegment", "c_custkey", "bucket", "rnk",
      "drnk"),
    "x77_mad" -> Seq("event_type", "med", "mad"),
    "x78_image_decode" -> Seq("asset_id", "width", "height",
      "mean_r", "mean_g", "mean_b"),
    "x79_sequence_packing" -> Seq("bin", "n_docs", "total_tokens",
      "first_doc", "last_doc"),
    "x80_audio_decode" -> Seq("asset_id", "sample_rate", "channels", "bits",
      "n_samples", "mean_amp", "peak"),
    "x81_lm_score" -> Seq("doc_id", "n_bigrams", "logp_sum"),
    "x82_video_decode" -> Seq("asset_id", "frame_idx", "width", "height",
      "n_frames", "us_per_frame", "r_bucket", "g_bucket", "b_bucket"),
    "x83_semantic_dedup" -> Seq("cell", "n_vectors", "n_dropped", "n_kept"),
    "x84_mixture_sample" -> Seq("source", "n_docs", "toks_total", "rate_pm",
      "n_sampled", "toks_sampled"),
    "x85_passage_dedup" -> Seq("doc_id", "n_chunks", "n_dupes"),
    "x86_dsir_weights" -> Seq("doc_id", "n_bigrams", "logw_sum"),
    "x87_shuffle_shards" -> Seq("doc_id", "shard", "pos", "shard_rows"),
    "x88_dsir_resample" -> Seq("doc_id", "sel_key"),
    "x89_winnowing" -> Seq("doc_id", "n_fp", "n_dup_fp", "near_dup"),
    "x90_bm25" -> Seq("doc_id", "n_hit", "score"),
    "x91_pmi_collocations" -> Seq("w1", "w2", "n_pair", "pmi"),
    "x92_domain_caps" -> Seq("source", "n_docs", "n_kept", "n_dropped"),
    "x93_zipf_spectrum" -> Seq("rank", "token", "n", "zipf_slope"),
    "x94_centroid_outliers" -> Seq("label", "n_vecs", "n_outliers",
      "sum_cos"),
    "x95_hybrid_search" -> Seq("doc_id", "score", "cos", "hybrid"),
    "x96_quality_gate" -> Seq("source", "n_docs", "thr", "n_kept"),
    "x97_source_overlap" -> Seq("s1", "s2", "n_shared"),
    "x98_interpolate" -> Seq("user_id", "d", "v", "interp"),
    "x99_canonical_docs" -> Seq("cluster", "n_docs", "canon_id",
      "canon_quality"),
    "x100_training_pipeline" -> Seq("source", "n_raw", "n_dedup", "n_gate",
      "n_final", "toks_final"),
    "x101_topk_exemplars" -> Seq("source", "rk", "doc_id", "quality"),
    "x102_bloom_decontamination" -> Seq("doc_id", "n_shared"))

  test("registry covers the declared inventory and EVERY query has an oracle") {
    assert(Catalog.queries.keySet == expectedCols.keySet)
    // x28/x54 included since r12: their sketch tolerance gates run
    // in-query (within_tol) so the oracle hashes the verdict
    assert(Catalog.oracleSql.keySet == expectedCols.keySet)
  }

  for ((name, cols) <- expectedCols.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001 with oracle-matching column names") {
      val df = Catalog.queries(name)(spark, sf0001)
      assert(df.columns.toSeq == cols)
      assert(df.count() >= 0)
    }
  }

  test("entry returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("x54 in-query tolerance verdicts are green and exact columns match x33") {
    // since r12 the 5% tolerance gate runs INSIDE x54 (within_tol) so the
    // driver's oracle hashes the verdict; this pins that the gate fires on
    // real data and that the exact columns share x33's arithmetic
    val rows = Catalog.queries("x54_approx_percentiles")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows)
      assert(r.getBoolean(3), s"${r.getString(0)}: approx percentile " +
        s"outside 5% of exact (p50=${r.getDouble(1)}, p90=${r.getDouble(2)})")
    val exact = Catalog.queries("x33_percentiles")(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(rows.map(_.getString(0)).toSet == exact.keySet)
    for (r <- rows)
      assert((r.getDouble(1), r.getDouble(2)) == exact(r.getString(0)),
        s"${r.getString(0)}: x54 exact columns drifted from x33")
  }

  test("x28 in-query tolerance verdicts are green and exact side matches q05") {
    val rows = Catalog.queries("x28_approx_distinct")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows)
      assert(r.getBoolean(2), s"day ${r.getDate(0)}: approx distinct " +
        s"outside 15% of exact ${r.getLong(1)}")
    val exact = Catalog.queries("q05_daily_distinct")(spark, sf0001)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(rows.map(_.getDate(0).toString).toSet == exact.keySet)
    for (r <- rows)
      assert(r.getLong(1) == exact(r.getDate(0).toString),
        s"day ${r.getDate(0)}: x28 exact side drifted from q05")
  }

  test("one-task floor fusion: fused and at-scale branches return identical " +
    "rows (r14) — including x62's join-free array funnel") {
    // the suite-level forced leg: `large` takes every at-scale branch (the
    // one-task fusions, kernel spreads, x34's pair sort, x97's spread) and
    // the at-scale side of every probe route (keyedRowNumbers' distributed
    // offsets, the two-pass running total, the windowed n-gram prefix, the
    // LSH join, the salted semantic join, the exact decontamination, the
    // centroid cross join, the star rounds, x81's shuffle join), which
    // sf0.001 never reaches on its own; no decision may record a small
    // side there. ROW-SET comparison (sorted render), not row order: the
    // oracle compare (tools/check_oracle.py) sorts before hashing, and e.g.
    // x87's two branches emit the same total (shard, pos) content from
    // different partition layouts
    val smallSides = Set(graft.engine.ScalePolicy.Small,
      "driver", "window", "broadcast", "kernel", "bloom")
    for (q <- Catalog.all) {
      def rows() = Catalog.queries(q.name)(spark, sf0001).collect()
        .map(_.toString).sorted.toSeq
      val auto = rows()
      val (large, decisions) = atScale { graft.engine.ScalePolicy.recorded(rows()) }
      assert(auto == large,
        s"${q.name}: the small-input branch diverges from the at-scale " +
          s"branch (${auto.size} vs ${large.size} rows)")
      val small = decisions.filter(d => smallSides.contains(d.branch))
      assert(small.isEmpty, s"${q.name} took a small side under large: $small")
    }
  }

  test("toleranceReport emits measured errors consistent with the verdicts") {
    val json = Catalog.toleranceReport(spark, sf0001)
    assert(json.contains("\"x28_approx_distinct\":{\"pass\":true"))
    assert(json.contains("\"x54_approx_percentiles\":{\"pass\":true"))
    assert(json.contains("max_rel_err") && json.contains("max_norm_err"))
  }
}
