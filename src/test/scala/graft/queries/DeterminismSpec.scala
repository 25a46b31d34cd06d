package graft.queries

import graft.{QueryRegistry, SparkSpec}

/** Partitioning-independence audit for the float-heavy queries. The
  * determinism contract (Q.scala, ARCHITECTURE.md) claims results are
  * bit-identical regardless of physical parallelism — exact integer /
  * DECIMAL sums with one final cast, ORDERED folds for float
  * accumulation, total ORDER BY everywhere. This spec PROVES it for
  * the queries with the most floating-point surface: each runs under
  * two different shuffle-partition settings and the full collected
  * output must match byte-for-byte. A partitioning-dependent double
  * SUM (the bug class the ordered-fold rule exists for) diverges here
  * while still hash-matching the single-threaded DuckDB oracle.
  */
class DeterminismSpec extends SparkSpec {

  private val dir = small

  private val floatHeavy = Seq(
    "p31_dsir_importance",   // ordered ln-term fold per doc
    "t09_bigram_ppl",        // per-doc ln sums
    "t15_char_entropy",      // entropy terms
    "t18_zipf_slope",        // ln-ln regression moments
    "s01_ann_bruteforce",    // cosine folds + top-k ties
    "s17_ann_probe_sweep",   // k-means + recall ratios
    "q02_forecast_revenue",  // decimal->double discipline
    "q52_regression_agg",    // decimal moment sums
    "q55_time_weighted_avg", // decimal x interval products
    "mm13_phash_dct",        // integer DCT + hamming means
    "d05_embedding_neardup", // cosine over LSH candidates
    "q41_rolling_anomaly",   // windowed mean/stddev
    "t22_source_drift",      // KL ln-term DECIMAL fold per source
    "s19_matryoshka_recall", // prefix-cosine folds + top-k ties
    "t25_heaps_law",         // ln-ln regression over global-rank bins
    "q62_survival_km",       // micro-ln BIGINT survival folds
    "q61_shapley_attribution", // integer algebra + one display division
    "q69_auc_roc",           // integer rank-sum + two display divisions
    "q70_ks_separation",     // integer CDF gaps + argmax fold
    "q71_psi_drift",         // pinned fixed-point log, all-BIGINT (r10)
    "q73_cusum_changepoint", // BIGINT-cents fold + display divisions
    "p37_token_gini",        // global-rank integer sums
    "t27_pmi_collocations",  // rounded-ln ranking + top-k ties
    "s22_rrf_fusion",        // integer reciprocal-rank micro-units
    "q72_kll_quantile_merge", // exact values + sketch flag (randomized
                             // within guarantee — flag must hold under
                             // any merge order)
    "q74_seasonal_decompose", // integer MA/detrend + display divisions
    "q75_funnel_latency",    // histogram ranks + exact micros means
    "q76_pr_curve",          // integer suffix sums + ratio divisions
    "q77_conformal_coverage", // exact order statistic + two divisions
    "q78_ab_significance",   // exact counts + shared-double z algebra
    "q79_did",               // exact cell counts + double algebra
    "s23_bm25",              // rounded-ln scoring + top-k ties
    "q80_mann_kendall",      // integer pair fold + shared-double z
    "q81_benford_audit",     // exact digit counts + ln-constant shares
    "q82_cohort_ltv",        // BIGINT cents cumsum + display divisions
    "q83_theta_source_overlap", // theta retained set is order-free;
                             // exact counts + 2-sigma bound flags
    "s13_mmr_rerank",        // unrounded pure-IEEE MMR scores (r9)
    "t02_quality_score",     // exact-BIGINT rational rounding (r9)
    "t12_readability",       // exact-BIGINT rational rounding (r9)
    "q84_source_lang_independence", // split floor-ratio terms, exact
                             // BIGINT chi2, integer-compare band (r10)
    "q85_quality_length_spearman",  // exact rank moments + IEEE rho
    "d24_winnowing",         // string-min fingerprints + one division
    "q86_frequent_tokens",   // exact counts; MG flags hold under ANY
                             // purge/merge order (structural truth)
    "q87_isotonic_calibration", // minimax over exact-long ratios
    "s24_dbscan",            // exact-IEEE eps compares + min labels
    "q88_adamic_adar",       // rounded-ln terms in DECIMAL + top-k ties
    "q89_robust_location",   // exact rank cuts + BIGINT e9 means (r11)
    "t28_jsd_drift",         // rounded-ln terms in DECIMAL per side
    "q90_anova_length_by_source", // rounded per-group terms + F algebra
    "q91_markov_removal",    // BIGINT micro-units + one display division
    "q92_sketch_store_roundtrip", // theta store bytes are order-free;
                             // exact counts + 3-sigma bound flags (r10)
    "q93_varopt_sample",     // randomized contents, but gated surface
                             // is exact totals + structural flags (r10)
    "q92b_store_quantiles",  // exact ceiling-rank order stats; the
                             // KLL estimate enters only via a flag
                             // with a doubled rank-eps bracket (r11)
    "q92c_store_heavy_users", // freq purge order varies with
                             // partitioning, but gated columns are
                             // exact and flags structurally true (r11)
    "ws13_stream_sketch_store", // theta retained set is a pure
                             // function of the input set; exact
                             // counts + 3-sigma flag (r11)
    "q92d_store_varopt",     // sample contents randomized, but gated
                             // columns are exact BIGINTs and flags
                             // structurally true (min(k,n) size,
                             // invariant total, weight floor) (r11)
    "ws14_stream_kll_shards" // exact ceiling-rank order stats; the
                             // merged shard estimate enters only via
                             // the doubled rank-eps flag (r11)
  )

  test("float-heavy queries are bit-identical across shuffle parallelism") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try {
      floatHeavy.foreach { name =>
        val q = QueryRegistry.byName(name)
        spark.conf.set(key, "3")
        val a = q.run(spark, dir).collect().map(_.toString).toSeq
        spark.conf.set(key, "7")
        val b = q.run(spark, dir).collect().map(_.toString).toSeq
        assert(a.nonEmpty, s"$name returned no rows — vacuous check")
        assert(a == b, {
          val diff = a.zipAll(b, "<missing>", "<missing>")
            .filter { case (x, y) => x != y }.take(3)
          s"$name diverges across partitioning: $diff"
        })
      }
    } finally spark.conf.set(key, saved)
  }
}
