package graft

/** Registry-wide physical-plan regression guard: building every
  * registered query's plan against the sf0.001 fixtures, assert that
  * the worst scale killers never appear —
  *
  *  - `CartesianProduct` nowhere (an unconditional O(|L|·|R|) shuffle
  *    join; nothing in the registry should ever need one);
  *  - `BroadcastNestedLoopJoin` ONLY in queries on the explicit
  *    allowlist, where the broadcast side is a 1-row aggregate or a
  *    few-row literal table (scalar-subquery shape — each entry was
  *    reviewed when allowlisted).
  *
  * A new query that accidentally degrades to a nested-loop join (a
  * dropped join key, a non-equi condition Catalyst can't hash) fails
  * here at plan-build time instead of surfacing as a bench regression
  * three rounds later.
  */
class PlanGuardSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Queries whose plans legitimately contain BroadcastNestedLoopJoin:
    * every entry is a 1-row (or literal few-row) broadcast — scalar
    * thresholds, cardinality caps, census assembly, epoch tables. */
  private val scalarBroadcastAllowed: Set[String] = Set(
    "rel_above_avg_orders",   // avg(o_totalprice) scalar
    "rel_top_supplier",       // max-revenue scalar equality
    "rel_division",           // divisor-cardinality scalar
    "rel_stock_concentration",// concentration threshold scalar
    "rel_small_qty_revenue",  // correlated-scalar decorrelation
    "rel_market_share",       // windowed-total 1-row side
    "rel_triangle_count",     // census assembly (3 one-row aggs)
    "rel_ks_mannwhitney",     // n_a/n_b totals broadcast
    "rel_approx_distinct",    // HLL vs exact scalar compare
    "rel_cdc_asof",           // 2-row epoch table
    "pipe_mixture_plan",      // scarcest-language cap scalar
    "pipe_mixture_apply",     // same cap, applied
    "pipe_mixture_temperature", // token-total + temp-normalizer 1-rows
    "pipe_domain_quality",    // global-median quality 1-row broadcast
    "pipe_domain_mixture",    // (total_tokens, n_domains) 1-row broadcast
    "pipe_epoch_decay",       // same (total_tokens, n_domains) 1-row side
    "pipe_shard_assign",      // (total_docs, total_tokens) 1-row broadcast
    "pipe_gate_kappa",        // global-median quality 1-row broadcast
    "pipe_quality_dup_matrix", // quartile-cutpoint 1-row broadcast
    "rel_bootstrap_ci",       // 64-row replicate-index broadcast fan-out
    "rel_benford_audit",      // 1-row digit-total broadcast
    "text_nb_confusion",      // class-count NB param frame (|langs| rows)
    "text_nb_accuracy",       // same trained-classifier param frame
    "text_nb_calibration",    // same scored frame (params broadcast)
    "text_nb_f1",             // same confusion chain (params broadcast)
    "text_nb_gate",           // same scored frame at the margin cut
    "text_lr_auc",            // 1-row (n_pos, n_neg) totals broadcast
    "text_lr_pr_curve",       // 1-row positives-total broadcast
    "pipe_contamination",     // benchmark-side scalar stats
    "pipe_pack_bins",         // shard-width scalar
    "pipe_stratified_sample", // per-stratum rate table
    "evt_funnel",             // single-row funnel pivot
    "evt_rfm_segments",       // reference-epoch + quintile 1-row sides
    "evt_user_concentration", // p90 cutpoint + totals 1-row sides
    "text_vocab_growth",      // quartile-cut row + 1-row rollup joins
    "dedup_exact_rows",       // corpus-count scalar
    "doc_tfidf_top_terms",    // corpus-N 1-row cross join
    "doc_bm25_topk",          // corpus (N, sum dl) 1-row cross join
    "sim_rrf_fusion",         // same bm25 1-row consts + brute dense
                              //   eval-query broadcast (bounded)
    "doc_assoc_pairs",        // corpus-N 1-row cross join (lift scale)
    "rel_join_size_est",      // exact-count × est-count 1-row scalars
    "rel_skew_f2_est",        // exact-F2 × est-F2 1-row scalars
    "rel_kll_error",          // 5-row estimate table cross join (the
                              //   l_star pick itself is a hash join)
    "pipe_domain_weights",    // corpus-point + Σm 1-row broadcasts
    "rel_kmv_intersect",      // year-flag pair table (7 rows) + sketch
    "rel_modularity",         // undirected-edge-count m 1-row broadcast
    "evt_hits",               // L1-total 1-row broadcasts (4: 2 rounds × 2)
    "mm_audio_energy",        // 1024-row PCM sample-index broadcast fan-out
    "mm_audio_silence",       // same 1024-row sample-index fan-out
    "pipe_weighted_sample",   // total-weight 1-row broadcast
    "text_lang_confusion",    // total-count scalar share
    "text_lang_jsd",          // 10-row lang-pair table: `<` self-join +
                              //   disjunctive membership join (both BNLJ)
    "sim_recall_eval", "sim_ivf_recall", "sim_ivfpq_recall", // k scalars
    "sim_multiprobe_recall",  // same brute-force ground-truth side
    "sim_topk_ivf", "sim_topk_ivfpq", // nprobe centroid few-row sides
    "sim_topk_ivf_trained",   // k-means centroid broadcasts (c=8 rows)
    "sim_kmeans_inertia",     // same k-means centroid broadcasts
    "sim_bitext_mine",        // label-cell centroid broadcast (8 rows)
    "sim_semantic_dedup",     // same k-means centroid broadcasts
    "sim_cell_drift",         // same k-means centroid broadcasts (c=8)
    "sim_cell_drift_jsd",     // same + 1-row occupancy-totals broadcast
    "dedup_text_vs_semantic", // same k-means centroid broadcasts (agreement matrix)
    "sim_ivf_trained_recall", // same chain + 1-row truth scalars
    "sim_quantize", "sim_pq_codes",   // codebook broadcast
    "mm_modality_mix",        // modality-universe literal
    "evt_dau_wau",            // 7-day spine literal
    "evt_daily_gapfill",      // day-spine literal
    "evt_value_deciles",      // percentile-cutpoint 1-row broadcast
    "rel_idle_customers",     // Q22 avg-acctbal scalar subquery
    "text_unigram_nll",       // 1-row (T, V) corpus-totals broadcast
    "text_bigram_nll",        // 1-row vocab-size broadcast (V scalar)
    "text_trigram_backoff",   // 1-row (N, V) train-totals broadcast
    "pipe_ccnet_buckets",     // same scorer chain + 1-row totals
    "pipe_dsir_weights",      // 1-row corpus-constant broadcast (c6)
    "pipe_dsir_select",       // same chain + 1-row threshold broadcast
    "evt_cuped",              // 1-row midpoint + 1-row theta broadcasts
    "rel_cross_matrix",       // DELIBERATE cross join (contingency table
                              //   with zero cells — the §2.3 cross-join row)
    "sim_topk_brute",         // brute-force ground-truth baseline: its
                              //   16-row query side broadcasts (bounded)
    "sim_mmr_rerank",         // same brute first stage (16-row broadcast);
                              //   re-rank itself is candidate-bounded
    "sim_power_iter",         // 1-row L∞-max broadcast per round (3)
    "sim_aniso_energy",       // same 3 + the 1-row |v|² broadcast
    "sim_residual_energy",    // same eigenvector chain + |v|² 1-row
    "sim_semantic_dedup_incr",// frozen k-means centroid broadcasts (c=8)
    "sim_matryoshka_recall",  // 16-row query broadcast + truth side
    "sim_mrl_funnel",         // 16-row query broadcast, both stages
    "sim_int8_recall",        // 16-row dequantized-query broadcast + truth
  )

  test("no CartesianProduct anywhere; BNLJ only on the reviewed allowlist") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan =
        try fn(spark, dir).queryExecution.executedPlan.toString
        catch { case e: Throwable => s"PLAN-BUILD-FAILED: ${e.getMessage}" }
      if (plan.contains("PLAN-BUILD-FAILED"))
        offenders += s"$name: $plan"
      if (plan.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (plan.contains("BroadcastNestedLoopJoin") &&
          !scalarBroadcastAllowed(name))
        offenders += s"$name: unlisted BroadcastNestedLoopJoin"
    }
    assert(offenders.isEmpty,
      s"plan regressions:\n${offenders.mkString("\n")}")
  }
}
