package graft.queries

import graft.SparkSpec

/** Categorical scale-killer guard: EVERY pure gate query's physical plan
  * is scanned for unbounded-pair operators (CartesianProduct /
  * BroadcastNestedLoopJoin). Round 1's two 120-second regressions (d02,
  * d05) were exactly this shape — a per-query audit catches the NEXT one
  * the moment it's registered, instead of at the bench.
  *
  * Queries whose CONTRACT is pairwise (exact all-pairs at low threshold,
  * brute-force baselines, an intentional cross join) are whitelisted with
  * the reason inline; everything else must plan as equi-joins.
  */
class PlanAuditSpec extends SparkSpec {

  /** Builders that execute work eagerly (streaming drains, engine runs,
    * file writes) — planning them here would run jobs, not just plan.
    * Their plans are audited by their own specs instead.
    */
  private val eager: Set[String] = Set(
    "q76_streaming_tumbling", "q77_streaming_interval_join",
    "q82_streaming_session", "q83_streaming_stateful_count",
    "q89_streaming_left_outer", "q90_transform_with_state",
    "q98_stateful_timers",  // streaming drain like q90
    "q99_sql_scripting",    // the script executes at sql() time
    "q101_streaming_dedup", // streaming drain like q90
    "q104_streaming_minhash_pairs", // streaming drain like q101
    "q105_streaming_lifecycle_floor", // streaming drain by design (the floor probe)
    "q106_streaming_admission", // streaming drain (foreachBatch against the static index)
    "q111_streaming_quantile",  // streaming drain (foreachBatch histogram append)
    "q119_streaming_edge_delta", // streaming drain (foreachBatch weight partials)
    "q128_continuous_rank",  // streaming drain (the continuous maintenance loop)
    "q129_continuous_index", // streaming drain (q128's pattern, dedup family)
    "m10_continuous_phash",  // streaming drain (q129's pattern, media family)
    "s21_continuous_assignments", // streaming drain (q129's pattern, ANN family)
    "q130_socket_ingest") // live TCP drain by design (server + socket source)
  private def eagerPrefix(n: String): Boolean =
    n.startsWith("p0") || n.startsWith("src")

  /** Builders that TRAIN at build time: their k-means/codebook Lloyd
    * loops run driver-side collect()s over Spark jobs, so "planning"
    * them here would execute full training, not just plan — excluded
    * like the eager set to keep this sweep plan-only. Their quality and
    * determinism are asserted in FixedPointKmeansSpec and their oracles;
    * s08's broadcast-ADC scan is pairwise by contract like s01's.
    */
  private val trainsAtBuild: Set[String] = Set(
    "s04_knn_ivf", // trains the fixed-point codebook at build (s22's shape)
    "s08_knn_pq", // trains the fixed-point PQ codebooks at build (s23's)
    "s10_kmeans", // fixed-point Lloyd collects per iteration at build
    "s19_kmeans_fixed", // fixed-point Lloyd collects per iteration at build
    "s20_retrain_reassign", // retrains the fixed-point codebook at build
    "s22_ivf_fixed_search", // trains the fixed-point codebook at build
    "s23_pq_fixed_search", // trains the fixed-point PQ codebooks at build
    "s24_ivfpq_search", // trains BOTH fixed-point stages at build (s22+s23)
    "s25_continuous_retrain", // streaming drain + retrains at a boundary
    "s26_continuous_ivfpq", // trains both stages at build + streaming drain
    "s27_continuous_ivfpq_retrain", // s26's build shape + in-stream retrain
    "s28_ivfpq_search_maintained", // trains + drains at build, then searches
    "s29_drift_triggered_retrain", // trains at build + drift-monitored drain
    "t25_dsir_weights", // bucket-table aggregate collects at build time
    "t27_classifier_train", // GD iterations collect at build time
    "t34_classifier_train_iter1", // one GD iteration collects at build time
    "t36_classifier_train_fixed", // fixed-point GD iterations collect at build
    "t28_bpe_tokenize", // merge-training argmax collects per iteration
    "s14_mmr_diverse", // bounded poolK pool+sims collect; greedy on driver
    // hammingPairsAuto sizes its banding from a corpus count(): building
    // the gate here would localCheckpoint + run the full phash kernel —
    // work, not a plan. Both banding paths it routes to ARE audited:
    // d04 covers hammingPairs, m07 covers hammingPairsBlocks.
    "m06_media_phash_pairs",
    // pageRank/hits count nodes + localCheckpoint edges/scores per
    // iteration at build time (the d06 iterate-at-build shape); each
    // round is equi-joins + hash aggs (plus hits' 1-row renorm
    // broadcast) by construction — GraphRankSpec covers both
    "q107_link_rank", "q109_hits", "q110_trust_rank",
    "q112_label_propagation", "q112b_label_prop_dense",
    "q112c_label_prop_auto", // collects the ≤65-label universe + dense path's checkpoints
    "q113_lpa_communities", "q114_kcore",
    "q115_triangle_count", // localCheckpoints the oriented edge list at build
    "q117_stale_frontier", // localCheckpoints delta + per-hop frontier at build
    "q118_warm_rank",      // runs the warm 3-iteration rank at build, then resumes
    "q120_warm_labels",    // runs the warm 2-round mass table at build, then resumes
    "q121_topic_rank",     // weighted-teleport rank iterates at build (q110's shape)
    "q122_kcore_weighted", // weighted peel iterates at build (q114's shape)
    "q123_community_graph", // runs the 4-round LPA at build before quotienting
    "q124_seed_distance",  // per-ring localCheckpoints at build (q117's shape)
    "d18_minlabel_components", // min-label rounds localCheckpoint at build
    "q125_incremental_rank", // ranks the old snapshot at build, then resumes
    "q126_warm_communities", // runs the warm 2-round LPA at build, then resumes
    "d17_community_canonical") // labelCommunities' per-round checkpoints at build
    // (q116_edge_delta stays AUDITED: one full-outer equi-join, plan-only)

  /** Pairwise-by-contract: the nested-loop is the documented semantics,
    * not an accident.
    */
  private val pairwiseByContract: Set[String] = Set(
    "q26_join_cross",      // the cross-join gate itself
    "s01_knn_brute_force", // exact baseline: broadcast queries × corpus
    "d05_dedup_embedding", // exact all-pairs BY CONTRACT (block-grid bounds memory, not compute)
    "q75_scalar_subquery", // scalar subquery compiles to a 1-row broadcast
    "s12_hybrid_rrf",      // vector side IS s01's brute-force contract (1 broadcast query row)
    "s13_hard_negatives",  // exact triplet mining: anchors broadcast × corpus, s01's contract
    "s17_pq_search_oracle", // broadcast queries × coded corpus: s08's ADC scan contract (s08 itself trains at build)
    "t35_embedding_decontam" // broadcast eval set × corpus scan: t08's/s01's contract
  )

  /** Global-stat attach: a crossJoin against an AGGREGATE output whose
    * row count is bounded by construction (1 row of corpus totals, or a
    * k-row codebook) — the nested loop's build side can never grow with
    * the data, so the plan is scale-safe despite the operator name.
    */
  private val singletonBroadcast: Set[String] = Set(
    "s07_centroid_assign",   // k-row codebook broadcast against the scan
    "s18_assignment_maintenance", // same k-row codebook broadcast (s07's shape) on the delta side
    "t07_tfidf_top_terms",   // 1-row corpus doc-count
    "t11_bm25_search",       // 1-row (N, avgdl) stats
    "t12_unigram_logprob",   // 1-row total token count
    "t16_stratified_sample", // 1-row global target count
    "t20_mixture_resample",  // 1-row total for temperature shares
    "t26_token_budget_mix",  // 1-row Z normalizer for budget shares
    "t30_length_batching",   // 1-row exact-percentile bucket boundaries
    "s15_sql_ann",           // 1-row query vector attached to the re-rank
    "t31_bigram_backoff",    // 1-row total token count (t12's shape)
    "t32_trigram_backoff",   // 1-row total token count (t12's shape)
    "t33_bigram_backoff_cut" // 1-row total token count (t12's shape)
  )

  test("no gate plans an unbounded pairwise join unless pairwise is its contract") {
    val pairwiseNames = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => eager(n) || eagerPrefix(n) || trainsAtBuild(n) }
      .flatMap { case (name, fn) =>
        val plan =
          try fn(spark, sfDir).queryExecution.executedPlan.toString
          catch { case e: Throwable => fail(s"$name failed to plan: $e") }
        val pairwise = plan.contains("CartesianProduct") ||
          plan.contains("BroadcastNestedLoopJoin")
        if (pairwise) Some(name) else None
      }.toSet
    val offenders =
      pairwiseNames -- pairwiseByContract -- singletonBroadcast
    withClue(s"unexpected pairwise plans: $offenders ") {
      offenders shouldBe empty
    }
    // and the whitelist doesn't rot: an entry that stopped planning
    // pairwise (someone fixed it) must be REMOVED, so a later regression
    // reintroducing the nested loop there can't hide behind it
    val stale = (pairwiseByContract ++ singletonBroadcast) -- pairwiseNames
    withClue(s"whitelist entries that no longer plan pairwise: $stale ") {
      stale shouldBe empty
    }
  }
}
