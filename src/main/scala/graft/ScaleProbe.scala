package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reproducible 1×-vs-4× scaling probe behind SURVEY §2e. Builds a 4×
  * corpus from sf0.1 by unioning four shifted copies — ids offset so the
  * copies are key-disjoint, timestamps offset so time density stays
  * constant (a time-range join would otherwise see 16× pair fan-out from
  * overlap, which measures density, not scale), and document words
  * copy-tagged so the shingle universes are disjoint (identical texts
  * would make every near-dup operator's OUTPUT superlinear by
  * construction). Then times each probe query on both corpora, min of
  * two passes.
  *
  * Usage: runMain graft.ScaleProbe [baseDir] [q1,q2,...]
  */
object ScaleProbe {

  private[graft] val DefaultProbes = Seq(
    "q43_range_join_banded", "t04_fingerprint", "t07_tfidf_top_terms",
    "t08_decontamination", "t09_repetition_ratio",
    "s06_centroids_by_lang", "d03_dedup_minhash_lsh",
    "d08_chunk_dedup", "q42_window_range_frame", "q66_gapfill_resample",
    "q67_fuzzy_join_blocked", "s07_centroid_assign", "t15_sequence_packing",
    "src10_zorder_stats", "q78_contiguous_ids", "q36_winsorize",
    "s09_random_projection", "s10_kmeans", "t20_mixture_resample",
    "q88_sketch_rollup", "t14_quality_rules",
    // ANN paths (codegen'd PackedSignBits / PqEncode kernels): corpus 4×
    // with the query set fixed → expect ~linear bucket/encode scans
    "s02_knn_lsh", "s08_knn_pq",
    // chunk-shuffle boilerplate removal: linear in chunks, no pairwise
    "d11_boilerplate_removal",
    // duplicated spans: linear token-scale shuffles + per-doc merge;
    // copies are word-tagged, so cross-copy spans never collide
    "d12_duplicate_spans",
    // q91 recursion is NOT probed: the 4× corpus day-shifts copies ~12k
    // days apart, so its spine depth exceeds the default recursion level
    // limit (100; raiseable per-query with MAX RECURSION LEVEL n) — a
    // data-layout artifact of the probe corpus, not an engine property
    "q93_approx_top_k", "q95_bag_set_ops", "q96_union_by_name",
    "t21_classifier_score", "t22_source_quality_cap",
    // round-4 additions: shard-keyed permutation / literal-table scoring
    // / per-source admission window / byte-shingle vote + banded join /
    // bounded fusion — all expected ~linear or flat
    "t24_epoch_shuffle", "t25_dsir_weights", "t26_token_budget_mix",
    "m06_media_phash_pairs", "s12_hybrid_rrf",
    // round-4 late additions: BPE train cost tracks |vocab| (sublinear in
    // corpus), triplets/broadcast-scan and chunk/diff/SQL-minhash scans
    // expected ~linear
    "t28_bpe_tokenize", "s13_hard_negatives", "t29_chunk_windows",
    "d13_sql_minhash", "d14_snapshot_diff", "s14_mmr_diverse",
    "t30_length_batching",
    // round-6/7 additions (r7 two-decade rows in SURVEY §2e): backoff
    // LMs + the frequency-cut path, approx profile, wide banding, bloom
    // probe, the fixed-codebook ANN search oracles, trainer iter-1, and
    // the streaming near-dup next to its measured lifecycle floor
    "t31_bigram_backoff", "t32_trigram_backoff", "t33_bigram_backoff_cut",
    "q102b_data_profile_approx", "m07_phash_pairs_wide",
    "src16_parquet_bloom", "s16_ivf_search_oracle", "s17_pq_search_oracle",
    "t34_classifier_train_iter1",
    "q104_streaming_minhash_pairs", "q105_streaming_lifecycle_floor",
    // one-sided banded admission (near-linear) and broadcast-eval
    // decontam (BOTH sides grow with the probe corpus ⇒ quadratic pair
    // work BY CONTRACT, like s13 — production eval sets are fixed-size)
    "d16_incremental_minhash", "t35_embedding_decontam",
    "m08_incremental_phash", "q106_streaming_admission",
    // round-7 continuation: integer fixed-point PageRank (per-iteration
    // broadcastable rank join + one dst-keyed long-sum shuffle) and the
    // mergeable histogram percentile rollup (bounded bucket keys)
    "q107_link_rank", "q108_quantile_rollup", "q109_hits",
    "q110_trust_rank", "q111_streaming_quantile",
    // label propagation: q107's movement with a sparse (node, label)
    // mass table — labels constant (25 nations), edges ~linear
    "q112_label_propagation", "q112b_label_prop_dense",
    // sync LPA (votes = |E| + |V| rows/round) and the k-core peel
    // (edge table shrinks monotonically) — both expected ~linear
    "q113_lpa_communities", "q114_kcore",
    // degree-oriented wedge join: out-degree bounded O(sqrt(E))
    "q115_triangle_count",
    // round-8 additions: the routed LP entry (dense path, q112b's
    // shape), the snapshot delta (one full-outer equi-join, ~linear),
    // the bounded-hop frontier (delta + 2 edge joins), and the capstone
    // (d03 pairs → weighted LPA → keeper window; all stages ~linear)
    "q112c_label_prop_auto", "q116_edge_delta", "q117_stale_frontier",
    "d17_community_canonical",
    // warm-start resume: q107's per-iteration movement, 3+2 rounds
    "q118_warm_rank",
    // streaming edge delta (q116's movement behind the q111 monoid
    // seam) and warm label resume (q112's movement, 2+2 rounds)
    "q119_streaming_edge_delta", "q120_warm_labels",
    // weighted-teleport rank (q110's movement) and the weighted peel
    // (q114's movement with sum-degree instead of count-degree)
    "q121_topic_rank", "q122_kcore_weighted",
    // coarsening (q113's rounds + two hash joins) and multi-source BFS
    // (ring joins, frontier-sized)
    "q123_community_graph", "q124_seed_distance",
    // bounded min-label components over the near-dup pair graph
    "d18_minlabel_components",
    // end-to-end incremental re-rank (old-rank + 2 resumed rounds)
    "q125_incremental_rank",
    // warm community resume (q113's movement, 2+2 rounds)
    "q126_warm_communities",
    // round-9 additions: dense-routed label resume (q112b's movement on
    // the resumed rounds + the sparse-state vector load) and the
    // continuous maintenance loop (q125's two phases + per-boundary
    // delta/frontier work — boundaries constant, so ~q125's decade)
    "q127_warm_labels_auto", "q128_continuous_rank",
    // round-10 additions: index maintenance = anti-join (state × touched
    // ids) + kernel over DELTA docs + the capped-view window — the
    // corpus term is the delta kernel pass, expected ~linear in delta
    // size; m09 adds the admission serve on the maintained index
    "d19_index_maintenance", "m09_phash_maintenance",
    // the continuous drain adds ~2 boundary floors + per-boundary state
    // rewrite over d19's movement — expect near-flat like q128
    "q129_continuous_index",
    // ANN assignment maintenance: broadcast k-row codebook × delta
    // argmin + the state anti-join — expect ~linear in the delta
    "s18_assignment_maintenance",
    // round-11: integer fixed-point k-means — per iteration one scan
    // (codegen'd literal-centroid argmax) + one k·dim-key hash agg, the
    // s10 shape with exact arithmetic — expect ~linear like s10
    "s19_kmeans_fixed",
    // retrain seam: two s19 trainings + one full-corpus assignment scan
    // + the state anti-join — expect ~linear (2× s19's slope)
    "s20_retrain_reassign",
    // continuous maintenance for the media and ANN families: ~2
    // boundary floors + the family kernel over per-batch deltas — the
    // q129 shape, expect near-flat over the one-shot m09/s18 movement
    "m10_continuous_phash", "s21_continuous_assignments",
    // end-to-end fixed-point IVF: s19's training + one listing scan +
    // probed-candidate re-rank (fixed query set) — expect ~linear
    "s22_ivf_fixed_search",
    // end-to-end fixed-point PQ: fused subspace training (s08's
    // shape) + encode scan + broadcast ADC (fixed query set) — ~linear
    "s23_pq_fixed_search",
    // round-12: IVFADC — both trainings + ONE index scan, but the ADC
    // window sees only probed lists (nProbe/nLists of the corpus), so
    // the per-query candidate term should grow SLOWER than s23's
    // scan-all ADC at the same decade
    "s24_ivfpq_search",
    // drift+retrain composed: s21's boundary floors + one mid-stream
    // s20 movement (capped training + one scoring scan) — expect the
    // s20 decade plus near-flat boundary overhead
    "s25_continuous_retrain",
    // continuous IVFADC maintenance: 2 boundary floors + both trainings
    // once + the encode kernel over per-batch deltas — the q129 shape
    // over the s24 build, expect near-flat over s24's movement
    "s26_continuous_ivfpq",
    // drift+retrain composed for the composed index: s26's boundary
    // floors + one mid-stream two-stage retrain + one full re-encode
    // scan — expect the s24 decade plus near-flat boundary overhead
    "s27_continuous_ivfpq_retrain",
    // serving path: s26's drain + the probed-list ADC search against
    // the drained state (no re-encode) — expect s26's decade plus
    // s24's probe term
    "s28_ivfpq_search_maintained",
    // drift-CHOSEN retrain (s29): s25's boundary floors + a delta-sized
    // moved-share scan per boundary + the one triggered retrain —
    // expect floor-dominated like s25/s27 (the statistic never scans
    // the corpus; measure, don't assume — r13 verdict item)
    "s29_drift_triggered_retrain",
    // round-14: list-skew rebalance — one training, one census scan,
    // then Lloyd passes over SPLIT lists' members only; the staged hot
    // region is ~half the corpus, so expect ~linear (the split-member
    // term tracks corpus share, not corpus²)
    "s30_list_rebalance",
    // rebalance applied to the serving layout: s30's movement + one
    // dynamic-partition write of touched lists (~linear in movers) —
    // added to the roster r15 (it was the family's one unprobed gate)
    "s32_rebalance_apply",
    // list-starvation merge: one training, one census scan, ONE output
    // scan (literal rank map + survivor-codebook argmax) — ~linear
    "s31_list_merge",
    // load-balanced split: census + spread agg + per-list rank window
    // over split members (~half the corpus by staging) — ~linear
    "s33_list_split_even",
    // census-triggered rebalance through the loop: s21's boundary
    // floors + delta-sized census updates + the one mid-stream s33
    // cut — expect floor-dominated like s25/s27/s29 (the census never
    // scans the state past the lineage baseline; measure, don't assume)
    "s34_continuous_rebalance",
    // round-15: the versioned apply (s32's write volume + a manifest
    // commit — ~linear in movers) and the composed census→drift loop
    // (s34's boundary floors + one mid-stream cut + one capped retrain
    // — expect floor-dominated like s25/s27/s29/s34)
    "s35_rebalance_apply_versioned", "s36_census_then_drift",
    // IVFADC rebalance: the s33 cut + one re-encode kernel pass over
    // split-list members (~the hot share of the corpus) — ~linear
    "s37_ivfpq_rebalance",
    // IVFADC merge: census + orphan-only argmax/re-encode kernel +
    // a map-literal renumber on carried rows — ~linear in orphans
    "s38_ivfpq_merge",
    // round-16: the census monitor on the CONTINUOUS composed loop —
    // s26's boundary floors + delta-sized census updates + the one
    // mid-stream s37 cut (re-encode over split members only) — expect
    // floor-dominated like s34/s36 (measure, don't assume)
    "s39_continuous_ivfpq_rebalance",
    // round-16: drift-chosen two-stage retrain — s27's boundary floors
    // + a delta-sized moved-share join per boundary + the one triggered
    // retrain/re-encode — expect floor-dominated like s27/s29
    "s40_ivfpq_drift_retrain",
    // round-17: the norm-collapse RECOVERY — s27's boundary floors +
    // a delta-sized envelope aggregate per boundary + the one
    // triggered normalized two-stage retrain/re-encode (the recovery
    // pays a corpus-scale pass by definition, like a retrain) —
    // expect floor-dominated like s40
    "s41_ivfpq_norm_recovery",
    // fixed-point classifier training: one token explode + per
    // iteration a doc-keyed margin agg + a 65-key gradient agg over the
    // sparse feature table — expect ~linear in corpus tokens
    "t36_classifier_train_fixed")

  private val IdShift = 10000000L
  private val DayShift = 4000 // > TPC-H date span, so copies never overlap

  private def tagWords(c: Int) = // every word tagged → disjoint shingles
    transform(split(col("text"), " "), w => concat(lit(s"c${c}_"), w))

  def build4x(spark: SparkSession, base: String, out: String): Unit =
    buildNx(spark, base, out, 4)

  /** N disjoint shifted copies — same construction at any factor, so the
    * probe can measure two decades (1×/4×/16×) instead of one. Shifts
    * stay safe at 16×: ids reach 1.6·10⁸, event timestamps ~7·10¹⁸ ns
    * (under Long.Max), dates +164 years (within Spark's date range).
    */
  def buildNx(spark: SparkSession, base: String, out: String, n: Int): Unit = {
    def copies(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until n).map(c => shift(df, c)).reduce(_ union _)

    copies(spark.read.parquet(s"$base/documents.parquet")) { (df, c) =>
      df.withColumn("doc_id", col("doc_id") + lit(c * IdShift))
        .withColumn("text",
          if (c == 0) col("text") else concat_ws(" ", tagWords(c)))
    }.write.mode("overwrite").parquet(s"$out/documents.parquet")

    copies(spark.read.parquet(s"$base/embeddings.parquet")) { (df, c) =>
      df.withColumn("vec_id", col("vec_id") + lit(c * IdShift))
    }.write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    copies(spark.read.parquet(s"$base/lineitem.parquet")) { (df, c) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(c * IdShift))
        .withColumn("l_shipdate",
          col("l_shipdate") + expr(s"interval ${c * DayShift} days"))
    }.write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // o_custkey shifts WITH the customer copies, so per-customer order
    // density stays constant (4× orders against 1× customers would
    // measure key heat, not scale)
    copies(spark.read.parquet(s"$base/orders.parquet")) { (df, c) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(c * IdShift))
        .withColumn("o_custkey", col("o_custkey") + lit(c * IdShift))
        .withColumn("o_orderdate",
          col("o_orderdate") + expr(s"interval ${c * DayShift} days"))
    }.write.mode("overwrite").parquet(s"$out/orders.parquet")

    copies(spark.read.parquet(s"$base/customer.parquet")) { (df, c) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(c * IdShift))
    }.write.mode("overwrite").parquet(s"$out/customer.parquet")

    // constant dimension tables: carried over unmultiplied — scaling the
    // fact side against fixed dims is exactly the broadcast-join claim
    Seq("supplier", "nation", "region").foreach { t =>
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

    // part: keys shifted, NAMES kept — the distinct-value table stays
    // constant while rows 4×, which is exactly the fuzzy join's scaling
    // claim (pairwise cost decoupled from row count)
    copies(spark.read.parquet(s"$base/part.parquet")) { (df, c) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(c * IdShift))
    }.write.mode("overwrite").parquet(s"$out/part.parquet")

    // events: users AND ids shifted so per-user time spans stay constant
    // (same-user copies would triple every gap-fill spine instead of
    // adding users). The day shift dispatches on the fixture generation:
    // nanos-as-long shifts in raw nanos, a native timestamp column shifts
    // by interval — Tables.events normalizes both on read-back.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    copies(spark.read.parquet(s"$base/events.parquet")) { (df, c) =>
      val shifted = df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          col("ts") + lit(c.toLong * DayShift * 86400L * 1000000000L)
        case _ => col("ts") + expr(s"make_interval(0, 0, 0, ${c * DayShift}, 0, 0, 0)")
      }
      df.withColumn("event_id", col("event_id") + lit(c * IdShift))
        .withColumn("user_id", col("user_id") + lit(c * IdShift))
        .withColumn("ts", shifted)
    }.write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  /** Usage: runMain graft.ScaleProbe [baseDir] [q1,q2,...] [factors]
    * `factors` is a comma list of copy counts (default "4"); e.g. "4,16"
    * probes two decades of scaling per query.
    */
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val probes = // "" selects the default roster (lets callers reach argv[2])
      if (args.length > 1 && args(1).nonEmpty) args(1).split(",").toSeq
      else DefaultProbes
    val factors =
      if (args.length > 2) args(2).split(",").map(_.toInt).toSeq else Seq(4)
    // fail-fast with NAMES, not a NoSuchElementException mid-probe: a
    // roster entry whose gate was (re)moved is a rot error to report
    val dangling = probes.filterNot(SparkEntry.queries.contains)
    require(dangling.isEmpty,
      s"probe roster gates not in SparkEntry.queries: ${dangling.mkString(", ")}")
    val spark = Harness.session()
    val dirs = factors.map { f =>
      val out = s"${sys.props("java.io.tmpdir")}/graft_scale_x$f"
      buildNx(spark, base, out, f)
      f -> out
    }
    def time(name: String, dir: String): Double =
      math.min(Harness.time(spark, name, dir), Harness.time(spark, name, dir))
    probes.foreach { q => time(q, base); () } // warmup pass at 1×
    val entries = probes.map { q =>
      val t1 = time(q, base)
      val tn = dirs.map { case (f, d) => f -> time(q, d) }
      val cols = tn.map { case (f, t) =>
        String.format(java.util.Locale.ROOT, ""","t%dx":%.3f,"ratio%dx":%.2f""",
          Int.box(f), Double.box(t), Int.box(f), Double.box(t / t1))
      }.mkString
      println(String.format(java.util.Locale.ROOT,
        """{"query":"%s","t1x":%.3f%s}""", q, Double.box(t1), cols))
      String.format(java.util.Locale.ROOT, """"%s":{"t1x":%.3f%s}""",
        q, Double.box(t1), cols)
    }
    // machine-diffable per-round artifact (the BENCH_DETAIL convention):
    // gate → {t1x, tNx, ratioNx} plus the run parameters a comparison
    // needs to refuse not-comparable rows (scripts/probes_delta.py)
    val factorsJson = factors.mkString("[", ",", "]")
    val artifact = java.nio.file.Paths.get("PROBES.json")
    try java.nio.file.Files.write(artifact,
      s"""{"base":"$base","factors":$factorsJson,"runs":2,"queries":${entries.mkString("{", ",", "}")}}
""".getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[probe] could not write ${artifact.toAbsolutePath}: $e") }
    spark.stop()
  }
}
