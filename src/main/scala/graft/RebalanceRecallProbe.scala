package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.queries.SkewFixture

/** Retrieval-quality evidence for the REBALANCE family (r14 verdict
  * item 1 — the round's own ADC lesson applied to its new geometry):
  * recall@k of the state-served IVF path
  * ([[Similarity.ivfSearchState]] — probe by codebook, candidates from
  * the PHYSICAL lists, exactly what the partitioned layout serves)
  * against brute-force exact cosine, measured on the staged hot-region
  * corpus BEFORE a rebalance, AFTER [[Similarity.splitListsEven]]'s
  * rank-chunk cut, and AFTER [[Similarity.mergeLists]]' starvation
  * merge. Rank chunks are NOT Voronoi cells of their floor-mean
  * centroids, so a query probing by centroid score can in principle
  * miss a chunk member — nothing but this measurement bounds that
  * loss. Alongside recall it reports the SERVING COST the rebalance
  * exists to fix: candRows = Σ probed-list candidate rows over the
  * query set (pre-cut, a hot-list probe scans ~half the corpus per
  * query; post-cut it scans ~balanced chunks).
  *
  * Emits one JSON line per (phase, nProbe):
  *   {"probe":"rebalance_recall","phase":"pre|post_split|post_merge",
  *    "sf":…,"n":…,"nLists":…,"nProbe":…,"k":…,"recall":0.xx,
  *    "candRows":N,"hottest":N}
  *
  * Usage: runMain graft.RebalanceRecallProbe <sfDir> [k] [nQueries]
  * The r15 sweep is recorded in RECALL.json (`postRebalance`); the
  * floors at the operating point are spec-asserted in
  * RebalanceRecallSpec.
  */
object RebalanceRecallProbe {

  /** recall@k + scanned-candidate count of the state-served path. */
  def measure(corpus: DataFrame, state: DataFrame, queries: DataFrame,
              cb: Array[Array[Long]], nProbe: Int, k: Int,
              truth: Map[Long, Set[Long]]): (Double, Long) = {
    val got = Similarity.ivfSearchState(corpus, state, queries, k,
        cb, nProbe).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).toSet).toMap
    val recall = truth.map { case (q, t) =>
      got.getOrElse(q, Set.empty).count(t).toDouble / t.size
    }.sum / truth.size
    // serving cost: every candidate the probed lists surface (k
    // unbounded ⇒ the rank filter keeps them all)
    val candRows = Similarity.ivfSearchState(corpus, state, queries,
      Int.MaxValue, cb, nProbe).count()
    (recall, candRows)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val k = if (args.length > 1) args(1).toInt else 10
    val nQ = if (args.length > 2) args(2).toInt else 20
    val spark = Harness.session()

    val emb = Tables.embeddings(spark, sfDir).localCheckpoint()
    val n = emb.count()
    // the staged hot-region corpus — the shape a rebalance exists for:
    // codebook trained BEFORE the drift (stale quantizer), odd ids
    // collapsed 1/64 toward the origin after
    val corpus = SkewFixture.skewed(emb).localCheckpoint()
    val queries = corpus.orderBy("vec_id").limit(nQ).localCheckpoint()
    val truth = RecallProbe.groundTruth(corpus, queries, k).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    require(truth.nonEmpty, "RebalanceRecallProbe: empty ground truth")

    val nLists = math.max(4, math.sqrt(n.toDouble).toInt)
    val cb = Similarity.kmeansTrainFixedPoint(emb, nLists, maxIter = 3)
    val pol = Similarity.RebalancePolicy(3L, 2L) // the suite's s30 bar
    val mpol = Similarity.MergePolicy(2L, 3L)    // the suite's s31 bar

    def censusTop(state: DataFrame): Long =
      state.groupBy(col("cid")).count()
        .agg(max(col("count"))).head().getLong(0)

    val state0 = Similarity.assignFixedPoint(corpus, cb).localCheckpoint()
    val (mv, cbSplit) = Similarity.splitListsEven(corpus, cb, pol,
      state = Some(state0))
    val stateSplit = mv.select(col("id"), col("cid")).localCheckpoint()
    require(cbSplit.length > cb.length,
      "RebalanceRecallProbe: the staged corpus split no list — the " +
        "post_split phase would measure an identity cut")
    val (mvM, cbMerge) = Similarity.mergeLists(corpus, cb, mpol)
    val stateMerge = mvM.select(col("id"), col("cid")).localCheckpoint()
    require(cbMerge.length < cb.length,
      "RebalanceRecallProbe: the staged corpus retired no list — the " +
        "post_merge phase would measure an identity merge")

    val phases = Seq(
      ("pre", state0, cb),
      ("post_split", stateSplit, cbSplit),
      // the CONTROL isolating the verdict's geometry question: the same
      // expanded codebook, but lists = its fresh argmax (Voronoi cells)
      // instead of the rank chunks. Any recall gap post_split_voronoi −
      // post_split is the non-Voronoi-ness of rank chunks; the gap
      // pre − post_split_voronoi is probe-budget dilution (more, finer
      // lists at a fixed nProbe), not geometry.
      ("post_split_voronoi",
        Similarity.assignFixedPoint(corpus, cbSplit).localCheckpoint(),
        cbSplit),
      ("post_merge", stateMerge, cbMerge))
    for ((phase, state, pcb) <- phases) {
      val hottest = censusTop(state)
      for (nProbe <- Seq(2, 4, 8, 12, 16, 24).filter(_ <= pcb.length)) {
        val (recall, candRows) =
          measure(corpus, state, queries, pcb, nProbe, k, truth)
        println(f"""{"probe":"rebalance_recall","phase":"$phase",""" +
          f""""sf":"$sfDir","n":$n,"nLists":${pcb.length},""" +
          f""""nProbe":$nProbe,"k":$k,"recall":$recall%.4f,""" +
          f""""candRows":$candRows,"hottest":$hottest}""")
      }
    }

    // the COMPOSED index (s37): the same cut applied to the IVFADC
    // layout at the production sizing RECALL.json's main sweep quotes
    // (m=16, cb=256, nLists≈√n, rerank=4) — pre vs post-cut recall of
    // ivfPqSearchIndexed, movers' residual codes re-encoded against
    // the expanded codebook by rebalanceIvfPqIndex
    val (coarseP, pqP) = Similarity.ivfPqTrainFixedPoint(emb, dim = 64,
      nLists = nLists, m = 16, codebookSize = 256,
      maxIterCoarse = 3, maxIterPq = 2)
    val idx = Similarity.ivfPqEncodeFixedPoint(corpus, coarseP, pqP)
      .localCheckpoint()
    val (rebIdx0, cbAdc) = Similarity.rebalanceIvfPqIndex(idx, corpus,
      coarseP, pqP, pol)
    val rebIdx = rebIdx0.localCheckpoint()
    require(cbAdc.length > coarseP.length,
      "RebalanceRecallProbe: the ADC index cut nothing")
    // the recovery lever: BOTH quantizer stages retrained on the
    // skewed corpus (what the drift monitor's s27 retrain would do) —
    // the residual codebooks regain coverage of the collapsed region
    val (coarseR, pqR) = Similarity.ivfPqTrainFixedPoint(corpus, dim = 64,
      nLists = nLists, m = 16, codebookSize = 256,
      maxIterCoarse = 3, maxIterPq = 2)
    val idxR = Similarity.ivfPqEncodeFixedPoint(corpus, coarseR, pqR)
      .localCheckpoint()
    // the textbook cosine-serving recipe: L2-NORMALIZE at ingest —
    // norm-skew cannot exist on a normalized corpus (cosine truth is
    // unchanged by normalization, so the SAME truth sets apply), and
    // the PQ dynamic range sees one scale. What the clump costs the
    // quantizer is isolated by normalized-vs-retrained.
    val nrm = corpus.withColumn("embedding",
      Similarity.l2Normalize(col("embedding"))).localCheckpoint()
    val (coarseN, pqN) = Similarity.ivfPqTrainFixedPoint(nrm, dim = 64,
      nLists = nLists, m = 16, codebookSize = 256,
      maxIterCoarse = 3, maxIterPq = 2)
    val idxN = Similarity.ivfPqEncodeFixedPoint(nrm, coarseN, pqN)
      .localCheckpoint()
    // the s41 EXECUTED recovery (r17): the same normalize-then-retrain
    // recipe in its fixed-point form — l2NormalizeFixedPoint output fed
    // at scale 1 — exactly what continuousIvfPqWithRetrain's recovery
    // boundary builds and serves. normalized_adc (float l2Normalize)
    // is the recipe's ceiling; this phase is the recovery's own floor.
    val nrmFp = Similarity.l2NormalizeFixedPoint(corpus).localCheckpoint()
    val (coarseF, pqF) = Similarity.ivfPqTrainFixedPoint(nrmFp, dim = 64,
      nLists = nLists, m = 16, codebookSize = 256,
      maxIterCoarse = 3, maxIterPq = 2, scale = 1L)
    val idxF = Similarity.ivfPqEncodeFixedPoint(nrmFp, coarseF, pqF, 1L)
      .localCheckpoint()
    val (mrgIdx0, cbMrgAdc) = Similarity.mergeIvfPqIndex(idx, corpus,
      coarseP, pqP, mpol)
    val mrgIdx = mrgIdx0.localCheckpoint()
    for ((phase, pidx, pcorpus, pcb, ppq, pscale) <- Seq(
        ("pre_adc", idx, corpus, coarseP, pqP, 1000000L),
        ("post_split_adc", rebIdx, corpus, cbAdc, pqP, 1000000L),
        ("post_merge_adc", mrgIdx, corpus, cbMrgAdc, pqP, 1000000L),
        ("retrained_adc", idxR, corpus, coarseR, pqR, 1000000L),
        ("normalized_adc", idxN, nrm, coarseN, pqN, 1000000L),
        ("recovered_fp_adc", idxF, nrmFp, coarseF, pqF, 1L))) {
      // the phase's query set MUST be the truth's: same nQ ids (the
      // vec_id order is corpus-stable, so nrm's rows differ only in
      // the normalized embedding — cosine truth is normalization-
      // invariant). Hoisted out of the nProbe loop: one checkpoint
      // per phase, not per operating point. (r15 advice: a hardcoded
      // limit(20) here miscounted recall for any nQ != 20.)
      val pq2 = pcorpus.orderBy("vec_id").limit(nQ).localCheckpoint()
      // phase-invariant like pq2: one census per phase, not per
      // operating point (r16 review — the non-ADC loop already hoists)
      val hottest = censusTop(pidx.select(col("id"),
        col("cid").cast("long").as("cid")))
      for (nProbe <- Seq(2, 4, 8, 12, 16, 24).filter(_ <= pcb.length)) {
        val got = Similarity.ivfPqSearchIndexed(pidx, pcorpus, pq2, k,
            pcb, ppq, nProbe, rerank = 4, scale = pscale).collect()
          .groupBy(_.getLong(0)).view
          .mapValues(_.map(_.getLong(2)).toSet).toMap
        val recall = truth.map { case (q, t) =>
          got.getOrElse(q, Set.empty).count(t).toDouble / t.size
        }.sum / truth.size
        println(f"""{"probe":"rebalance_recall","phase":"$phase",""" +
          f""""sf":"$sfDir","n":$n,"nLists":${pcb.length},""" +
          f""""nProbe":$nProbe,"k":$k,"recall":$recall%.4f,""" +
          f""""hottest":$hottest}""")
      }
    }
    spark.stop()
  }
}
