package graft.streaming

import graft.{SparkJobs, SparkSpec}
import graft.operators.Dedup

/** Spark jobs per loop boundary, counted by a listener and pinned. At
  * this scale every job is fixed cost, so the job structure of each
  * boundary kind is part of the loops' contract: a change that moves a
  * write, fuses a pass or adds an action shows up here as a new number.
  * Retrain-family boundaries are measured at boundary 1, after a benign
  * boundary 0, so the census and norm bases are already on disk (the
  * steady state, not the lineage's first-boundary baselines).
  */
class BoundaryJobsSpec extends SparkSpec {
  import spark.implicits._
  private val S = graft.operators.Similarity

  private def jobsOf(body: => Unit): Int = SparkJobs.of(spark)(body).jobs

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("minhash loop: a delta boundary and a compaction boundary launch their pinned job counts") {
    val init = Dedup.minhashIndexState(Seq(
        (1L, "alpha beta gamma delta epsilon"),
        (2L, "one two three four five six"),
        (3L, "red green blue yellow purple"),
        (4L, "north south east west center")).toDF("doc_id", "text"),
      "text", "doc_id").localCheckpoint()
    val loop = ContinuousIndexMaintenance.minhashLoop(spark, init,
      "text", "doc_id", 32, 8, 3, tmp("graft_jobs_mh"),
      ContinuousIndexMaintenance.LineagePolicy(compactEvery = 2))
    val delta = jobsOf(loop.processBatch(Seq(
        (2L, "one two three four five seven", "changed"),
        (3L, null, "removed")).toDF("doc_id", "text", "status"), 0L))
    val compact = jobsOf(loop.processBatch(Seq(
        (5L, "new doc body arrives here now", "added"))
      .toDF("doc_id", "text", "status"), 1L))
    (delta, compact) shouldBe ((4, 9))
  }

  test("minhash loop: a compaction over three deltas infers the delta schema once") {
    val init = Dedup.minhashIndexState(Seq(
        (1L, "alpha beta gamma delta epsilon"),
        (2L, "one two three four five six")).toDF("doc_id", "text"),
      "text", "doc_id").localCheckpoint()
    val loop = ContinuousIndexMaintenance.minhashLoop(spark, init,
      "text", "doc_id", 32, 8, 3, tmp("graft_jobs_mh3"),
      ContinuousIndexMaintenance.LineagePolicy(compactEvery = 4))
    def batch(id: Long, text: String) =
      Seq((id, text, "added")).toDF("doc_id", "text", "status")
    loop.processBatch(batch(3L, "red green blue yellow purple"), 0L)
    loop.processBatch(batch(4L, "north south east west center"), 1L)
    loop.processBatch(batch(5L, "new doc body arrives here now"), 2L)
    jobsOf(loop.processBatch(batch(6L, "one more text to index"), 3L)) shouldBe 9
  }

  // the s34 hand fixture (c0 = origin, c1 = (1,1), c2 far and empty)
  // plus one residual subspace for the IVF-PQ family
  private val cb = Array(Array(0L, 0L), Array(1000000L, 1000000L),
    Array(-4000000L, -4000000L))
  private val pq = Array(Array(Array(0L, 0L), Array(200000L, 200000L)))
  private def corpus = Seq(
    (0L, Seq(0.0f, 0.0f)),
    (1L, Seq(1.0f, 1.0f)), (2L, Seq(0.75f, 0.5f)),
    (3L, Seq(1.0f, 1.0f)), (4L, Seq(0.75f, 0.5f)),
    (5L, Seq(0.75f, 0.5f))).toDF("vec_id", "embedding")

  /** A fresh retrain loop of `family` with all three monitors on. */
  private def retrainLoop(family: String)
      : ContinuousIndexMaintenance.RetrainLoop = {
    val root = tmp(s"graft_jobs_$family")
    val drift = Some(S.DriftPolicy(3L, 5L))
    val census = Some(S.RebalancePolicy(5L, 2L))
    val norm = Some(S.NormPolicy(8L, 1L))
    if (family == "assign")
      ContinuousIndexMaintenance.assignRetrainLoop(spark, corpus,
        S.assignFixedPoint(corpus, cb).localCheckpoint(), cb, 3, 1,
        1000000L, "vec_id", "embedding", root, driftPolicy = drift,
        rebalancePolicy = census, normPolicy = norm)
    else
      ContinuousIndexMaintenance.ivfPqRetrainLoop(spark, corpus,
        S.ivfPqEncodeFixedPoint(corpus, cb, pq).localCheckpoint(), cb, pq,
        2, 3, 1, 2, 1, 1, 1000000L, "vec_id", "embedding", root,
        driftPolicy = drift, rebalancePolicy = census, normPolicy = norm)
  }

  private def batch(rows: Seq[(Long, Seq[Float], String)]) =
    rows.toDF("vec_id", "embedding", "status")

  /** Jobs of boundary 1 after the benign boundary 0, and the loop. */
  private def boundaryJobs(family: String,
      b1: Seq[(Long, Seq[Float], String)]) = {
    val loop = retrainLoop(family)
    loop.processBatch(batch(Seq((9L, Seq(0.1f, 0.1f), "added"))), 0L)
    (jobsOf(loop.processBatch(batch(b1), 1L)), loop)
  }

  // (delta, drift-retrain, census-cut) jobs per family
  private val pinned = Map("assign" -> ((22, 37, 60)), "ivfpq" -> ((22, 33, 71)))

  for (family <- Seq("assign", "ivfpq"))
    test(s"$family retrain loop: delta, drift-retrain and census-cut boundaries launch their pinned job counts") {
      // an origin-side addition: no seat moves, no list crosses the bar
      val (delta, quiet) = boundaryJobs(family,
        Seq((10L, Seq(0.12f, 0.08f), "added")))
      quiet.retrainedAt shouldBe empty
      quiet.rebalancedAt shouldBe empty
      // two stored rows flip to the origin list: moved-share 2/2 ≥ 3/5
      val (retrain, drifted) = boundaryJobs(family, Seq(
        (2L, Seq(0.05f, 0.02f), "changed"),
        (4L, Seq(0.04f, 0.03f), "changed")))
      drifted.retrainedAt shouldBe Seq(1L)
      // five hot additions: c1 holds 10 of 12 (2·10·3 ≥ 5·12), no drift
      val (cut, skewed) = boundaryJobs(family,
        (20L until 25L).map(i => (i, Seq(0.75f, 0.5f), "added")))
      skewed.rebalancedAt shouldBe Seq(1L)
      skewed.retrainedAt shouldBe empty
      (delta, retrain, cut) shouldBe pinned(family)
    }
}
