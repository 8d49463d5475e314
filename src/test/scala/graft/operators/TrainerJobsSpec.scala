package graft.operators

import graft.{SparkJobs, SparkSpec}

/** Spark jobs per fixed-point training, counted by a listener and
  * pinned (the trainers' share of `BoundaryJobsSpec`'s contract): the
  * capped set's cache and init, then one update aggregate per Lloyd
  * iteration, which also carries the exactness guard. A training with
  * no iteration still checks the guard, in one aggregate of its own.
  */
class TrainerJobsSpec extends SparkSpec {

  private def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def jobsOf(body: => Unit): Int = SparkJobs.of(spark)(body).jobs

  test("kmeansTrainFixedPoint and pqTrainFixedPoint launch their pinned job counts") {
    val emb = embeddings
    val dim = emb.select("embedding").head().getSeq[Float](0).length
    val km = (0 to 2).map(it =>
      jobsOf(Similarity.kmeansTrainFixedPoint(emb, k = 8, maxIter = it)))
    val pq = (0 to 2).map(it =>
      jobsOf(Similarity.pqTrainFixedPoint(emb, dim, m = 4, codebookSize = 8,
        maxIter = it)))
    (km, pq) shouldBe ((Seq(3, 2, 3), Seq(3, 2, 3)))
  }
}
