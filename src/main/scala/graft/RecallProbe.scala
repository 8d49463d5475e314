package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** IVFADC recall evidence at production sizing (r12 brief #3 / r13
  * verdict #5): recall@k of the fixed-point IVFADC serving path
  * ([[Similarity.ivfPqSearchFixedPoint]]) against brute-force exact
  * cosine ([[Similarity.knnBruteForce]]-equivalent ground truth), swept
  * over (nLists, nProbe, rerank) at m=16 / codebookSize=256 — the
  * sizing a 100 TB deployment would run (nLists ≈ √n; scanned fraction
  * nProbe/nLists). Emits one JSON line per operating point:
  *
  *   {"probe":"recall","sf":…,"n":…,"nLists":…,"nProbe":…,
  *    "rerank":…,"k":…,"recall":0.xx,"trainSec":…,"searchSec":…}
  *
  * Usage: runMain graft.RecallProbe <sfDir> [k] [nQueries]
  * The r14 sweep is recorded in BENCH_NOTES.md and RECALL.json; the
  * floor at the chosen operating point is spec-asserted in
  * IvfPqRecallSpec at sf0.001 sizing.
  */
object RecallProbe {

  def groundTruth(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // exact cosine top-k per query over the full corpus — the recall
    // denominator. Brute force by design: this is the oracle, not the
    // operator under test.
    val corpus = emb.select(col("vec_id").as("nid"),
      col("embedding").cast("array<double>").as("nv"))
    val q = broadcast(queries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qv")))
    val sim = q.crossJoin(corpus)
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim",
        aggregate(zip_with(col("qv"), col("nv"), (a, b) => a * b),
          lit(0.0d), (acc, x) => acc + x) /
        (sqrt(aggregate(col("qv"), lit(0.0d), (a, x) => a + x * x)) *
         sqrt(aggregate(col("nv"), lit(0.0d), (a, x) => a + x * x))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    sim.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("qid"), col("nid"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val k = if (args.length > 1) args(1).toInt else 10
    val nQ = if (args.length > 2) args(2).toInt else 20
    val spark = Harness.session()

    val emb = Tables.embeddings(spark, sfDir).localCheckpoint()
    val n = emb.count()
    val queries = emb.orderBy("vec_id").limit(nQ).localCheckpoint()
    val exact = groundTruth(emb, queries, k).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    require(exact.nonEmpty, s"RecallProbe: empty ground truth " +
      s"(nQueries=$nQ over $n vectors) — recall would be 0/0; " +
      "pass a positive query count against a corpus of ≥ 2 vectors")

    val sqrtN = math.sqrt(n.toDouble).toInt
    val listSweep = Seq(sqrtN / 2, sqrtN, sqrtN * 2)
      .map(math.max(4, _)).distinct
    for (nLists <- listSweep) {
      val t0 = System.nanoTime()
      val (coarse, pq) = Similarity.ivfPqTrainFixedPoint(emb, dim = 64,
        nLists = nLists, m = 16, codebookSize = 256,
        maxIterCoarse = 3, maxIterPq = 2)
      val trainSec = (System.nanoTime() - t0) / 1e9
      val index = Similarity.ivfPqEncodeFixedPoint(emb, coarse, pq)
        .localCheckpoint()
      for (nProbe <- Seq(2, 4, 8, 16).filter(_ <= nLists);
           rerank <- Seq(2, 4)) {
        val t1 = System.nanoTime()
        val got = Similarity.ivfPqSearchIndexed(index, emb, queries, k,
            coarse, pq, nProbe, rerank).collect()
          .groupBy(_.getLong(0)).view
          .mapValues(_.map(_.getLong(2)).toSet).toMap
        val searchSec = (System.nanoTime() - t1) / 1e9
        val recall = exact.map { case (q, truth) =>
          got.getOrElse(q, Set.empty).count(truth).toDouble / truth.size
        }.sum / exact.size
        println(f"""{"probe":"recall","sf":"$sfDir","n":$n,""" +
          f""""nLists":$nLists,"nProbe":$nProbe,"rerank":$rerank,""" +
          f""""k":$k,"recall":${recall}%.4f,"trainSec":$trainSec%.1f,""" +
          f""""searchSec":$searchSec%.2f,"scannedFrac":${
            nProbe.toDouble / nLists}%.4f}""")
      }
    }
    spark.stop()
  }
}
