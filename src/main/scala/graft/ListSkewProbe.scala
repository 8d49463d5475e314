package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** s30 policy measurement: the IVF list-size census under the s19
  * fixed codebook (k=8, 3 Lloyd iterations — the suite's shared coarse
  * quantizer), per SF, for BOTH the natural corpus and the staged
  * hot-region corpus ([[graft.queries.SkewFixture]] — the corpus the
  * s30 gate actually rebalances), plus which lists each candidate
  * [[Similarity.RebalancePolicy]] ratio would split. The gate needs a
  * ratio that (a) splits at least one list and (b) keeps at least one
  * list un-split, WITH MARGIN, at EVERY SF the oracle sweeps — this
  * probe is the evidence behind the committed numer/denom (see the s30
  * gate + the SURVEY round-14 ledger). Run per SF:
  *
  *   runMain graft.ListSkewProbe /root/testdata/sf0.01
  */
object ListSkewProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Harness.session()

    val emb = Tables.embeddings(spark, sfDir)
    val k = 8
    val cb = Similarity.kmeansTrainFixedPoint(emb, k = k, maxIter = 3)
    for ((label, corpus) <- Seq(
        "natural" -> emb,
        "staged-skew" -> graft.queries.SkewFixture.skewed(emb))) {
      val sizes = Similarity.assignFixedPoint(corpus, cb)
        .groupBy(col("cid")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      val nTot = sizes.map(_._2).sum
      println(f"sf=$sfDir corpus=$label nTot=$nTot k=$k avg=${nTot.toDouble / k}%.1f")
      sizes.foreach { case (cid, n) =>
        println(f"  cid=$cid n=$n share=${100.0 * n / nTot}%.1f%% xAvg=${n.toDouble * k / nTot}%.2f")
      }
      // candidate ratios: size·k ≥ (numer/denom)·nTot
      for ((nu, de) <- Seq((3L, 2L), (5L, 4L), (11L, 10L), (2L, 1L), (3L, 1L))) {
        val split = sizes.filter { case (_, n) => n >= 2 && de * n * k >= nu * nTot }
        println(s"  policy $nu/$de -> splits ${split.map(_._1).mkString("[", ",", "]")} (${split.length}/$k)")
      }
      // the s33 stability question: after ONE split pass at each
      // candidate bar, do any children (or survivors) still cross it
      // under the grown list count? The continuous monitor re-measures
      // every boundary, so a bar that keeps re-triggering never settles.
      if (label == "staged-skew") {
        for ((nu, de) <- Seq((3L, 2L), (2L, 1L), (5L, 2L))) {
          val (mv, ncb) = Similarity.rebalanceLists(
            corpus, cb, Similarity.RebalancePolicy(nu, de))
          val post = mv.groupBy(col("cid")).count().collect()
            .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
          val k2 = ncb.length
          val still = post.filter { case (_, n) => n >= 2 && de * n * k2 >= nu * nTot }
          println(s"  post-split @$nu/$de k=$k2 census=${post.map(p => s"${p._1}:${p._2}").mkString(",")}" +
            s" re-cross=${still.map(_._1).mkString("[", ",", "]")}")
        }
      }
    }
    spark.stop()
  }
}
