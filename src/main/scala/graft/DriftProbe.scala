package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.queries.DriftFixture

/** s29 margin measurement: for each candidate threshold percentile,
  * print the far-share of each staged drift slice under the V1
  * codebook, then the MOVED-share of each s29 slice — the evidence
  * behind SimilarityQueries.DriftMovedNumer/Denom (see the s29 gate +
  * BENCH_NOTES r14). The snapshots and the slice split come from
  * [[graft.queries.DriftFixture]] — the SAME definitions the s29 gate
  * stages, so the probe measures exactly what the gate will see.
  * Run per SF:
  *
  *   runMain graft.DriftProbe /root/testdata/sf0.01
  */
object DriftProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Harness.session()

    val emb = Tables.embeddings(spark, sfDir)
    val v1 = DriftFixture.v1(emb)
    val cb = Similarity.kmeansTrainFixedPoint(v1, k = 8, maxIter = 3)
    val diff = DriftFixture.diff(v1, DriftFixture.v2(emb))
    // dist2 far-share first — the textbook statistic, kept measured so
    // its blindness to sign-flip drift on this corpus stays documented
    val slices = Seq(
      "adds_even" -> diff.filter(col("status") === "added" &&
        pmod(col("vec_id"), lit(2L)) === 0),
      "adds_odd" -> diff.filter(col("status") === "added" &&
        pmod(col("vec_id"), lit(2L)) === 1),
      "changed_negated" -> diff.filter(col("status") === "changed"))
    for (pct <- Seq(75, 90, 95, 99)) {
      val thr = Similarity.driftThresholdDist2(v1, cb, pct)
      val shares = slices.map { case (name, sl) =>
        val r = Similarity.assignmentDist2(sl, cb)
          .agg(count(lit(1)), sum(when(col("dist2") > thr, 1L)
            .otherwise(0L))).head()
        val (n, far) = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        f"$name=$far/$n (${if (n == 0) 0.0 else 100.0 * far / n}%.1f%%)"
      }
      println(s"sf=$sfDir pct=$pct thr=$thr  ${shares.mkString("  ")}")
    }
    // the MOVED-share statistic over the EXACT slices the gate stages:
    // fraction of delta vectors whose fresh exact-integer argmax list
    // differs from the state's assignment (slice 3, removals, has no
    // delta vectors — it prints 0/0)
    val state = Similarity.assignFixedPoint(v1, cb).localCheckpoint()
    val moved = DriftFixture.s29Slices(diff).zipWithIndex.map {
      case (sl, i) =>
        val fresh = Similarity.assignFixedPoint(
          sl.filter(col("status").isin("added", "changed")), cb)
        val r = fresh.join(state.select(col("id"), col("cid").as("__old")),
            Seq("id"), "left")
          .agg(count(lit(1)), sum(when(col("__old").isNotNull &&
            col("cid") =!= col("__old"), 1L).otherwise(0L))).head()
        val (n, m) = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        f"slice$i=$m/$n (${if (n == 0) 0.0 else 100.0 * m / n}%.1f%%)"
    }
    println(s"sf=$sfDir MOVED  ${moved.mkString("  ")}")
    spark.stop()
  }
}
