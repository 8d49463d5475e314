package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit coverage for the round-3 additions: JL random projection,
  * mixture resampling, and the HLL sketch-rollup tolerance. (The Lloyd
  * k-means cases live in FixedPointKmeansSpec.)
  */
class Round3OpsSpec extends SparkSpec {

  import spark.implicits._

  private def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("random projection: deterministic, linear, distance-preserving on average") {
    val proj = RandomProjection.project(embeddings.limit(40), dim = 64, outDim = 16)
    val again = RandomProjection.project(embeddings.limit(40), dim = 64, outDim = 16)
    proj.collect().map(_.toSeq) shouldBe again.collect().map(_.toSeq)

    // pairwise distance distortion: JL promises concentration around 1
    val rows = embeddings.limit(40)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val projected = proj.collect()
      .map(r => r.getLong(0) -> (1 until 17).map(r.getDouble).toArray).toMap
    def dist(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val ids = rows.keys.toSeq.sorted
    val ratios = for {
      i <- ids.indices; j <- (i + 1) until ids.length
      d0 = dist(rows(ids(i)), rows(ids(j))) if d0 > 1e-9
    } yield dist(projected(ids(i)), projected(ids(j))) / d0
    val mean = ratios.sum / ratios.size
    mean should be > 0.7
    mean should be < 1.3
  }

  test("mixtureResample: hand-computed temperature rates, sample within bounds") {
    val docs = ((1 to 100).map(i => (i.toLong, "small")) ++
                (101 to 500).map(i => (i.toLong, "large"))).toDF("id", "grp")
    val out = TextAnalysis.mixtureResample(docs, "id", "grp",
        temperature = 0.5, targetFraction = 0.5)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    // z = √100 + √400 = 30; target = 250
    // small: 250·(10/30)/100 = 0.833333 ; large: 250·(20/30)/400 = 0.416667
    out("small")._1 shouldBe 100L
    out("small")._2 shouldBe 0.833333 +- 1e-9
    out("large")._2 shouldBe 0.416667 +- 1e-9
    // acceptance is a fixed hash: counts are deterministic and near-rate
    val (nS, nL) = (out("small")._3, out("large")._3)
    nS.toDouble shouldBe (100 * 0.8333) +- 25
    nL.toDouble shouldBe (400 * 0.4167) +- 60
    TextAnalysis.mixtureResample(docs, "id", "grp", 0.5, 0.5)
      .collect().map(_.getLong(3)).sorted shouldBe Array(nS, nL).sorted
  }

  test("sketch rollup: merged daily HLL estimates within 5% of exact") {
    val rows = graft.SparkEntry.queries("q88_sketch_rollup")(spark, sfDir).collect()
    rows should not be empty
    all(rows.map(_.getLong(3))) shouldBe 1L
  }
}
