package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The integer fixed-point k-means trainer (gate s19): hand-computed
  * micro-case, first-max tie + empty-cluster retention, and the
  * bit-determinism-across-partitionings theorem the integer design
  * exists for.
  */
class FixedPointKmeansSpec extends SparkSpec {

  import spark.implicits._

  private def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("hand case: one iteration of quantize, assign, floor-div update") {
    // exact-in-binary inputs so the quantization is trivially floor-free
    val vecs = Seq(
      (0L, Seq(0.0, 0.0)),
      (1L, Seq(0.25, 0.0)),
      (2L, Seq(1.0, 1.0)),
      (3L, Seq(0.75, 1.0))).toDF("vec_id", "embedding")
    val cb = Similarity.kmeansTrainFixedPoint(vecs, k = 2, maxIter = 1)
    // init c0=(0,0), c1=(250000,0). Scores 2c·x − ‖c‖²: v0 → c0 (0 beats
    // −6.25e10); v1/v2/v3 → c1. Update: c0 = v0; c1 = floor-div of
    // (250000+1000000+750000, 0+1000000+1000000) by 3 = (666666, 666666).
    cb.map(_.toSeq) shouldBe Array(Seq(0L, 0L), Seq(666666L, 666666L))
  }

  test("first-max tie goes to the lower cid; an emptied cluster keeps its centroid") {
    val vecs = Seq(
      (0L, Seq(0.0, 0.0)),
      (1L, Seq(1.0, 1.0)),
      (2L, Seq(1.0, 1.0)), // init c2 duplicates c1 → ties on every score
      (3L, Seq(1.0, 1.0))).toDF("vec_id", "embedding")
    val cb = Similarity.kmeansTrainFixedPoint(vecs, k = 3, maxIter = 1)
    // c1 and c2 are identical, so every member scores them equal and the
    // first-max tie sends all three vectors to cid 1; cid 2 goes empty
    // and must retain its previous centroid verbatim
    cb.map(_.toSeq) shouldBe Array(
      Seq(0L, 0L), Seq(1000000L, 1000000L), Seq(1000000L, 1000000L))
  }

  test("bit-identical codebooks across partitionings (the integer-mass theorem)") {
    val one = Similarity.kmeansTrainFixedPoint(
      embeddings.repartition(1), k = 8, maxIter = 2)
    val many = Similarity.kmeansTrainFixedPoint(
      embeddings.repartition(13, col("vec_id")), k = 8, maxIter = 2)
    one.map(_.toSeq) shouldBe many.map(_.toSeq)
  }

  test("retrainReassign: moved marks exactly the changed-argmin ids; final equals from-scratch reassign") {
    val cbOld = Similarity.kmeansTrainFixedPoint(
      embeddings.filter(col("vec_id") % 2 === 0), k = 4, maxIter = 1)
    val cbNew = Similarity.kmeansTrainFixedPoint(embeddings, k = 4, maxIter = 1)
    val state = Similarity.assignFixedPoint(embeddings, cbOld)
    val out = Similarity.retrainReassign(state, embeddings, cbNew)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val old = Similarity.assignFixedPoint(embeddings, cbOld)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fresh = Similarity.assignFixedPoint(embeddings, cbNew)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // maintenance ≡ rebuild: one row per id, cid = the fresh argmin
    out.map(t => t._1 -> t._2).toMap shouldBe fresh
    out.length shouldBe fresh.size
    // the delta is exactly the changed-argmin ids — nothing more moves,
    // nothing that moved is missed
    out.filter(_._3).map(_._1).toSet shouldBe
      fresh.keySet.filter(id => old(id) != fresh(id))
    // both paths must actually be exercised by this corpus
    out.count(_._3) should be > 0
    out.count(!_._3) should be > 0
  }

  test("retrainReassign degrades gracefully under state/corpus drift") {
    // ids present in only one side must not silently corrupt the final
    // state: corpus-only ids are added (moved = true), state-only ids
    // drop — final (id, cid) equals the from-scratch reassignment
    val cbOld = Similarity.kmeansTrainFixedPoint(
      embeddings.filter(col("vec_id") % 2 === 0), k = 4, maxIter = 1)
    val cbNew = Similarity.kmeansTrainFixedPoint(embeddings, k = 4, maxIter = 1)
    val state = Similarity.assignFixedPoint(
      embeddings.filter(col("vec_id") % 7 =!= 1), cbOld) // drifted state
    val out = Similarity.retrainReassign(state, embeddings, cbNew)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val fresh = Similarity.assignFixedPoint(embeddings, cbNew)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.map(t => t._1 -> t._2).toMap shouldBe fresh
    out.length shouldBe fresh.size
    // every corpus id the state never saw is necessarily a move
    out.filter(_._1 % 7 == 1).foreach(_._3 shouldBe true)
  }

  test("kmeansTrainFixedPoint: deterministic, inertia below its init") {
    val a = Similarity.kmeansTrainFixedPoint(embeddings, k = 4, maxIter = 3)
    val b = Similarity.kmeansTrainFixedPoint(embeddings, k = 4, maxIter = 3)
    a.length shouldBe 4
    a.foreach(_.length shouldBe 64)
    a.map(_.toSeq) shouldBe b.map(_.toSeq)
    // Σ‖x − c_assigned‖² in exact micro-units²: Lloyd rounds must not
    // raise it above the id-order init's
    def inertia(cb: Array[Array[Long]]): Long = {
      val cbLit = typedLit(cb.map(_.map(_.toDouble).toSeq).toSeq)
      Similarity.quantized(embeddings, 1000000L, "vec_id", "embedding")
        .join(Similarity.assignFixedPoint(embeddings, cb), "id")
        .select(aggregate(zip_with(col("xd"),
          element_at(cbLit, col("cid").cast("int") + 1),
          (x, c) => (x - c) * (x - c)), lit(0.0), _ + _).cast("long").as("d2"))
        .agg(sum(col("d2"))).head().getLong(0)
    }
    val init = Similarity.kmeansTrainFixedPoint(embeddings, k = 4, maxIter = 0)
    inertia(a) should be <= inertia(init)
  }

  test("ivfSearchFixedPoint: useful recall vs brute force, deterministic across partitionings") {
    val cb = Similarity.kmeansTrainFixedPoint(embeddings, k = 8, maxIter = 3)
    val queries = embeddings.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = pairs(Similarity.ivfSearchFixedPoint(
      embeddings, queries, k = 10, cb, nProbe = 3))
    val exact = pairs(Similarity.bruteForceKnn(embeddings, queries, k = 10))
    // the oracle pins EXACTNESS of the composed path; this pins that the
    // path is also a useful ANN (measured 0.94 at sf0.01, floor 0.6)
    (got & exact).size.toDouble / exact.size should be >= 0.6
    got shouldBe pairs(Similarity.ivfSearchFixedPoint(
      embeddings.repartition(13, col("vec_id")), queries, k = 10, cb,
      nProbe = 3))
  }

  test("pqTrainFixedPoint + pqSearchFixedPoint: useful recall, deterministic across partitionings") {
    val cbs = Similarity.pqTrainFixedPoint(embeddings, dim = 64,
      m = 4, codebookSize = 8, maxIter = 2)
    val again = Similarity.pqTrainFixedPoint(
      embeddings.repartition(13, col("vec_id")), dim = 64,
      m = 4, codebookSize = 8, maxIter = 2)
    cbs.map(_.map(_.toSeq).toSeq) shouldBe again.map(_.map(_.toSeq).toSeq)
    val queries = embeddings.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = pairs(Similarity.pqSearchFixedPoint(
      embeddings, queries, k = 10, cbs, rerank = 4))
    val exact = pairs(Similarity.bruteForceKnn(embeddings, queries, k = 10))
    // exactness of the composed path is the oracle's job; this pins that
    // the small verification-twin codebook (m=4, 8 centroids) is still a
    // working ANN (measured 0.66 at sf0.01, floor 0.3 — s08's m=16
    // production point is floored at 0.8 in ExtensionOperatorsSpec)
    (got & exact).size.toDouble / exact.size should be >= 0.3
  }

  test("trainCap: a cap above the corpus is a no-op; an engaged cap trains on the id-prefix") {
    // cap ≥ n: identical codebook to the (default-cap) full run — the
    // LIMIT prefix covers the whole corpus, so nothing changes
    val uncapped = Similarity.kmeansTrainFixedPoint(embeddings, k = 4, maxIter = 2)
    val bigCap = Similarity.kmeansTrainFixedPoint(embeddings, k = 4, maxIter = 2,
      trainCap = Int.MaxValue)
    bigCap.map(_.toSeq) shouldBe uncapped.map(_.toSeq)
    // engaged cap ≡ training on the trainCap smallest-id rows — the
    // exact subset the oracle's ORDER BY vec_id LIMIT prefix names
    val capIds = embeddings.orderBy(col("vec_id")).limit(40)
    val capped = Similarity.kmeansTrainFixedPoint(embeddings, k = 4, maxIter = 2,
      trainCap = 40)
    val subset = Similarity.kmeansTrainFixedPoint(capIds, k = 4, maxIter = 2)
    capped.map(_.toSeq) shouldBe subset.map(_.toSeq)
    // same two contracts for the PQ trainer
    val pqCapped = Similarity.pqTrainFixedPoint(embeddings, dim = 64,
      m = 4, codebookSize = 8, maxIter = 1, trainCap = 40)
    val pqSubset = Similarity.pqTrainFixedPoint(capIds, dim = 64,
      m = 4, codebookSize = 8, maxIter = 1)
    pqCapped.map(_.map(_.toSeq).toSeq) shouldBe pqSubset.map(_.map(_.toSeq).toSeq)
  }

  test("IVFADC (s24): probed-lists-only candidates, useful recall, deterministic across partitionings") {
    val (coarse, pq) = Similarity.ivfPqTrainFixedPoint(embeddings, dim = 64,
      nLists = 8, m = 4, codebookSize = 8, maxIterCoarse = 2, maxIterPq = 1)
    val queries = embeddings.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = pairs(Similarity.ivfPqSearchFixedPoint(
      embeddings, queries, k = 10, coarse, pq, nProbe = 3, rerank = 4))
    // exactness of the whole composed path is the s24 oracle's job;
    // these pin (1) that it is a useful ANN against the exact baseline
    // (measured 0.66 at sf0.01; the coarse probe bounds recall the same
    // way s22's does), and (2) the structural claim the composition
    // exists for: every returned neighbor lives in one of its query's
    // nProbe probed lists — the ADC provably never left them
    val exact = pairs(Similarity.bruteForceKnn(embeddings, queries, k = 10))
    (got & exact).size.toDouble / exact.size should be >= 0.3
    val assign = Similarity.assignFixedPoint(embeddings, coarse)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probed = Similarity.ivfSearchFixedPoint(
        embeddings, queries, k = Int.MaxValue, coarse, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    got.foreach { case (q, n) => probed should contain ((q, n)) }
    got.foreach { case (_, n) => assign.keySet should contain (n) }
    // bit-determinism: the integer path is partitioning-invariant
    got shouldBe pairs(Similarity.ivfPqSearchFixedPoint(
      embeddings.repartition(13, col("vec_id")), queries, k = 10, coarse,
      pq, nProbe = 3, rerank = 4))
  }

  test("quantization floors toward minus infinity on both signs") {
    // -0.3·1e6 = -300000.0000000000xx in double → floor -300001 iff the
    // product rounds below; pin the actual contract: floor(double
    // product), not round or truncate — mirror it here in Scala
    val vecs = Seq((0L, Seq(-0.3, 0.3))).toDF("vec_id", "embedding")
    val cb = Similarity.kmeansTrainFixedPoint(vecs, k = 1, maxIter = 0)
    cb(0).toSeq shouldBe Seq(
      math.floor(-0.3 * 1e6).toLong, math.floor(0.3 * 1e6).toLong)
  }

  test("ivfPqSearchFixedPoint ≡ encode-then-ivfPqSearchIndexed (the s28 composition identity)") {
    // the build path must be EXACTLY the serving path over a
    // freshly-encoded index — the refactor's contract
    val corpus = embeddings
    val queries = corpus.filter(col("vec_id") < 5)
    val (coarse, pq) = Similarity.ivfPqTrainFixedPoint(corpus, dim = 64,
      nLists = 4, m = 4, codebookSize = 4,
      maxIterCoarse = 1, maxIterPq = 1)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val direct = rows(Similarity.ivfPqSearchFixedPoint(
      corpus, queries, k = 5, coarse, pq, nProbe = 2, rerank = 3))
    val viaIndex = rows(Similarity.ivfPqSearchIndexed(
      Similarity.ivfPqEncodeFixedPoint(corpus, coarse, pq),
      corpus, queries, k = 5, coarse, pq, nProbe = 2, rerank = 3))
    direct should not be empty
    viaIndex shouldBe direct
  }
}
