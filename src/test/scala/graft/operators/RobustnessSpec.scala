package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Degenerate-input contracts: every operator family must survive an
  * EMPTY corpus and null text/vectors without throwing — at 100 TB a
  * daily partition is occasionally empty and crawl text is occasionally
  * null, and neither may kill a six-hour job.
  */
class RobustnessSpec extends SparkSpec {

  import spark.implicits._

  private def emptyDocs: DataFrame =
    Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
  private def nullishDocs: DataFrame =
    Seq((1L, null.asInstanceOf[String], "en"), (2L, "", "en"),
        (3L, "real body text here", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "lang")

  test("dedup family: empty corpus → empty result, no throw") {
    Dedup.exact(emptyDocs, "text", "doc_id").count() shouldBe 0L
    Dedup.minhashSignatures(emptyDocs, "text", "doc_id").count() shouldBe 0L
    Dedup.chunkDedup(emptyDocs, "text", "doc_id", chunkWords = 4).count() shouldBe 0L
    Dedup.incrementalExact(emptyDocs, emptyDocs, "text", "doc_id").count() shouldBe 0L
  }

  test("dedup family: null and empty text are carried, not crashed on") {
    val ex = Dedup.exact(nullishDocs, "text", "doc_id")
    ex.count() shouldBe 3L // null, "", and real text are three contents
    val inc = Dedup.incrementalExact(nullishDocs, emptyDocs, "text", "doc_id")
    inc.count() shouldBe 3L // nothing in the index → all keepers survive
    val bl = Dedup.incrementalExactBloom(nullishDocs, nullishDocs.filter(lit(false)),
      "text", "doc_id", expectedItems = 1)
    bl.count() shouldBe 3L // bloom path agrees (null hash → provably new)
  }

  test("text analysis: null text scores without throwing") {
    TextAnalysis.qualityMetrics(nullishDocs, "text").count() shouldBe 3L
    TextAnalysis.qualityRules(nullishDocs, "text").count() shouldBe 3L
    TextAnalysis.piiRedact(nullishDocs, "text").count() shouldBe 3L
    nullishDocs.select(TextAnalysis.langId(col("text")).as("lang"))
      .count() shouldBe 3L
  }

  test("similarity: empty embedding corpus → empty pairs and centroids") {
    val emptyVecs = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    Similarity.cosinePairs(emptyVecs, threshold = 0.5).count() shouldBe 0L
    Similarity.semanticDedup(emptyVecs, "label", threshold = 0.5).count() shouldBe 0L
  }

  test("z-order and row ids: empty input plans and runs") {
    val empty = Seq.empty[(Double, Double)].toDF("x", "y")
    ZOrder.withZValue(empty, "x", "y", bits = 4).count() shouldBe 0L
    ZOrder.bucketStats(empty, "x", "y", bits = 4, bucketShift = 2).count() shouldBe 0L
  }

  test("kmeansTrainFixedPoint: k larger than the corpus degrades to corpus-sized codebook") {
    val tiny = Seq((1L, Array.fill(4)(1.0f)), (2L, Array.fill(4)(2.0f)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.kmeansTrainFixedPoint(tiny, k = 8, maxIter = 2)
    cb.length shouldBe 2
    cb.foreach(_.length shouldBe 4)
  }

  test("fixed-point trainers fail loudly past the 2^53 exactness bound") {
    // |x| = 1e10 quantizes to 1e16 micro-units: 2c·x chains would pass
    // 2^53 and the 'integer arithmetic in doubles' theorem would
    // silently stop holding — the guard must name the magnitude instead.
    // |x| = 1e13 quantizes past Long range: the guard's aggregate must
    // still name it before an ANSI overflow of the update sums can.
    val cb = Array(Array.fill(4)(0L), Array.fill(4)(1000000L))
    for (x <- Seq(1.0e10f, 1.0e13f)) {
      val huge = Seq((1L, Array.fill(4)(x)), (2L, Array.fill(4)(2 * x)))
        .toDF("vec_id", "embedding")
      def guarded(op: => Any) =
        intercept[IllegalArgumentException](op).getMessage should include("exactness bound")
      guarded(Similarity.kmeansTrainFixedPoint(huge, k = 2, maxIter = 1))
      guarded(Similarity.kmeansTrainFixedPoint(huge, k = 2, maxIter = 0))
      guarded(Similarity.pqTrainFixedPoint(huge, dim = 4, m = 2,
        codebookSize = 2, maxIter = 1))
      guarded(Similarity.rebalanceLists(huge, cb, Similarity.RebalancePolicy(1L, 1000L)))
      guarded(Similarity.splitListsEven(huge, cb, Similarity.RebalancePolicy(1L, 1000L)))
      guarded(Similarity.mergeLists(huge, cb, Similarity.MergePolicy(1L, 2L)))
    }
    // and empty input does not trip the guard (null max aggregate)
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    Similarity.kmeansTrainFixedPoint(empty, k = 2, maxIter = 1).length shouldBe 0
  }

  test("normEnvelope names its 2^53 per-row bound before an ANSI overflow of Σx²") {
    // dim 4 at scale 1e6: |x| = 1e10 quantizes to 1e16, whose Σx² = 4e32
    // passes Long range; |x| = 1e13 quantizes past Long range itself.
    // The in-bound row beside it must not hide the out-of-bound one.
    for (x <- Seq(1.0e10f, 1.0e13f)) {
      val huge = Seq((1L, Array.fill(4)(1.0f)), (2L, Array.fill(4)(x)))
        .toDF("vec_id", "embedding")
      intercept[IllegalArgumentException](Similarity.normEnvelope(huge, 1000000L))
        .getMessage should include("overflows the 2^53-exact per-row Σx²")
    }
  }

  test("pqTrainFixedPoint: empty corpus → empty codebooks; search rejects the shape loudly") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val cbs = Similarity.pqTrainFixedPoint(empty, dim = 4, m = 2,
      codebookSize = 2, maxIter = 1)
    cbs.length shouldBe 2
    cbs.foreach(_.length shouldBe 0)
    // the empty structure cannot be searched against — a loud require,
    // not an IndexOutOfBoundsException deep in the encode kernel
    val vecs = Seq((1L, Array.fill(4)(1.0f))).toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.pqSearchFixedPoint(vecs, vecs, k = 1, cbs, rerank = 2)
    }
    ex.getMessage should include("empty codebook")
  }

  test("trainClassifierFixedPoint: empty corpus → zero weights, empty history, no throw") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val (w, hist) = TextAnalysis.trainClassifierFixedPoint(empty, "doc_id",
      "text", labelCol = lit(1L), buckets = 8, iters = 3)
    w.length shouldBe 9
    w.forall(_ == 0L) shouldBe true
    hist.count() shouldBe 0L
  }

  test("random projection: null embedding yields null projections, not a crash") {
    val docs = Seq((1L, Array.fill(8)(1.0f)), (2L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val out = RandomProjection.project(docs, dim = 8, outDim = 4).collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    out(1L) shouldBe false
    out(2L) shouldBe true
  }

  test("mixtureResample: empty corpus and single-group corpus both run") {
    val empty = Seq.empty[(Long, String)].toDF("id", "grp")
    TextAnalysis.mixtureResample(empty, "id", "grp", 0.5, 0.5).count() shouldBe 0L
    val one = (1 to 50).map(i => (i.toLong, "only")).toDF("id", "grp")
    val row = TextAnalysis.mixtureResample(one, "id", "grp", 0.5, 0.5).head()
    row.getLong(1) shouldBe 50L
    row.getDouble(2) shouldBe 0.5 +- 1e-9 // single group: rate = fraction
  }

  test("backoff LMs: empty corpus, null text, and too-short docs all drop out cleanly") {
    val pred = col("doc_id") % 10 =!= 0
    TextAnalysis.bigramBackoffLogProb(emptyDocs, "text", "doc_id", pred)
      .count() shouldBe 0L
    TextAnalysis.trigramBackoffLogProb(emptyDocs, "text", "doc_id", pred)
      .count() shouldBe 0L
    TextAnalysis.bigramBackoffLogProbCut(emptyDocs, "text", "doc_id", pred)
      .count() shouldBe 0L
    // null text and 1-token docs have no bigrams — dropped, not crashed;
    // the 2-token doc survives
    val docs = Seq((1L, null.asInstanceOf[String], "en"), (2L, "one", "en"),
        (3L, "two tokens", "en")).toDF("doc_id", "text", "lang")
    val ids = TextAnalysis.bigramBackoffLogProb(docs, "text", "doc_id", pred)
      .collect().map(_.getLong(0)).toSet
    ids shouldBe Set(3L)
    TextAnalysis.trigramBackoffLogProb(docs, "text", "doc_id", pred)
      .count() shouldBe 0L // no 3-token doc
  }

  test("backoff LMs: an empty TRAIN slice emits rows with null scores, never throws") {
    // every doc held out (trainPred always false): the LM has no counts
    // and no total, so scores are undefined — the contract is null
    // avg_logprob per surviving doc, not a crash mid-pipeline
    val docs = Seq((1L, "a b c", "en"), (2L, "b c d", "en"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.bigramBackoffLogProb(docs, "text", "doc_id",
      trainPred = lit(false)).collect()
    out.length shouldBe 2
    out.foreach(r => r.isNullAt(2) shouldBe true)
    val cut = TextAnalysis.bigramBackoffLogProbCut(docs, "text", "doc_id",
      trainPred = lit(false)).collect()
    cut.length shouldBe 2
    cut.foreach(r => r.isNullAt(2) shouldBe true)
  }

  test("banded Hamming joins: empty hash table plans and runs at every banding width") {
    val empty = Seq.empty[(Long, Long)].toDF("id", "h64")
    Dedup.hammingPairs(empty, "id", "h64", maxDist = 3).count() shouldBe 0L
    Dedup.hammingPairsBlocks(empty, "id", "h64", maxDist = 5,
      bucketCap = 1000, nBlocks = 7).count() shouldBe 0L
    // hammingPairsAuto sizes from count() = 0 → smallest width, still runs
    Dedup.hammingPairsAuto(empty, "id", "h64", maxDist = 5).count() shouldBe 0L
  }

  test("token budget mix: empty corpus runs through both the window and threshold paths") {
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    TextAnalysis.tokenBudgetMix(empty, "doc_id", "source", "text",
      temperature = 0.6, budgetTokens = 1000L).count() shouldBe 0L
    TextAnalysis.tokenBudgetMixThreshold(empty, "doc_id", "source", "text",
      temperature = 0.6, budgetTokens = 1000L).count() shouldBe 0L
  }

  test("fixed-codebook ANN search: empty corpus or empty query set → empty result") {
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val vecs = Seq((1L, Array.fill(64)(1.0f)), (2L, Array.fill(64)(0.5f)))
      .toDF("vec_id", "embedding")
    val ivfCb = Array.tabulate(4, 64)((j, p) => (j + p % 3).toDouble / 4)
    val pqCb = Array.tabulate(2, 3, 32)((s, c, p) => (s + c + p % 2).toDouble / 4)
    Similarity.ivfSearch(emptyVecs, vecs, k = 5, ivfCb, nProbe = 2).count() shouldBe 0L
    Similarity.ivfSearch(vecs, emptyVecs, k = 5, ivfCb, nProbe = 2).count() shouldBe 0L
    Similarity.pqSearch(emptyVecs, vecs, k = 5, pqCb, rerank = 2).count() shouldBe 0L
    Similarity.pqSearch(vecs, emptyVecs, k = 5, pqCb, rerank = 2).count() shouldBe 0L
  }

  test("graph rank: empty edges fail loudly; null endpoints and self-loops are inert") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    // an empty graph has no N to normalize by — the contract is a loud
    // require, not a silent empty result
    an[IllegalArgumentException] should be thrownBy
      GraphRank.pageRank(empty, "src", "dst", 2)
    an[IllegalArgumentException] should be thrownBy
      GraphRank.hits(empty, "src", "dst", 2)
    // null endpoints drop before the node set forms; a self-loop is just
    // an edge (its node both gives and receives)
    val withNulls = Seq((Some(1L), Some(2L)), (None, Some(3L)),
      (Some(4L), None), (Some(5L), Some(5L))).toDF("src", "dst")
    val pr = GraphRank.pageRank(withNulls, "src", "dst", 2)
    pr.count() shouldBe 3L // nodes 1, 2, 5
    val hs = GraphRank.hits(withNulls, "src", "dst", 2)
    hs.count() shouldBe 3L
  }

  test("graph rank: the documented 2^63 overflow contracts fail loudly, not wrap") {
    // weighted pageRank: totalUnits * max(w) must fit — a silent Long
    // wrap would surface as a confusing oracle hash mismatch instead
    val heavy = Seq((1L, 2L, Long.MaxValue / 2), (2L, 1L, 3L))
      .toDF("src", "dst", "w")
    val exPr = the[IllegalArgumentException] thrownBy
      GraphRank.pageRank(heavy, "src", "dst", 1, weightCol = Some("w"))
    exPr.getMessage should include("overflows Long")
    // same product guard through the trustRank entry point
    an[IllegalArgumentException] should be thrownBy
      GraphRank.trustRank(heavy, "src", "dst",
        Seq(1L).toDF("node"), 1, weightCol = Some("w"))
    // hits: totalUnits * |E| must fit
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val exH = the[IllegalArgumentException] thrownBy
      GraphRank.hits(tri, "src", "dst", 1, totalUnits = Long.MaxValue / 2)
    exH.getMessage should include("overflows Long")
    // label propagation: worst-case mass * max(w) must fit (BigInt-checked)
    val seeds = Seq((1L, 0L)).toDF("node", "label")
    val wEdges = Seq((1L, 2L, 10000000000000L), (2L, 3L, 1L))
      .toDF("src", "dst", "w")
    val exLp = the[IllegalArgumentException] thrownBy
      GraphRank.labelPropagation(wEdges, "src", "dst", seeds, "node", "label",
        iterations = 1, weightCol = Some("w"))
    exLp.getMessage should include("overflows Long")
    an[IllegalArgumentException] should be thrownBy
      GraphRank.labelPropagationDense(wEdges, "src", "dst", seeds, "node",
        "label", labels = Seq(0L), iterations = 1, weightCol = Some("w"))
    // the same inputs with sane weights pass the guards and run
    val ok = Seq((1L, 2L, 3L), (2L, 1L, 2L)).toDF("src", "dst", "w")
    GraphRank.pageRank(ok, "src", "dst", 1, weightCol = Some("w"))
      .count() shouldBe 2L
  }

  test("graph rank: the teleport DENOMINATOR dampDen * TW is guarded too (r9)") {
    // many moderate seed weights can wrap dampDen·ΣTW even when every
    // per-seed product passes the max(tw) guards — totalUnits = 1 keeps
    // the numerator guards quiet so the denominator guard is what fires
    val edges = (1L to 10L).map(i => i -> (i % 10 + 1)).toDF("src", "dst")
    // 10 × 1e17: TW = 1e18 still fits a Long (so the guard, not the
    // aggregation, is what detects the problem) but 100·TW = 1e20 wraps
    val seeds = (1L to 10L).map(i => (i, 100000000000000000L)).toDF("node", "tw")
    val ex = the[IllegalArgumentException] thrownBy
      GraphRank.trustRank(edges, "src", "dst", seeds, 1,
        totalUnits = 1L, seedWeightCol = Some("tw"))
    ex.getMessage should include("total teleport weight")
    ex.getMessage should include("overflows Long")
  }

  test("graph resume seams: duplicated state rows fail loudly, not double-count (r9)") {
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L).toDF("src", "dst")
    // rank: two rows for node 1 would double its out-contribution in
    // every remaining iteration
    val dupRanks = Seq((1L, 100L), (1L, 90L), (2L, 50L))
      .toDF("node", "rank_units")
    val exR = the[IllegalArgumentException] thrownBy
      GraphRank.pageRankResume(edges, "src", "dst", dupRanks, 1)
    exR.getMessage should include("duplicate")
    // label masses: duplicate (node, label) state
    val seeds = Seq((1L, 10L)).toDF("node", "label")
    val dupMass = Seq((1L, 10L, 100L), (1L, 10L, 80L), (2L, 10L, 50L))
      .toDF("node", "label", "mass")
    an[IllegalArgumentException] should be thrownBy
      GraphRank.labelPropagationResume(edges, "src", "dst", seeds,
        "node", "label", dupMass, iterations = 1)
    an[IllegalArgumentException] should be thrownBy
      GraphRank.labelPropagationDense(edges, "src", "dst", seeds,
        "node", "label", labels = Seq(10L), iterations = 1,
        initMasses = Some(dupMass))
    // communities: duplicate node rows
    val dupLabels = Seq((1L, 1L), (1L, 2L), (2L, 2L)).toDF("node", "label")
    an[IllegalArgumentException] should be thrownBy
      GraphRank.labelCommunitiesResume(edges, "src", "dst", dupLabels, 1)
  }

  test("dense label resume: state labels outside the declared universe fail loudly (r9)") {
    // an off-universe state label means the checkpoint was built with
    // DIFFERENT seeds — resuming it would silently drop its mass
    val edges = Seq(1L -> 2L, 2L -> 1L).toDF("src", "dst")
    val seeds = Seq((1L, 10L)).toDF("node", "label")
    val alienState = Seq((1L, 10L, 100L), (2L, 77L, 50L))
      .toDF("node", "label", "mass")
    val ex = the[IllegalArgumentException] thrownBy
      GraphRank.labelPropagationDense(edges, "src", "dst", seeds,
        "node", "label", labels = Seq(10L), iterations = 1,
        initMasses = Some(alienState))
    ex.getMessage should include("outside the declared universe")
  }

  test("quantile rollup: negative values and out-of-range p fail loudly") {
    // a negative long's 64-bit bin() length would land it in a bucket
    // that does not bracket it — the contract violation raises per-row
    val neg = Seq((5L, "g"), (-3L, "g")).toDF("v", "g")
    val ex = intercept[Throwable] {
      QuantileRollup.histogram(neg, "v", Seq("g")).collect()
    }
    Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(_.toString).mkString(" ") should include("negative value")
    // p <= 0 silently matched no bucket before r8 — now a loud require
    val hist = QuantileRollup.histogram(Seq((5L, "g")).toDF("v", "g"),
      "v", Seq("g"))
    an[IllegalArgumentException] should be thrownBy
      QuantileRollup.percentiles(hist, Seq("g"), Seq(0.0, 0.5))
    an[IllegalArgumentException] should be thrownBy
      QuantileRollup.percentiles(hist, Seq("g"), Seq(1.5))
    an[IllegalArgumentException] should be thrownBy
      QuantileRollup.percentiles(hist, Seq("g"), Seq.empty)
  }

  test("rebalance sub-scores: one route at an every-list-splits bar") {
    // r14 verdict #6: the per-row sub-centroid scores must not widen
    // with the split set. They read array literals indexed by cid, so
    // an every-list-splits bar (1/1000: any size-≥2 list crosses) plans
    // the same lookup as one hot list — and stays exact, so the cut is
    // identical across partitionings.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cb = Similarity.kmeansTrainFixedPoint(emb, k = 8, maxIter = 2)
    val bar = Similarity.RebalancePolicy(1L, 1000L)
    def run(corpus: DataFrame) = {
      val (m, ncb) = Similarity.rebalanceLists(corpus, cb, bar, maxIter = 1)
      (m.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq, ncb.map(_.toSeq).toSeq)
    }
    val one = run(emb.repartition(1))
    run(emb.repartition(7, col("vec_id"))) shouldBe one
    one._2.length should be > cb.length // the bar really split
  }

  test("quantile rollup: empty input and single-value input both run") {
    val empty = Seq.empty[(Long, String)].toDF("v", "g")
    QuantileRollup.histogram(empty, "v", Seq("g")).count() shouldBe 0L
    QuantileRollup.percentiles(
      QuantileRollup.histogram(empty, "v", Seq("g")), Seq("g"),
      Seq(0.5)).count() shouldBe 0L
    val one = Seq((42L, "g")).toDF("v", "g")
    val br = QuantileRollup.percentiles(
      QuantileRollup.histogram(one, "v", Seq("g")), Seq("g"),
      Seq(0.5, 1.0)).select("est_lo", "est_hi").as[(Long, Long)].collect()
    br.foreach { case (lo, hi) => lo shouldBe 42L; hi shouldBe 42L }
  }
}
