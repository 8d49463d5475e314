package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Asserts the properties of the extension operators that the DuckDB
  * oracle cannot check: LSH recall against the exact variants,
  * hash-fingerprint determinism, decode-stub plumbing.
  */
class ExtensionOperatorsSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("minhash-LSH finds a superset-of-threshold subset of exact jaccard pairs (recall ≥ 0.9)") {
    val exact = Dedup.jaccardPairs(docs, "text", "doc_id", 3, 0.8)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(docs, "text", "doc_id", 32, 8, 3, 0.8)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // verification step kills false positives entirely
    lsh.subsetOf(exact) shouldBe true
    if (exact.nonEmpty) {
      val recall = lsh.intersect(exact).size.toDouble / exact.size
      recall should be >= 0.9
    }
  }

  test("simhash pairs overlap heavily with exact near-dups and hamming is symmetric-free (id1<id2)") {
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", 3).collect()
    pairs.foreach { r =>
      r.getLong(0) should be < r.getLong(1)
      r.getLong(2) should be <= 3L
    }
    pairs.length should be > 0
  }

  test("banded range join matches the naive inequality join at several band widths") {
    import spark.implicits._
    val pts = (0L to 500L).map(i => (i, i * 3 % 97)).toDF("pid", "p").repartition(5)
    val iv = (0L until 40L).map(i => (i, i * 5 % 90, i * 5 % 90 + i % 13)).toDF("iid", "lo", "hi")
    val want = pts.join(iv, col("p") >= col("lo") && col("p") <= col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (w <- Seq(1L, 4L, 16L, 1000L)) {
      val got = RangeJoin.banded(pts, iv, "p", "lo", "hi", w)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got shouldBe want
    }
  }

  test("banded range join plans an equi-join, not a nested-loop join") {
    import spark.implicits._
    val pts = (0L to 500L).map(i => (i, i % 97)).toDF("pid", "p")
    val iv = (0L until 40L).map(i => (i, i * 2L, i * 2L + 5)).toDF("iid", "lo", "hi")
    val plan = RangeJoin.banded(pts, iv, "p", "lo", "hi", 8)
      .queryExecution.executedPlan.toString
    plan should not include "BroadcastNestedLoopJoin"
    (plan.contains("SortMergeJoin") || plan.contains("HashJoin")) shouldBe true
  }

  test("tfidf top terms: ranks dense from 1, scores non-increasing, matches window formulation") {
    val got = TextAnalysis.tfidfTopTerms(docs, "text", "doc_id", 3)
    val rows = got.collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      rs.map(_.getAs[Long]("rank")).sorted shouldBe (1L to rs.length)
      val byRank = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("score"))
      byRank.zip(byRank.tail).foreach { case (a, b) => a should be >= b }
    }
    // same result as the row_number window idiom
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfq, "term").crossJoin(n)
      .withColumn("score", round(col("tf") * log(col("n_docs") / col("df")), 6))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term").asc)
    val want = scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("doc_id", "term", "score", "rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSet
    rows.map(r => (r.getLong(0), r.getAs[String]("term"),
      r.getAs[Double]("score"), r.getAs[Long]("rank"))).toSet shouldBe want
  }

  test("contamination pairs: planted n-gram overlap found, eval side broadcast") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "totally unrelated words here nothing shared at all")).toDF("doc_id", "text")
    val eval_ = Seq((100L, "x y alpha beta gamma delta epsilon z")).toDF("doc_id", "text")
    val got = TextAnalysis.contaminationPairs(train, eval_, "text", "doc_id", 5)
    val rows = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.toSeq shouldBe Seq((1L, 100L, 1L)) // one shared 5-gram
    got.queryExecution.executedPlan.toString should include("BroadcastHashJoin")
  }

  test("repetition metrics: looped text scores high, varied text scores 0") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam ham spam ham spam ham spam ham"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val m = TextAnalysis.repetitionMetrics(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    m(1L)._1 shouldBe 6L // 8 words -> 6 trigrams
    m(1L)._2 shouldBe 2L // "spam ham spam" / "ham spam ham"
    m(1L)._3 should be > 0.6
    m(2L)._3 shouldBe 0.0
  }

  test("centroids: element-wise per-group means, flat (group, pos, value) shape") {
    import spark.implicits._
    val v = Seq(("a", Seq(1.0f, 3.0f)), ("a", Seq(3.0f, 5.0f)), ("b", Seq(10.0f, 0.0f)))
      .toDF("grp", "vec")
    val got = Similarity.centroids(v, "grp", "vec")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    got shouldBe Set(("a", 0L, 2.0), ("a", 1L, 4.0), ("b", 0L, 10.0), ("b", 1L, 0.0))
  }

  test("bm25: rare matching term outranks common one; ranks dense from 1") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "needle in a stack of words about nothing"),
      (2L, "common common common words words words here"),
      (3L, "common words and more common words again"),
      (4L, "entirely unrelated text body")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(corpus, "text", "doc_id",
      Seq("needle", "common"), k = 3).collect()
    got.map(_.getAs[Long]("rank")).sorted shouldBe Seq(1L, 2L, 3L)
    // idf('needle') >> idf('common') — doc 1 must win
    got.find(_.getAs[Long]("rank") == 1L).get.getLong(0) shouldBe 1L
  }

  test("simhash is deterministic across recomputation") {
    val a = Dedup.simhash(docs, "text", "doc_id").orderBy("id").collect()
    val b = Dedup.simhash(docs.repartition(7), "text", "doc_id").orderBy("id").collect()
    a should contain theSameElementsInOrderAs b
  }

  test("LSH knn returns valid ranks and ≥0.7 recall@10 vs brute force on bucketed candidates") {
    val queries = embs.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceKnn(embs, queries, 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.lshKnn(embs, queries, 10, dim = 64, nBits = 4, tables = 12).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    approx.foreach { case (q, n) => q should not be n }
    // 4-bit buckets keep ~1/16 of the corpus per bucket; recall is
    // necessarily partial — assert it is meaningfully better than random
    val recall = approx.intersect(exact).size.toDouble / exact.size
    recall should be >= 0.7
  }

  test("cosinePairsLsh finds planted high-sim near-dups (subset of exact, recall ≥ 0.8)") {
    import spark.implicits._
    // deterministic synthetic corpus: 100 bases + 20 perturbed near-copies
    val dim = 64
    def base(i: Int): Array[Float] =
      Array.tabulate(dim)(j => math.sin(i * dim + j).toFloat)
    val bases = (0 until 100).map(i => (i.toLong, base(i)))
    val dups = (0 until 20).map { i =>
      val v = base(i).clone(); v(0) = v(0) + 0.01f; (1000L + i, v)
    }
    val emb = (bases ++ dups).toDF("vec_id", "embedding")
    val exact = Similarity.cosinePairs(emb, 0.95)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosinePairsLsh(emb, 0.95, dim)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    exact.size should be >= 20 // the planted pairs are above threshold
    lsh.subsetOf(exact) shouldBe true // verification kills false positives
    lsh.intersect(exact).size.toDouble / exact.size should be >= 0.8
  }

  test("cosinePairsAuto routes: LSH at high threshold, exact grid below, one contract") {
    import spark.implicits._
    val dim = 64
    def base(i: Int): Array[Float] =
      Array.tabulate(dim)(j => math.sin(i * dim + j).toFloat)
    val bases = (0 until 100).map(i => (i.toLong, base(i)))
    val dups = (0 until 20).map { i =>
      val v = base(i).clone(); v(0) = v(0) + 0.01f; (1000L + i, v)
    }
    val emb = (bases ++ dups).toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // high threshold: auto == the sub-quadratic LSH path, bit for bit
    pairs(Similarity.cosinePairsAuto(emb, 0.95, dim)) shouldBe
      pairs(Similarity.cosinePairsLsh(emb, 0.95, dim))
    // low threshold: auto == the exact grid, bit for bit (LSH buckets
    // would both miss pairs and stop being selective down here)
    pairs(Similarity.cosinePairsAuto(emb, 0.3, dim)) shouldBe
      pairs(Similarity.cosinePairs(emb, 0.3))
    // the boundary itself belongs to the LSH side
    Similarity.LshRoutingThreshold should be >= 0.8
  }

  test("PQ knn: valid ranks, no self-matches, re-ranked recall@10 ≥ 0.8 vs brute force") {
    val queries = embs.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceKnn(embs, queries, 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // s08's point: m 16, 16 centroids, 3 Lloyd rounds, rerank 16
    val cbs = Similarity.pqTrainFixedPoint(embs, dim = 64, m = 16,
      codebookSize = 16, maxIter = 3)
    val pq = Similarity.pqSearchFixedPoint(embs, queries, 10, cbs, rerank = 16)
      .collect()
    pq.length shouldBe exact.size // k results per query
    pq.foreach { r =>
      r.getLong(0) should not be r.getLong(2) // no self-match
      r.getLong(1) should (be >= 1L and be <= 10L)
    }
    val approx = pq.map(r => (r.getLong(0), r.getLong(2))).toSet
    // 16-byte codes (16× compression of 64 floats) + 160-candidate exact
    // re-rank, matching the 0.84/0.80 floors the LSH/IVF paths hold
    approx.intersect(exact).size.toDouble / exact.size should be >= 0.8
  }

  test("IVF knn: valid ranks, no self-matches, recall beats its probe fraction floor") {
    val queries = embs.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceKnn(embs, queries, 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // s04's point: 16 lists, 5 Lloyd rounds, nProbe 8
    val cb = Similarity.kmeansTrainFixedPoint(embs, k = 16, maxIter = 5)
    val ivf = Similarity.ivfSearchFixedPoint(embs, queries, 10, cb, nProbe = 8)
      .collect()
    ivf.foreach { r => r.getLong(0) should not be r.getLong(2) }
    ivf.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      rows.map(_.getLong(1)).sorted shouldBe (1L to rows.length).toArray
    }
    val got = ivf.map(r => (r.getLong(0), r.getLong(2))).toSet
    // probing 8/16 lists scans ≥ half the corpus; clustering can only
    // help recall beyond that floor
    got.intersect(exact).size.toDouble / exact.size should be >= 0.5
  }

  test("int8 quantization: values bounded, fidelity ≥ 0.995 on the corpus") {
    val q = Quantization.quantizeInt8(embs).collect()
    q.foreach { r =>
      r.getSeq[Byte](2).foreach(b => math.abs(b.toInt) should be <= 127)
    }
    val fid = Quantization.int8Fidelity(embs).collect()
    fid.foreach(_.getDouble(2) should be >= 0.995)
  }

  test("salted join equals the plain join result multiset") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val salted = SkewJoin.saltedJoin(li, ord, "l_orderkey", "o_orderkey", salt = 4)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    salted shouldBe plain
  }

  test("cosinePairs block grid equals the naive cartesian on a small corpus") {
    import spark.implicits._
    val emb = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.cos(i * 8 + j).toFloat))).toDF("vec_id", "embedding")
    val grid = Similarity.cosinePairs(emb, 0.2, gridBlocks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val a = emb.select(col("vec_id").as("id1"), col("embedding").as("v1"))
    val b = emb.select(col("vec_id").as("id2"), col("embedding").as("v2"))
    val naive = a.join(b, col("id1") < col("id2"))
      .withColumn("sim", Similarity.cosine(col("v1"), col("v2")))
      .filter(col("sim") >= 0.2)
      .select(col("id1"), col("id2"), round(col("sim"), 6).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    grid shouldBe naive
  }

  test("connected components: chains collapse to min-id labels across hops") {
    import spark.implicits._
    // two components: a 4-chain 1-2-3-4 (diameter 3 → needs iteration) and
    // a pair 10-11; isolated nodes never appear in the pair list
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id1", "id2")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L)
  }

  test("content and robust fingerprints are deterministic and distinct per content") {
    val fps = docs.select(col("doc_id"),
        TextAnalysis.contentFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val again = docs.repartition(5).select(col("doc_id"),
        TextAnalysis.contentFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    fps shouldBe again
    fps.values.toSet.size shouldBe fps.size // all sf docs are distinct content
  }

  test("hammingPairs banding is lossless to nChunks-1 and exact beyond") {
    import spark.implicits._
    // crafted 60-bit hashes: base, then flips of 1..6 low bits spread so
    // no band-chunk stays equal past the pigeonhole radius
    val base = 0x0ABCDEF123456789L & ((1L << 60) - 1)
    def flip(bits: Seq[Int]): Long = bits.foldLeft(base)((h, b) => h ^ (1L << b))
    val rows = Seq(
      1L -> base,
      2L -> flip(Seq(0)),                       // hamming 1 vs base
      3L -> flip(Seq(5, 15, 25, 35, 45)),       // hamming 5, one per chunk of 5
      4L -> flip(Seq(3, 13, 23, 33, 43, 53)))   // hamming 6: every 10-bit chunk differs
      .toDF("id", "h")
    val pairs = Dedup.hammingPairs(rows, "id", "h", maxDist = 5,
        nChunks = 6, chunkBits = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pairs((1L, 2L)) shouldBe 1L
    pairs((1L, 3L)) shouldBe 5L                 // found: ≤5 with 6 chunks is lossless
    pairs.keySet should not contain ((1L, 4L))  // hamming 6: every chunk differs → unreachable
    // (2,3) share chunk 5, so banding surfaces them — but hamming 6 > maxDist
    pairs.keySet should not contain ((2L, 3L))
  }

  test("hammingBlocksFor widens bands as the corpus grows (expected-bucket bound)") {
    // maxDist=5, target 64: 6 blocks → 10 key bits → good to ~65k rows
    Dedup.hammingBlocksFor(1000L, maxDist = 5) shouldBe 6
    Dedup.hammingBlocksFor(65000L, maxDist = 5) shouldBe 6
    // the m06 cliff: 200k rows saturate 10-bit buckets → 7 blocks (18-bit keys)
    Dedup.hammingBlocksFor(200000L, maxDist = 5) shouldBe 7
    Dedup.hammingBlocksFor(16000000L, maxDist = 5) shouldBe 7
    // 50M rows → 8 blocks (24-bit keys); search caps at maxDist+3
    Dedup.hammingBlocksFor(50000000L, maxDist = 5) shouldBe 8
    Dedup.hammingBlocksFor(1000000000000L, maxDist = 5) shouldBe 8
    // the default simhash radius scales the same way from its 4×16 base
    Dedup.hammingBlocksFor(60000L, maxDist = 3) shouldBe 4
    Dedup.hammingBlocksFor(10000000L, maxDist = 3) shouldBe 5
  }

  test("combination-key banding (wide corpora) finds the same pairs as chunk banding") {
    import spark.implicits._
    val base = 0x0ABCDEF123456789L & ((1L << 60) - 1)
    def flip(bits: Seq[Int]): Long = bits.foldLeft(base)((h, b) => h ^ (1L << b))
    val rows = Seq(
      1L -> base,
      2L -> flip(Seq(0)),                       // hamming 1
      3L -> flip(Seq(5, 15, 25, 35, 45)),       // hamming 5, one per 10-bit chunk
      4L -> flip(Seq(3, 13, 23, 33, 43, 53)))   // hamming 6 — beyond radius
      .toDF("id", "h")
    val expected = Map((1L, 2L) -> 1L, (1L, 3L) -> 5L)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the ≤maxDist result set is banding-invariant: any lossless banding
    // surfaces every true pair and exact verify trims the rest
    collect(Dedup.hammingPairsBlocks(rows, "id", "h", maxDist = 5,
      bucketCap = 1000, nBlocks = 7)) shouldBe expected
    collect(Dedup.hammingPairsBlocks(rows, "id", "h", maxDist = 5,
      bucketCap = 1000, nBlocks = 8)) shouldBe expected
    // auto on a tiny corpus delegates to the oracled chunk path
    collect(Dedup.hammingPairsAuto(rows, "id", "h", maxDist = 5)) shouldBe expected
  }

  test("perceptualHash: identical payloads collide; a small edit moves few bits") {
    import spark.implicits._
    val baseText = ("lorem ipsum dolor sit amet consectetur adipiscing elit " * 8).trim
    val edited = baseText.replace("dolor", "color") // 1-byte edit
    val media = Multimodal.asMediaTable(
      Seq((1L, baseText), (2L, baseText), (3L, edited)).toDF("doc_id", "text"),
      "text", "doc_id")
    val ph = Multimodal.perceptualHash(media, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ph(1L) shouldBe ph(2L)
    val d13 = java.lang.Long.bitCount(ph(1L) ^ ph(3L))
    d13 should (be > 0 and be <= 8) // few shingles changed → few vote flips
    // re-computation is bit-identical (pure function of payload)
    val again = Multimodal.perceptualHash(media, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    again shouldBe ph
  }

  test("s18 assignment maintenance equals rebuild under a fixed codebook") {
    import spark.implicits._
    def vecs(rows: Seq[(Long, String, Seq[Double])]) =
      rows.toDF("vec_id", "lang", "embedding")
    def assign(df: org.apache.spark.sql.DataFrame,
               cents: org.apache.spark.sql.DataFrame) =
      Similarity.assignVectors(df, cents, "vec_id", "lang", "embedding")
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2), r.getDouble(3))).toSet
    val v1 = Seq(
      (1L, "en", Seq(1.0, 0.0)), (2L, "en", Seq(0.9, 0.1)),
      (3L, "fr", Seq(0.0, 1.0)), (4L, "fr", Seq(0.1, 0.9)))
    val v2 = Seq(
      (1L, "en", Seq(1.0, 0.0)),              // unchanged
      (2L, "en", Seq(0.05, 0.95)),            // changed — flips cluster
      (4L, "fr", Seq(0.1, 0.9)),              // unchanged (3 removed)
      (5L, "en", Seq(0.2, 0.8)))              // added
    val cents = Similarity.centroids(vecs(v1), "lang", "embedding")
    val state1 = Similarity.assignVectors(vecs(v1), cents,
      "vec_id", "lang", "embedding")
    val diff = Similarity.vectorSnapshotDiff(vecs(v1), vecs(v2),
      "embedding", "vec_id")
    // the diff classifies exactly
    diff.collect().map(r => r.getLong(0) -> r.getString(1)).toMap shouldBe
      Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
          4L -> "unchanged", 5L -> "added")
    val maintained = Similarity.maintainAssignments(state1, diff,
      vecs(v2), cents, "vec_id", "lang", "embedding")
    maintained.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2), r.getDouble(3))).toSet shouldBe assign(vecs(v2), cents)
    // never touches unchanged vectors: corrupt them in the passed corpus
    val corrupted = vecs(v2).withColumn("embedding",
      when(col("vec_id").isin(1L, 4L),
        typedLit(Seq(9.9, 9.9))).otherwise(col("embedding")))
    Similarity.maintainAssignments(state1, diff, corrupted, cents,
        "vec_id", "lang", "embedding")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getDouble(3))).toSet shouldBe
      assign(vecs(v2), cents)
    // re-announced "added" for a present id upserts, never duplicates
    val re = Seq((1L, "added")).toDF("id", "status")
    val upserted = Similarity.maintainAssignments(state1, re, vecs(v1),
      cents, "vec_id", "lang", "embedding")
    upserted.groupBy("id").count().filter(col("count") > 1)
      .count() shouldBe 0L
    upserted.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2), r.getDouble(3))).toSet shouldBe
      assign(vecs(v1), cents)
  }

  test("m09 phash maintenance equals rebuild and never reads unchanged payloads") {
    import spark.implicits._
    def media(df: org.apache.spark.sql.DataFrame) =
      Multimodal.asMediaTable(df, "text", "doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val v1 = Seq(
      (1L, "alpha beta gamma delta epsilon payload body"),
      (2L, "one two three four five six payload body"),   // will change
      (3L, "red green blue yellow purple payload body"))  // will be removed
      .toDF("doc_id", "text")
    val v2 = Seq(
      (1L, "alpha beta gamma delta epsilon payload body"), // unchanged
      (2L, "one two three four five SEVEN payload body"),  // changed
      (4L, "brand new media item payload body arrives"))   // added
      .toDF("doc_id", "text")
    val state1 = Multimodal.perceptualHash(media(v1), "doc_id")
    val diff = Dedup.snapshotDiff(v1, v2, "text", "doc_id")
    rows(Multimodal.maintainPhashState(state1, diff, media(v2), "doc_id")) shouldBe
      rows(Multimodal.perceptualHash(media(v2), "doc_id"))
    // the no-decode claim, proven behaviorally: corrupt the UNCHANGED
    // item's payload in the corpus handed to the maintainer — a correct
    // maintainer never reads it, so the result must still match rebuild
    val corrupted = v2.withColumn("text",
      when(col("doc_id") === 1L, lit("GARBAGE")).otherwise(col("text")))
    rows(Multimodal.maintainPhashState(state1, diff, media(corrupted),
      "doc_id")) shouldBe
      rows(Multimodal.perceptualHash(media(v2), "doc_id"))
    // empty diff: maintenance is the identity
    rows(Multimodal.maintainPhashState(state1,
      Dedup.snapshotDiff(v1, v1, "text", "doc_id"), media(v1),
      "doc_id")) shouldBe rows(state1)
    // re-announced "added" for a present id upserts, never duplicates
    val reAnnounce = Seq((1L, "added")).toDF("id", "status")
    val upserted = Multimodal.maintainPhashState(state1, reAnnounce,
      media(v1), "doc_id")
    rows(upserted) shouldBe rows(state1)
    upserted.groupBy("id").count().filter(col("count") > 1)
      .count() shouldBe 0L
  }

  test("ByteShingleSimHash kernel equals the exploded vote pipeline bit-for-bit") {
    import spark.implicits._
    // real corpus payloads plus the short-payload edge cases (< 4 bytes
    // fall back to the single short gram, like greatest(len-3, 1))
    val media = Multimodal.asMediaTable(docs.limit(200), "text", "doc_id")
      .unionByName(Multimodal.asMediaTable(
        Seq((900001L, "a"), (900002L, "abc"), (900003L, "abcd"))
          .toDF("doc_id", "text"), "text", "doc_id"))
    val fused = Multimodal.perceptualHash(media, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exploded = Multimodal.perceptualHashExploded(media, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    fused shouldBe exploded
  }

  test("decode kernel emits the stub feature schema with bounded values") {
    val media = Multimodal.asMediaTable(docs.limit(50), "text", "doc_id")
    val feats = Multimodal.decodeFeatures(media, "doc_id").select(
      col("features.width"), col("features.height"),
      col("features.n_frames"), col("features.brightness")).collect()
    feats.length shouldBe 50
    feats.foreach { r =>
      r.getInt(0) should (be >= 1 and be <= 2048)
      r.getInt(1) should (be >= 1 and be <= 2048)
      r.getInt(2) should (be >= 1 and be <= 64)
      r.getDouble(3) should (be >= 0.0 and be <= 1.0)
    }
  }
}
