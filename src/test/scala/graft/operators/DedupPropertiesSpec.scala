package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Invariant/property coverage for the dedup family on synthetic corpora
  * (the gate checks values on the fixed test tables; these check the
  * contracts on adversarial inputs).
  */
class DedupPropertiesSpec extends SparkSpec {

  private def forAll[A](gen: Gen[A], trials: Int = 20)(f: A => Unit): Unit =
    (0 until trials).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  test("exact dedup: keeper is the min id and dup counts partition the corpus") {
    import spark.implicits._
    // 3 exact copies of each of 10 distinct texts
    val docs = (0 until 30)
      .map(i => (i.toLong, s"body ${"tok " * (i % 10 + 1)}end"))
      .toDF("doc_id", "text")
    val res = Dedup.exact(docs, "text", "doc_id").collect()
    res.length shouldBe 10
    res.foreach { r =>
      r.getLong(2) shouldBe 3L          // dup_count
      r.getLong(1) should be < 10L      // keeper = first copy's id
    }
    res.map(_.getLong(2)).sum shouldBe 30L
  }

  test("bloom-prefiltered incremental dedup matches the exact anti-join") {
    import spark.implicits._
    // existing corpus: 40 docs; incoming: 30 docs, 10 of which duplicate
    // existing content and 5 duplicate each other
    val existing = (0 until 40).map(i => (i.toLong, s"hist $i body")).toDF("doc_id", "text")
    val incoming = (
      (100 until 110).map(i => (i.toLong, s"hist ${i - 100} body")) ++ // cross-corpus dups
      (110 until 115).map(i => (i.toLong, "same new body")) ++          // intra-batch dups
      (115 until 130).map(i => (i.toLong, s"new $i body"))).toDF("doc_id", "text")

    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("keeper_id", "dup_count").as[(Long, Long)].collect().toSet

    val plain = Dedup.incrementalExact(incoming, existing, "text", "doc_id")
    val bloomed = Dedup.incrementalExactBloom(incoming, existing, "text", "doc_id",
      expectedItems = 40, fpp = 0.01)
    key(bloomed) shouldBe key(plain)
    // 1 keeper for the 5-way intra-batch dup + 15 novel singletons
    key(bloomed).size shouldBe 16
    key(bloomed).count(_._2 == 5L) shouldBe 1
  }

  test("jaccard pairs: ordered ids, scores in (0,1], identical docs score 1.0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),          // identical to 1
      (3L, "alpha beta gamma delta epsilon eta"),           // near-dup of 1
      (4L, "totally different words entirely here now")
    ).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docs, "text", "doc_id", 3, 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    pairs.keys.foreach { case (a, b) => a should be < b }
    pairs.values.foreach { j => j should (be > 0.0 and be <= 1.0) }
    pairs((1L, 2L)) shouldBe 1.0
    pairs((1L, 3L)) should (be > 0.0 and be < 1.0)
    pairs.keySet should not contain ((1L, 4L))
  }

  test("connected components agree with a brute-force union-find on random graphs") {
    import spark.implicits._
    val edgeGen = Gen.listOfN(12,
      Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 15L)))
      .map(_.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.distinct)
      .suchThat(_.nonEmpty)
    forAll(edgeGen, trials = 5) { edges =>
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(x => x -> find(x)).toMap
      val got = Dedup.connectedComponents(edges.toDF("id1", "id2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got shouldBe want
    }
  }

  test("simhash: identical content hashes identically; near-dups stay close") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox jumps over the lazy cat again and again today"))
      .toDF("doc_id", "text")
    val h = Dedup.simhash(docs, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    h(1L) shouldBe h(2L)
    java.lang.Long.bitCount(h(1L) ^ h(3L)) should be <= 16
  }

  test("duplicate spans equal a brute-force reference on random corpora") {
    import spark.implicits._
    val L = 3
    // tiny vocabulary → duplicated shingles occur naturally, within and
    // across docs, including overlapping self-repeats ("a a a a")
    val gen = for {
      n <- Gen.choose(4, 10)
      docs <- Gen.listOfN(n, Gen.choose(1, 22).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d"))))
    } yield docs.map(_.mkString(" "))
    forAll(gen, trials = 8) { texts =>
      // brute force over shingle STRINGS (equal strings ⇔ equal hashes)
      val toks = texts.map(_.split(" "))
      val counts = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
      for (ws <- toks; p <- 0 to ws.length - L)
        counts(ws.slice(p, p + L).mkString(" ")) += 1
      val expected = toks.zipWithIndex.map { case (ws, i) =>
        val dupPos = (0 to ws.length - L)
          .filter(p => counts(ws.slice(p, p + L).mkString(" ")) >= 2)
        val spans = dupPos.foldLeft(List.empty[(Int, Int)]) {
          case (Nil, p)            => List((p, p + L))
          case ((s, e) :: t, p) if p <= e => (s, math.max(e, p + L)) :: t
          case (acc, p)            => (p, p + L) :: acc
        }
        (i.toLong, (ws.length.toLong, dupPos.size.toLong,
          spans.size.toLong, spans.map { case (s, e) => (e - s).toLong }.sum))
      }.toMap
      val df = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = Dedup.duplicateSpanStats(df, "text", "doc_id", L).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      got shouldBe expected
    }
  }

  test("leakage-safe split: no near-dup cluster straddles the boundary " +
       "(where the naive doc-hash split does)") {
    import spark.implicits._
    // 40 near-dup pairs: doc 2k and 2k+1 share a long text with a 1-word
    // edit (Jaccard >> 0.8), plus 20 singletons
    val base = (0 until 40).map { k =>
      val body = (0 until 30).map(j => s"w${k}_$j").mkString(" ")
      Seq((2L * k, body), (2L * k + 1, body + " tail"))
    }.flatten
    val singles = (100 until 120).map(i => (i.toLong, s"solo ${"x" * i} end"))
    val docs = (base ++ singles).toDF("doc_id", "text")
    val clusters = Dedup.connectedComponents(
      Dedup.jaccardPairs(docs, "text", "doc_id", shingleN = 3, threshold = 0.8))
    val split = Dedup.leakageSafeSplit(docs, clusters, "doc_id")
    split.count() shouldBe 100
    // the safety property: every cluster lands entirely on one side
    split.groupBy("component")
      .agg(countDistinct(col("split")).as("sides"))
      .filter(col("sides") > 1).count() shouldBe 0
    // both sides are populated (hash split really splits)
    split.select("split").distinct().count() shouldBe 2
    // contrast: hashing the DOC id (t10's shape) puts some near-dup pair
    // on opposite sides of the boundary — the leakage this op prevents
    val naive = docs.withColumn("split",
      when(pmod(graft.functions.PortableHash.md5_64(
        col("doc_id").cast("string")), lit(100L)) < 90, "train").otherwise("val"))
      .join(split.select(col("doc_id"), col("component")), Seq("doc_id"))
    naive.groupBy("component")
      .agg(countDistinct(col("split")).as("sides"))
      .filter(col("sides") > 1).count() should be > 0L
  }

  // --- d19: index maintenance across corpus versions ---

  private def idxRows(df: org.apache.spark.sql.DataFrame) =
    df.select("id", "band", "band_hash").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("index maintenance equals rebuild across adds, changes, and removes") {
    import spark.implicits._
    val v1 = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six"),      // will change
      (3L, "red green blue yellow purple"),     // will be removed
      (4L, "north south east west center"))
      .toDF("doc_id", "text")
    val v2 = Seq(
      (1L, "alpha beta gamma delta epsilon"),   // unchanged
      (2L, "one two three four five seven"),    // changed
      (4L, "north south east west center"),     // unchanged
      (5L, "new doc body arrives here now"))    // added
      .toDF("doc_id", "text")
    val maintained = Dedup.maintainMinhashIndex(
      Dedup.minhashIndexState(v1, "text", "doc_id"),
      Dedup.snapshotDiff(v1, v2, "text", "doc_id"),
      v2, "text", "doc_id")
    idxRows(maintained) shouldBe
      idxRows(Dedup.minhashIndexState(v2, "text", "doc_id"))
  }

  test("maintenance never reads unchanged docs: corrupting their text changes nothing") {
    import spark.implicits._
    // the no-recompute claim proven behaviorally: hand the maintainer a
    // corpus whose UNCHANGED docs carry garbage text — if it (wrongly)
    // re-signatured them, the result would diverge from the rebuild
    val v1 = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six"))
      .toDF("doc_id", "text")
    val v2 = Seq(
      (1L, "alpha beta gamma delta epsilon"),   // unchanged
      (2L, "one two three four five seven"),    // changed
      (6L, "brand new sixth document text"))    // added
      .toDF("doc_id", "text")
    val diff = Dedup.snapshotDiff(v1, v2, "text", "doc_id")
    val corrupted = v2.withColumn("text",
      when(col("doc_id") === 1L, lit("GARBAGE")).otherwise(col("text")))
    val maintained = Dedup.maintainMinhashIndex(
      Dedup.minhashIndexState(v1, "text", "doc_id"),
      diff, corrupted, "text", "doc_id")
    idxRows(maintained) shouldBe
      idxRows(Dedup.minhashIndexState(v2, "text", "doc_id"))
  }

  test("an over-cap bucket resurfaces in the capped view once removals take it under cap") {
    import spark.implicits._
    // capping is not closed under deletion — this is WHY the persisted
    // state is uncapped. Three identical docs share every band bucket;
    // at cap=2 the capped view drops them all. Removing one in V2 takes
    // every bucket to size 2, and the remaining docs' rows must REAPPEAR.
    val t = "same text shared by all copies"
    val v1 = Seq((1L, t), (2L, t), (3L, t)).toDF("doc_id", "text")
    val v2 = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
    val state1 = Dedup.minhashIndexState(v1, "text", "doc_id")
    Dedup.cappedIndexView(state1, bucketCap = 2).count() shouldBe 0L
    val maintained = Dedup.maintainMinhashIndex(state1,
      Dedup.snapshotDiff(v1, v2, "text", "doc_id"), v2, "text", "doc_id")
    idxRows(Dedup.cappedIndexView(maintained, bucketCap = 2)) shouldBe
      idxRows(Dedup.minhashIndexState(v2, "text", "doc_id"))
  }

  test("re-announced 'added' for a present id upserts — never duplicates index rows") {
    import spark.implicits._
    // an at-least-once upstream can mark a doc "added" that the state
    // already indexes; keeping the old rows would silently double every
    // band row (the r9 duplicate-state trap). Maintenance drops first.
    val v1 = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val state = Dedup.minhashIndexState(v1, "text", "doc_id")
    val reAnnounce = Seq((2L, "added")).toDF("id", "status")
    val maintained = Dedup.maintainMinhashIndex(state, reAnnounce, v1,
      "text", "doc_id")
    idxRows(maintained) shouldBe idxRows(state) // same text ⇒ same rows, ONCE
    maintained.groupBy("id", "band").count()
      .filter(col("count") > 1).count() shouldBe 0L
  }

  test("maintenance equals rebuild on random corpora under random mutation sets") {
    import spark.implicits._
    // the hand-built cases pin each status once; this drives the
    // maintained ≡ rebuild theorem across 15 random (corpus, mutation)
    // draws — any partition of ids into keep/remove/change/add must land
    // on the from-scratch index
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    def text(seed: Int, len: Int): String =
      (0 until (3 + len)).map(i => words((seed * 7 + i * 13) % 10))
        .mkString(" ")
    val gen = for {
      n      <- Gen.choose(4, 12)
      remove <- Gen.someOf(0 until n)
      change <- Gen.someOf(0 until n)
      nAdd   <- Gen.choose(0, 4)
      salt   <- Gen.choose(0, 1000)
    } yield (n, remove.toSet, change.toSet, nAdd, salt)
    forAll(gen, trials = 15) { case (n, remove, change, nAdd, salt) =>
      val v1 = (0 until n).map(i => (i.toLong, text(i + salt, i % 4)))
      val v2 = (0 until n).filterNot(remove)
        .map(i => (i.toLong,
          if (change(i)) text(i + salt, i % 4) + " mutated tail words"
          else text(i + salt, i % 4))) ++
        (n until n + nAdd).map(i => (i.toLong, text(i + salt * 3, i % 5)))
      val v1df = v1.toDF("doc_id", "text")
      val v2df = v2.toDF("doc_id", "text")
      val maintained = Dedup.maintainMinhashIndex(
        Dedup.minhashIndexState(v1df, "text", "doc_id"),
        Dedup.snapshotDiff(v1df, v2df, "text", "doc_id"),
        v2df, "text", "doc_id")
      idxRows(maintained) shouldBe
        idxRows(Dedup.minhashIndexState(v2df, "text", "doc_id"))
    }
  }

  test("empty diff: maintenance is the identity on the state") {
    import spark.implicits._
    val v = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val state = Dedup.minhashIndexState(v, "text", "doc_id")
    val maintained = Dedup.maintainMinhashIndex(state,
      Dedup.snapshotDiff(v, v, "text", "doc_id"), v, "text", "doc_id")
    idxRows(maintained) shouldBe idxRows(state)
  }

  test("planWidth: matches the physical scan width without planning, and the spread still fires on narrow inputs (r18)") {
    import spark.implicits._
    // a single small parquet file: the classic unsplittable-narrow shape
    val dir = java.nio.file.Files.createTempDirectory("graft_pw").toString
    (1 to 100).map(i => (i.toLong, s"text body $i"))
      .toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/one")
    val one = spark.read.parquet(s"$dir/one")
    val est = Dedup.planWidth(one)
    est shouldBe defined
    // exactness against the physical plan on the shape that matters:
    // the estimate must agree with what Spark actually plans
    est.get shouldBe one.rdd.getNumPartitions
    val target = spark.sparkContext.defaultParallelism
    est.get should be < target // the spread conditional still fires
    // a checkpointed input reads the EXISTING rdd's width — no planning
    val ck = (1 to 10).map(i => (i.toLong, s"t$i")).toDF("doc_id", "text")
      .repartition(1).localCheckpoint()
    Dedup.planWidth(ck) shouldBe Some(1)
    // multi-leaf inputs (width set by the shuffle, not a scan) opt out
    Dedup.planWidth(one.join(ck, "doc_id")) shouldBe None
    // narrow transformations on top of the scan keep the estimate
    Dedup.planWidth(one.filter(col("doc_id") > 5)) shouldBe est
  }

  test("planWidth: a zero split size (openCostInBytes 0, minPartitionNum above the input bytes) still gives a width") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pw0").toString
    (1 to 10).map(i => (i.toLong, s"t$i")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/one")
    val one = spark.read.parquet(s"$dir/one")
    val keys = Seq("spark.sql.files.openCostInBytes", "spark.sql.files.minPartitionNum")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(keys(0), "0")
      spark.conf.set(keys(1), Int.MaxValue.toString)
      Dedup.planWidth(one).exists(_ > 0) shouldBe true
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("planWidth: Spark's own split and packing — multi-file parquet and an unsplittable gzip CSV") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pw_split").toString
    (1 to 2000).map(i => (i.toLong, s"text body $i ${i * 7919L % 10007}"))
      .toDF("doc_id", "text").repartition(5).write.parquet(s"$dir/multi")
    (1 to 20000).map(i => (i.toLong, s"row $i ${i * 7919L % 10007} ${i * 104729L % 1299709}"))
      .toDF("doc_id", "text").coalesce(1).write
      .option("compression", "gzip").csv(s"$dir/gz")
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    try {
      // far below both inputs' bytes: a splittable file cuts into many
      // chunks, the gzip file stays one
      spark.conf.set(key, "4096")
      val multi = spark.read.parquet(s"$dir/multi")
      val gz = spark.read.schema("doc_id LONG, text STRING").csv(s"$dir/gz")
      Dedup.planWidth(multi) shouldBe Some(multi.rdd.getNumPartitions)
      Dedup.planWidth(gz) shouldBe Some(gz.rdd.getNumPartitions)
      gz.rdd.getNumPartitions shouldBe 1
      // a bucketed table's scan width may follow its buckets: no estimate
      multi.write.bucketBy(4, "doc_id").mode("overwrite").saveAsTable("graft_pw_bucketed")
      Dedup.planWidth(spark.table("graft_pw_bucketed")) shouldBe None
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_pw_bucketed")
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
