package graft.streaming

import graft.{SparkJobs, SparkSpec}
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame

/** A [[ContinuousIndexMaintenance.Lineage]] infers an artifact kind's
  * schema once and passes it on later reads. Every read must still
  * equal a fresh `spark.read.parquet` of the artifact — names, types,
  * order, nullability and rows — for bases written by compaction,
  * retrain and cut, for deltas (an empty one included), across a
  * restart on an existing directory, and for a partitioned base with
  * zero rows: it has no partition directory and no data file, so a
  * fresh inference fails, and so must its read.
  */
class LineageSchemaSpec extends SparkSpec {
  import spark.implicits._
  private val S = graft.operators.Similarity
  private type Lineage = ContinuousIndexMaintenance.Lineage
  private val Lineage = ContinuousIndexMaintenance.Lineage
  private val keep = ContinuousIndexMaintenance.LineagePolicy(compactEvery = 2,
    vacuum = false)

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The schema and sorted rows of a read, or the error it raised. */
  private def outcome(df: => DataFrame) =
    scala.util.Try(df).map(d => (d.schema, d.collect().map(_.toString).sorted.toSeq))
      .toEither.left.map(_.getMessage)

  /** Read `kind` version `v` through `lin`, and check it against a
    * fresh inference of the same directory.
    */
  private def readsAsFresh(lin: Lineage, kind: Char, v: Long): Unit =
    withClue(s"${lin.dir}/$kind$v: ") {
      outcome(if (kind == 'v') lin.readBase(v) else lin.readDelta(v)) shouldBe
        outcome(spark.read.parquet(s"${lin.dir}/$kind$v"))
    }

  /** Every artifact under `dir`, in version order, through one fresh
    * lineage (a restart's first reads infer, later ones reuse); returns
    * the Spark jobs the reads took to build their frames.
    */
  private def checkAll(dir: String, partitionCols: Seq[String] = Nil): Int = {
    val names = new java.io.File(dir).list().toSeq
    val arts = names.collect {
      case Lineage.BaseDir(n) => ('v', n.toLong)
      case Lineage.DeltaDir(n) => ('d', n.toLong)
    }.sortBy(_._2)
    arts should not be empty
    val lin = new ContinuousIndexMaintenance.Lineage(spark, dir, partitionCols)
    val jobs = SparkJobs.of(spark)(arts.foreach { case (k, v) =>
      if (k == 'v') lin.readBase(v) else lin.readDelta(v) }).jobs
    val again = new ContinuousIndexMaintenance.Lineage(spark, dir, partitionCols)
    arts.foreach { case (k, v) => readsAsFresh(again, k, v) }
    jobs
  }

  test("minhash lineage: deltas, an empty delta and compactions read as inferred, across a restart") {
    val init = Dedup.minhashIndexState(Seq(
        (1L, "alpha beta gamma delta epsilon"),
        (2L, "one two three four five six"),
        (3L, "red green blue yellow purple")).toDF("doc_id", "text"),
      "text", "doc_id").localCheckpoint()
    val dir = tmp("graft_lineage_mh")
    def loop() = ContinuousIndexMaintenance.minhashLoop(spark, init,
      "text", "doc_id", 32, 8, 3, dir, keep)
    def batch(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "status")
    val first = loop()
    first.processBatch(batch((2L, "one two three four five seven", "changed")), 0L)
    first.processBatch(batch((4L, "north south east west center", "added")), 1L)
    // a restart on the existing directory: a new loop, a new lineage
    val second = loop()
    second.processBatch(batch(), 2L)
    second.processBatch(batch((1L, null, "removed")), 3L)
    second.processBatch(batch((5L, "new doc body arrives here now", "added")), 4L)
    val names = new java.io.File(dir).list().toSet
    names should contain allOf ("d0", "v1", "d2", "v3", "d4")
    spark.read.parquet(s"$dir/d2").count() shouldBe 0L
    // two kinds, one inference each: the later reads launch no job
    checkAll(dir) shouldBe 2
  }

  // the BoundaryJobsSpec fixture: c1 takes the corpus, c2 stays empty
  private val cb = Array(Array(0L, 0L), Array(1000000L, 1000000L),
    Array(-4000000L, -4000000L))
  private val pq = Array(Array(Array(0L, 0L), Array(200000L, 200000L)))
  private def corpus = Seq(
    (0L, Seq(0.0f, 0.0f)),
    (1L, Seq(1.0f, 1.0f)), (2L, Seq(0.75f, 0.5f)),
    (3L, Seq(1.0f, 1.0f)), (4L, Seq(0.75f, 0.5f)),
    (5L, Seq(0.75f, 0.5f))).toDF("vec_id", "embedding")
  private def batch(rows: (Long, Seq[Float], String)*) =
    rows.toDF("vec_id", "embedding", "status")

  for ((family, stateDir, parts) <- Seq(("assign", "assign", Nil),
      ("ivfpq", "index", Seq("cid"))))
    test(s"$family retrain lineages: compaction, retrain and cut bases read as inferred, across a restart") {
      val root = tmp(s"graft_lineage_$family")
      def loop() = {
        val drift = Some(S.DriftPolicy(3L, 5L))
        val census = Some(S.RebalancePolicy(5L, 2L))
        val norm = Some(S.NormPolicy(8L, 1L))
        if (family == "assign")
          ContinuousIndexMaintenance.assignRetrainLoop(spark, corpus,
            S.assignFixedPoint(corpus, cb).localCheckpoint(), cb, 3, 1,
            1000000L, "vec_id", "embedding", root, policy = keep,
            driftPolicy = drift, rebalancePolicy = census, normPolicy = norm)
        else
          ContinuousIndexMaintenance.ivfPqRetrainLoop(spark, corpus,
            S.ivfPqEncodeFixedPoint(corpus, cb, pq).localCheckpoint(), cb, pq,
            2, 3, 1, 2, 1, 1, 1000000L, "vec_id", "embedding", root,
            policy = keep, driftPolicy = drift, rebalancePolicy = census,
            normPolicy = norm)
      }
      val first = loop()
      first.processBatch(batch((9L, Seq(0.1f, 0.1f), "added")), 0L)
      // five hot additions: c1 holds 10 of 12, past the split bar
      first.processBatch(batch((20L until 25L).map(i =>
        (i, Seq(0.75f, 0.5f), "added")): _*), 1L)
      first.rebalancedAt shouldBe Seq(1L)
      val second = loop()
      second.processBatch(batch(), 2L)
      second.processBatch(batch((10L, Seq(0.12f, 0.08f), "added")), 3L)
      // the hot rows flip to the origin list: the drift monitor retrains
      second.processBatch(batch((20L until 25L).map(i =>
        (i, Seq(0.05f, 0.02f), "changed")): _*), 4L)
      second.retrainedAt shouldBe Seq(4L)
      // at most one inference per artifact kind
      for (lin <- Seq("corpus", "cb", "census", "norm"))
        checkAll(s"$root/$lin") should be <= 2
      checkAll(s"$root/$stateDir", parts) should be <= 2
    }

  test("an empty partitioned base is read as inferred and never caches its schema") {
    val dir = tmp("graft_lineage_empty")
    val writer = new ContinuousIndexMaintenance.Lineage(spark, dir, Seq("cid"))
    val state = S.ivfPqEncodeFixedPoint(corpus, cb, pq)
    writer.writeBase(state, 0L)
    writer.writeBase(state.filter(org.apache.spark.sql.functions.lit(false)), 1L)
    writer.writeBase(state.filter("vec_id > 2"), 2L)
    new java.io.File(s"$dir/v1").list().exists(_.startsWith("cid=")) shouldBe false
    new java.io.File(s"$dir/v0").list().exists(_.startsWith("cid=")) shouldBe true
    // the empty base first, and after a partitioned schema is cached
    for (order <- Seq(Seq(1L, 0L, 2L, 1L), Seq(0L, 1L, 2L))) {
      val lin = new ContinuousIndexMaintenance.Lineage(spark, dir, Seq("cid"))
      order.foreach(v => readsAsFresh(lin, 'v', v))
    }
  }
}
