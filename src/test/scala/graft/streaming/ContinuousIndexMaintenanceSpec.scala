package graft.streaming

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** The continuous index-maintenance loop (q129): the drained state
  * equals the one-shot d19 maintenance (and hence a from-scratch
  * rebuild) for id-disjoint batchings, later batches override earlier
  * ones for re-touched ids, and the batchId-versioned state makes a
  * redelivered batch rewrite its version instead of re-applying it.
  */
class ContinuousIndexMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def idx(df: org.apache.spark.sql.DataFrame) =
    df.select("id", "band", "band_hash").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  private val v1 = Seq(
    (1L, "alpha beta gamma delta epsilon"),
    (2L, "one two three four five six"),      // changed in V2
    (3L, "red green blue yellow purple"),     // removed in V2
    (4L, "north south east west center"))
  private val v2 = Seq(
    (1L, "alpha beta gamma delta epsilon"),
    (2L, "one two three four five seven"),
    (4L, "north south east west center"),
    (5L, "new doc body arrives here now"))    // added in V2

  private def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  /** The stream rows: one (doc_id, text, status) row per touched doc. */
  private def diffRows: Seq[(Long, String, String)] = Seq(
    (2L, "one two three four five seven", "changed"),
    (3L, null, "removed"),
    (5L, "new doc body arrives here now", "added"))

  private def drain(files: Seq[Seq[(Long, String, String)]])
      : ContinuousIndexMaintenance.Run = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cim_spec")
    files.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text", "status")
        .coalesce(1).write.mode("append").parquet(s"$dir/f$i.parquet")
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("status",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.option("maxFilesPerTrigger", "1")
      .schema(schema).parquet(s"$dir/*.parquet")
    ContinuousIndexMaintenance.continuousIndex(spark,
      Dedup.minhashIndexState(df(v1), "text", "doc_id"), stream,
      "text", "doc_id")
  }

  test("drain equals rebuild: any id-disjoint batching lands on the V2 index") {
    val rebuild = idx(Dedup.minhashIndexState(df(v2), "text", "doc_id"))
    idx(drain(Seq(diffRows)).state) shouldBe rebuild
    val split = drain(Seq(diffRows.take(1), diffRows.drop(1)))
    idx(split.state) shouldBe rebuild
    split.boundaries.map(_.batchId) shouldBe Seq(0L, 1L)
    split.boundaries.map(_.signatured).sum shouldBe 2L // changed + added
    split.boundaries.map(_.touched).sum shouldBe 2L    // changed + removed
  }

  test("later batches override earlier ones for a re-touched id") {
    val twice = Seq(
      Seq((2L, "intermediate text version here", "changed")),
      Seq((2L, "one two three four five seven", "changed"),
          (3L, null, "removed"),
          (5L, "new doc body arrives here now", "added")))
    idx(drain(twice).state) shouldBe
      idx(Dedup.minhashIndexState(df(v2), "text", "doc_id"))
  }

  test("empty stream: the initial state is served unchanged") {
    val run = drain(Seq(Seq.empty))
    idx(run.state) shouldBe idx(Dedup.minhashIndexState(df(v1), "text", "doc_id"))
    run.boundaries.map(_.signatured).sum shouldBe 0L
  }

  test("a batch with duplicate ids fails loudly instead of emitting conflicting index rows") {
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cim_dup").toString
    val loop = ContinuousIndexMaintenance.minhashLoop(spark,
      Dedup.minhashIndexState(df(v1), "text", "doc_id"),
      "text", "doc_id", 32, 8, 3, stateDir)
    val dupBatch = Seq(
      (2L, "first version in the batch", "changed"),
      (2L, "second version same batch", "changed")).toDF(
      "doc_id", "text", "status")
    val ex = intercept[IllegalArgumentException] {
      loop.processBatch(dupBatch, 0L)
    }
    ex.getMessage should include("duplicate")
  }

  test("stray non-version entries in a caller-supplied stateDir are ignored") {
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cim_stray")
    // checkpoint crumbs / editor droppings that start with 'v' but are
    // not version directories must not NumberFormatException the drain
    java.nio.file.Files.createFile(stateDir.resolve("victory.txt"))
    java.nio.file.Files.createDirectory(stateDir.resolve("v1notdigits"))
    val init = Dedup.minhashIndexState(df(v1), "text", "doc_id")
      .localCheckpoint()
    val loop = ContinuousIndexMaintenance.minhashLoop(spark, init,
      "text", "doc_id", 32, 8, 3, stateDir.toString)
    loop.processBatch(
      diffRows.toDF("doc_id", "text", "status"), 0L)
    idx(loop.result.state) shouldBe
      idx(Dedup.minhashIndexState(df(v2), "text", "doc_id"))
  }

  test("public entry point resumes across restarts with stable stateDir + checkpoint") {
    // the advisor's gap: continuousIndex with defaults re-baselines on
    // restart. With a stable stateDir AND checkpointLocation, a second
    // invocation redelivers only uncommitted batches and serves the
    // latest ON-DISK state — drain, "restart" with more files, drain.
    val srcDir = java.nio.file.Files.createTempDirectory("graft_cim_src")
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cim_state2").toString
    val cpDir = java.nio.file.Files
      .createTempDirectory("graft_cim_cp").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("status",
        org.apache.spark.sql.types.StringType)))
    def stream() = spark.readStream.option("maxFilesPerTrigger", "1")
      .schema(schema).parquet(s"$srcDir/*.parquet")
    def run() = ContinuousIndexMaintenance.continuousIndex(spark,
      Dedup.minhashIndexState(df(v1), "text", "doc_id"), stream(),
      "text", "doc_id", stateDir = Some(stateDir),
      checkpointLocation = Some(cpDir))
    diffRows.take(1).toDF("doc_id", "text", "status")
      .coalesce(1).write.mode("append").parquet(s"$srcDir/f0.parquet")
    run() // first incarnation drains batch 0
    diffRows.drop(1).toDF("doc_id", "text", "status")
      .coalesce(1).write.mode("append").parquet(s"$srcDir/f1.parquet")
    val resumed = run() // restart: only the NEW file is delivered…
    resumed.boundaries.map(_.batchId) shouldBe Seq(1L)
    // …and its base was batch 0's on-disk state, not initialState
    idx(resumed.state) shouldBe
      idx(Dedup.minhashIndexState(df(v2), "text", "doc_id"))
  }

  test("ivfpq loop (s26): drain equals rebuild under fixed two-stage codebooks") {
    import graft.operators.Similarity
    val dim = 8
    def v(seed: Long): Seq[Float] =
      (0 until dim).map(i => ((seed * 31 + i * 7) % 13 - 6).toFloat / 4f)
    def vecs(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")
    val v1v = Seq(1L, 2L, 3L, 4L, 6L).map(id => id -> v(id))
    val v2v = Seq(1L -> v(1L), 2L -> v(20L), // 2 changed
      4L -> v(4L), 5L -> v(5L), 6L -> v(6L)) // 3 removed, 5 added
    val (coarse, pq) = Similarity.ivfPqTrainFixedPoint(vecs(v1v), dim = dim,
      nLists = 2, m = 2, codebookSize = 2, maxIterCoarse = 2, maxIterPq = 1)
    val init = Similarity.ivfPqEncodeFixedPoint(vecs(v1v), coarse, pq)
      .localCheckpoint()
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cis26").toString
    val loop = ContinuousIndexMaintenance.ivfPqLoop(spark, init, coarse, pq,
      "vec_id", "embedding", 1000000L, stateDir)
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "cid", "codes").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    // batch 0: the V1→V2 delta; batch 1 redelivers it (uncommitted-batch
    // rewrite) — the final state must equal the from-scratch V2 encode
    val delta = Seq(
      (2L, v(20L), "changed"),
      (3L, null.asInstanceOf[Seq[Float]], "removed"),
      (5L, v(5L), "added")).toDF("vec_id", "embedding", "status")
    loop.processBatch(delta, 0L)
    val rebuild = flat(Similarity.ivfPqEncodeFixedPoint(vecs(v2v), coarse, pq))
    flat(loop.result.state) shouldBe rebuild
    loop.processBatch(delta, 0L) // redelivery rewrites v0, not re-applies
    flat(loop.result.state) shouldBe rebuild
  }

  test("phash loop (m10): drain equals rebuild, and redelivery rewrites its version") {
    // the media family instantiation of the same Loop: payload kernel
    // over delta payloads only, batchId-versioned state
    def media(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cpm_spec").toString
    val init = graft.operators.Multimodal
      .perceptualHash(media(v1), "doc_id").localCheckpoint()
    def newLoop() = ContinuousIndexMaintenance.phashLoop(
      spark, init, "doc_id", stateDir)
    def batch(rows: Seq[(Long, String, String)]) =
      rows.toDF("doc_id", "text", "status")
        .select(col("doc_id"), col("text").cast("binary").as("payload"),
                col("status"))
    val first = newLoop()
    first.processBatch(batch(diffRows.take(1)), 0L)
    first.processBatch(batch(diffRows.slice(1, 2)), 1L) // uncommitted…
    val restarted = newLoop() // …restart: fresh seam state, same dir
    restarted.processBatch(batch(diffRows.slice(1, 2)), 1L) // redelivery
    restarted.processBatch(batch(diffRows.drop(2)), 2L)
    val drained = restarted.result.state.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuilt = graft.operators.Multimodal
      .perceptualHash(media(v2), "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    drained shouldBe rebuilt
  }

  test("assignment loop (s21): drain equals rebuild under the fixed codebook") {
    // the ANN family instantiation: centroid argmin over delta vectors
    // only, codebook fixed (retrains are s20's separate event)
    def vecs(rows: Seq[(Long, String, Seq[Double])]) =
      rows.toDF("vec_id", "lang", "embedding")
    val w1 = Seq(
      (1L, "en", Seq(1.0, 0.0)), (2L, "fr", Seq(0.0, 1.0)),
      (3L, "en", Seq(0.9, 0.1)), (4L, "fr", Seq(0.2, 0.8)))
    val w2 = Seq(
      (1L, "en", Seq(1.0, 0.0)), (2L, "fr", Seq(0.7, 0.3)), // changed
      (4L, "fr", Seq(0.2, 0.8)), (5L, "en", Seq(0.6, 0.4))) // 3 rm, 5 add
    val cents = graft.operators.Similarity
      .centroids(vecs(w1), "lang", "embedding").localCheckpoint()
    val init = graft.operators.Similarity.assignVectors(
      vecs(w1), cents, "vec_id", "lang", "embedding").localCheckpoint()
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cam_spec").toString
    val loop = ContinuousIndexMaintenance.assignLoop(
      spark, init, cents, "vec_id", "lang", "embedding", stateDir)
    val d1 = Seq((2L, "fr", Seq(0.7, 0.3), "changed"),
                 (3L, null.asInstanceOf[String],
                  null.asInstanceOf[Seq[Double]], "removed"))
    val d2 = Seq((5L, "en", Seq(0.6, 0.4), "added"))
    loop.processBatch(d1.toDF("vec_id", "lang", "embedding", "status"), 0L)
    loop.processBatch(d2.toDF("vec_id", "lang", "embedding", "status"), 1L)
    val drained = loop.result.state.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val rebuilt = graft.operators.Similarity.assignVectors(
      vecs(w2), cents, "vec_id", "lang", "embedding").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    drained shouldBe rebuilt
  }

  private def retrainFixture = {
    val w1 = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.9f, 0.1f)), (4L, Seq(0.2f, 0.8f)))
      .toDF("vec_id", "embedding")
    val changed2 = Seq((2L, Seq(0.7f, 0.3f))).toDF("vec_id", "embedding")
    val added5 = Seq((5L, Seq(0.6f, 0.4f))).toDF("vec_id", "embedding")
    // boundary-1 corpus: 2 changed, 3 removed (the retrain trains here)
    val mid = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.7f, 0.3f)),
      (4L, Seq(0.2f, 0.8f))).toDF("vec_id", "embedding")
    // final corpus: + 5 added after the retrain
    val fin = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.7f, 0.3f)),
      (4L, Seq(0.2f, 0.8f)), (5L, Seq(0.6f, 0.4f)))
      .toDF("vec_id", "embedding")
    (w1, changed2, added5, mid, fin)
  }

  private def retrainBatch(rows: Seq[(java.lang.Long, Seq[Float], String)]) =
    rows.toDF("vec_id", "embedding", "status")

  test("retrain loop (s25): drained state equals from-scratch assignment under the boundary codebook") {
    val S = graft.operators.Similarity
    val (w1, _, _, mid, fin) = retrainFixture
    val cbOld = S.kmeansTrainFixedPoint(w1, k = 2, maxIter = 1)
    val init = S.assignFixedPoint(w1, cbOld).localCheckpoint()
    val root = java.nio.file.Files
      .createTempDirectory("graft_cra_spec").toString
    val loop = ContinuousIndexMaintenance.assignRetrainLoop(spark, w1, init,
      cbOld, 2, 1, 1000000L, "vec_id", "embedding", root)
    loop.processBatch(retrainBatch(Seq(
      (2L, Seq(0.7f, 0.3f), "changed"))), 0L)
    loop.processBatch(retrainBatch(Seq(
      (3L, null, "removed"),
      (null.asInstanceOf[java.lang.Long], null, "retrain"))), 1L)
    loop.processBatch(retrainBatch(Seq(
      (5L, Seq(0.6f, 0.4f), "added"))), 2L)
    loop.retrainedAt shouldBe Seq(1L)
    val cbMid = S.kmeansTrainFixedPoint(mid, k = 2, maxIter = 1)
    // the retrain must actually have changed the codebook (otherwise
    // this fixture wouldn't exercise the boundary at all)
    cbMid.map(_.toSeq).toSeq should not be cbOld.map(_.toSeq).toSeq
    val expected = S.assignFixedPoint(fin, cbMid).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    loop.result.state.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe expected
  }

  test("retrain loop: redelivery ACROSS the retrain boundary rewrites its versions") {
    // the r12 brief's spec: the retrain batch itself is the one that
    // goes uncommitted — a restarted loop redelivers it, re-trains from
    // the same on-disk corpus base (pure function), rewrites corpus/
    // codebook/assignment v1, and the post-retrain batch maintains
    // under the rewritten codebook. The drained state must equal the
    // no-failure run's.
    val S = graft.operators.Similarity
    val (w1, _, _, mid, fin) = retrainFixture
    val cbOld = S.kmeansTrainFixedPoint(w1, k = 2, maxIter = 1)
    val init = S.assignFixedPoint(w1, cbOld).localCheckpoint()
    val root = java.nio.file.Files
      .createTempDirectory("graft_cra_redeliver").toString
    def newLoop() = ContinuousIndexMaintenance.assignRetrainLoop(spark, w1,
      init, cbOld, 2, 1, 1000000L, "vec_id", "embedding", root)
    val b1 = retrainBatch(Seq(
      (3L, null, "removed"),
      (null.asInstanceOf[java.lang.Long], null, "retrain")))
    val first = newLoop()
    first.processBatch(retrainBatch(Seq(
      (2L, Seq(0.7f, 0.3f), "changed"))), 0L)
    first.processBatch(b1, 1L) // the RETRAIN batch goes uncommitted…
    val restarted = newLoop()  // …restart: fresh memory, same root
    restarted.processBatch(b1, 1L) // redelivered retrain boundary
    restarted.processBatch(retrainBatch(Seq(
      (5L, Seq(0.6f, 0.4f), "added"))), 2L)
    restarted.retrainedAt shouldBe Seq(1L)
    val cbMid = S.kmeansTrainFixedPoint(mid, k = 2, maxIter = 1)
    val expected = S.assignFixedPoint(fin, cbMid).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    restarted.result.state.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe expected
  }

  test("ivfpq retrain loop (s27): drain equals from-scratch encode under the boundary codebooks, redelivered across the boundary") {
    // the composed-index twin of the s25 specs: the retrain boundary
    // re-trains BOTH stages and re-encodes; the retrain batch itself
    // goes uncommitted and is redelivered into byte-compatible rewrites
    val S = graft.operators.Similarity
    val (w1, _, _, mid, fin) = retrainFixture
    val (cOld, pOld) = S.ivfPqTrainFixedPoint(w1, dim = 2, nLists = 2,
      m = 2, codebookSize = 2, maxIterCoarse = 1, maxIterPq = 1)
    val init = S.ivfPqEncodeFixedPoint(w1, cOld, pOld).localCheckpoint()
    val root = java.nio.file.Files
      .createTempDirectory("graft_cipr_spec").toString
    def newLoop() = ContinuousIndexMaintenance.ivfPqRetrainLoop(spark,
      w1, init, cOld, pOld, 2, 2, 2, 2, 1, 1, 1000000L,
      "vec_id", "embedding", root)
    val b1 = retrainBatch(Seq(
      (3L, null, "removed"),
      (null.asInstanceOf[java.lang.Long], null, "retrain")))
    val first = newLoop()
    first.processBatch(retrainBatch(Seq(
      (2L, Seq(0.7f, 0.3f), "changed"))), 0L)
    first.processBatch(b1, 1L) // the RETRAIN batch goes uncommitted…
    val restarted = newLoop()  // …restart: fresh memory, same root
    restarted.processBatch(b1, 1L) // redelivered retrain boundary
    restarted.processBatch(retrainBatch(Seq(
      (5L, Seq(0.6f, 0.4f), "added"))), 2L)
    restarted.retrainedAt shouldBe Seq(1L)
    val (cMid, pMid) = S.ivfPqTrainFixedPoint(mid, dim = 2, nLists = 2,
      m = 2, codebookSize = 2, maxIterCoarse = 1, maxIterPq = 1)
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "cid", "codes").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    flat(restarted.result.state) shouldBe
      flat(S.ivfPqEncodeFixedPoint(fin, cMid, pMid))
  }

  test("serve-while-maintaining: version k is byte-stable under a partial v(k+1), which overwrite then repairs") {
    // the Loop's isolation claim: batch k+1 is the ONLY writer of
    // directory v(k+1), every base (and any serving reader pinned
    // ≤ k) resolves strictly below it, and a half-written v(k+1) —
    // crash mid-write — is repaired by the redelivered overwrite, never
    // read. Drive it with the IVFADC loop since serving is the
    // cid-partitioned search path.
    import graft.operators.Similarity
    val dim = 8
    def v(seed: Long): Seq[Float] =
      (0 until dim).map(i => ((seed * 31 + i * 7) % 13 - 6).toFloat / 4f)
    def vecs(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")
    val v1v = Seq(1L, 2L, 3L, 4L, 6L).map(id => id -> v(id))
    val (coarse, pq) = Similarity.ivfPqTrainFixedPoint(vecs(v1v), dim = dim,
      nLists = 2, m = 2, codebookSize = 2, maxIterCoarse = 2, maxIterPq = 1)
    val init = Similarity.ivfPqEncodeFixedPoint(vecs(v1v), coarse, pq)
      .localCheckpoint()
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cim_isolation").toString
    val loop = ContinuousIndexMaintenance.ivfPqLoop(spark, init, coarse, pq,
      "vec_id", "embedding", 1000000L, stateDir)
    loop.processBatch(Seq((2L, v(20L), "changed"))
      .toDF("vec_id", "embedding", "status"), 0L)
    // the served version: its physical files and its answers
    import scala.jdk.CollectionConverters._
    def fileStamps(dir: String): Set[(String, Long)] = {
      val root = java.nio.file.Paths.get(dir)
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (root.relativize(p).toString,
          java.nio.file.Files.size(p))).toSet
      finally s.close()
    }
    // boundary 0 persisted a DELTA (r17 lineage): one encode row for
    // the changed id + one tombstone — O(batch) bytes, never the index
    val d0 = s"$stateDir/d0"
    spark.read.parquet(d0).count() shouldBe 2L
    val stampsBefore = fileStamps(d0)
    // the corpus below boundary 1 encodes: v1 with id 2's batch-0 change
    val corpus0 = vecs(Seq(1L -> v(1L), 2L -> v(20L), 3L -> v(3L),
      4L -> v(4L), 6L -> v(6L)))
    val lin = new ContinuousIndexMaintenance.Lineage(spark, stateDir)
    def serve() = Similarity.ivfPqSearchIndexed(
      lin.stateBelow(1L, init), corpus0,
      vecs(Seq(1L -> v(1L))), k = 2, coarse, pq, nProbe = 2, rerank = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val answersBefore = serve()
    // a maintainer crashes mid-write of d1: garbage part file, no commit
    val d1dir = java.nio.file.Paths.get(s"$stateDir/d1")
    java.nio.file.Files.createDirectories(d1dir)
    java.nio.file.Files.write(d1dir.resolve("part-00000.parquet"),
      "half-written garbage".getBytes)
    // the committed chain is byte-stable and serves identical answers
    // (a reader below boundary 1 never opens the partial d1)
    fileStamps(d0) shouldBe stampsBefore
    serve() shouldBe answersBefore
    // the redelivered batch 1 resolves its base BELOW 1 (the d0 chain,
    // not the partial d1) and its overwrite repairs the directory
    loop.processBatch(Seq((5L, v(5L), "added"))
      .toDF("vec_id", "embedding", "status"), 1L)
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("cid").cast("long").as("cid"), col("codes"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
    val v2v = Seq(1L -> v(1L), 2L -> v(20L), 3L -> v(3L), 4L -> v(4L),
      5L -> v(5L), 6L -> v(6L))
    flat(loop.result.state) shouldBe
      flat(Similarity.ivfPqEncodeFixedPoint(vecs(v2v), coarse, pq))
  }

  test("DriftPolicy.triggers: empty deltas never trigger, exact ratio equality does") {
    val p = graft.operators.Similarity.DriftPolicy(3L, 5L)
    p.triggers(nMoved = 0L, nTot = 0L) shouldBe false // removals-only boundary
    p.triggers(nMoved = 5L, nTot = 0L) shouldBe false // degenerate: no denominator
    p.triggers(nMoved = 3L, nTot = 5L) shouldBe true  // exact 3/5 — ≥, not >
    p.triggers(nMoved = 2L, nTot = 5L) shouldBe false // just under
    p.triggers(nMoved = 0L, nTot = 7L) shouldBe false // adds-only boundary
    // integer cross-product: no float rounding at awkward ratios
    p.triggers(nMoved = 600000L, nTot = 999999L) shouldBe true  // 0.6000006…
    p.triggers(nMoved = 599999L, nTot = 999999L) shouldBe false // 0.5999995…
    graft.operators.Similarity.DriftPolicy(0L, 1L)
      .triggers(nMoved = 0L, nTot = 1L) shouldBe true // always-retrain policy
    an[IllegalArgumentException] should be thrownBy
      graft.operators.Similarity.DriftPolicy(1L, 0L)
  }

  test("drift-policy retrain loop (s29 path): the boundary decision re-decides identically across a restart") {
    // the doc claim at continuousAssignmentsWithRetrain: the moved-share
    // statistic is a pure function of (on-disk codebook base, on-disk
    // assignment base, batch), so a redelivered boundary re-decides —
    // and re-trains — identically. Mirror of the s25 marker redelivery
    // spec with the DECISION made by the statistic instead of a marker.
    val S = graft.operators.Similarity
    val w1 = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.9f, 0.1f)), (4L, Seq(0.2f, 0.8f)))
      .toDF("vec_id", "embedding")
    val cbOld = S.kmeansTrainFixedPoint(w1, k = 2, maxIter = 1)
    val init = S.assignFixedPoint(w1, cbOld).localCheckpoint()
    // fixture premise, verified not assumed: id 2's change flips its
    // argmax list under cbOld (batch 1 moved-share 1/1 ≥ 3/5), id 3's
    // change does not (batch 0 moved-share 0/1 < 3/5)
    val oldA = init.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chg3 = Seq((3L, Seq(0.85f, 0.15f))).toDF("vec_id", "embedding")
    val chg2 = Seq((2L, Seq(0.95f, 0.05f))).toDF("vec_id", "embedding")
    S.assignFixedPoint(chg3, cbOld).head().getLong(1) shouldBe oldA(3L)
    S.assignFixedPoint(chg2, cbOld).head().getLong(1) should not be oldA(2L)
    val root = java.nio.file.Files
      .createTempDirectory("graft_drift_redeliver").toString
    def newLoop() = ContinuousIndexMaintenance.assignRetrainLoop(spark, w1,
      init, cbOld, 2, 1, 1000000L, "vec_id", "embedding", root,
      driftPolicy = Some(S.DriftPolicy(3L, 5L)))
    def batch(rows: Seq[(java.lang.Long, Seq[Float], String)]) =
      rows.toDF("vec_id", "embedding", "status")
    val b0 = batch(Seq((3L, Seq(0.85f, 0.15f), "changed")))
    val b1 = batch(Seq((2L, Seq(0.95f, 0.05f), "changed")))
    val b2 = batch(Seq((5L, Seq(0.6f, 0.4f), "added")))
    val first = newLoop()
    first.processBatch(b0, 0L)
    first.processBatch(b1, 1L) // drift boundary goes UNCOMMITTED…
    first.retrainedAt shouldBe Seq(1L)
    first.driftStats.map(s => (s.batchId, s.moved, s.measured)) shouldBe
      Seq((0L, 0L, 1L), (1L, 1L, 1L))
    val restarted = newLoop() // …restart: fresh memory, same root
    restarted.processBatch(b1, 1L) // redelivery re-measures + re-decides
    restarted.processBatch(b2, 2L) // adds-only: measured, not triggered
    restarted.retrainedAt shouldBe Seq(1L)
    restarted.driftStats.map(s => (s.batchId, s.moved, s.measured)) shouldBe
      Seq((1L, 1L, 1L), (2L, 0L, 1L))
    // drained state = from-scratch assignment of the final corpus under
    // the boundary-1 codebook (trained on the post-b1 corpus)
    val mid = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.95f, 0.05f)),
      (3L, Seq(0.85f, 0.15f)), (4L, Seq(0.2f, 0.8f)))
      .toDF("vec_id", "embedding")
    val fin = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.95f, 0.05f)),
      (3L, Seq(0.85f, 0.15f)), (4L, Seq(0.2f, 0.8f)),
      (5L, Seq(0.6f, 0.4f))).toDF("vec_id", "embedding")
    val cbMid = S.kmeansTrainFixedPoint(mid, k = 2, maxIter = 1)
    restarted.result.state.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      S.assignFixedPoint(fin, cbMid).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("a marker row overrides the drift policy: no double-measure, no double-retrain") {
    // markers > 0 short-circuits the monitor (drifted is not even
    // evaluated): the manual override retrains exactly once and the
    // boundary records NO drift stat
    val S = graft.operators.Similarity
    val (w1, _, _, _, _) = retrainFixture
    val cbOld = S.kmeansTrainFixedPoint(w1, k = 2, maxIter = 1)
    val init = S.assignFixedPoint(w1, cbOld).localCheckpoint()
    val root = java.nio.file.Files
      .createTempDirectory("graft_drift_marker").toString
    val loop = ContinuousIndexMaintenance.assignRetrainLoop(spark, w1,
      init, cbOld, 2, 1, 1000000L, "vec_id", "embedding", root,
      driftPolicy = Some(S.DriftPolicy(3L, 5L)))
    loop.processBatch(retrainBatch(Seq(
      (2L, Seq(0.7f, 0.3f), "changed"),
      (null.asInstanceOf[java.lang.Long], null, "retrain"))), 0L)
    loop.retrainedAt shouldBe Seq(0L)
    loop.driftStats shouldBe empty
  }

  test("redelivered batchId rewrites its version: a mid-stream restart loses nothing") {
    // model the failure directly against the extracted Loop: batch 1 is
    // processed but its offset never commits; a restarted loop (fresh
    // memory, same stateDir) redelivers batch 1 — its base must be
    // version 0, NOT the half-applied version 1 or the initial state
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cim_redeliver").toString
    val init = Dedup.minhashIndexState(df(v1), "text", "doc_id")
      .localCheckpoint()
    def newLoop() = ContinuousIndexMaintenance.minhashLoop(spark, init,
      "text", "doc_id", 32, 8, 3, stateDir)
    def batch(rows: Seq[(Long, String, String)]) =
      rows.toDF("doc_id", "text", "status")
    val first = newLoop()
    first.processBatch(batch(diffRows.take(1)), 0L)
    first.processBatch(batch(diffRows.slice(1, 2)), 1L) // uncommitted…
    val restarted = newLoop() // …restart: fresh seam state, same dir
    restarted.processBatch(batch(diffRows.slice(1, 2)), 1L) // redelivery
    restarted.processBatch(batch(diffRows.drop(2)), 2L)
    idx(restarted.result.state) shouldBe
      idx(Dedup.minhashIndexState(df(v2), "text", "doc_id"))
  }

  test("RebalancePolicy.splits: singletons never split, exact equality does") {
    val p = graft.operators.Similarity.RebalancePolicy(3L, 2L)
    p.splits(size = 1L, nLists = 2, nTot = 2L) shouldBe false // 2-means/2-chunk needs 2 seeds
    p.splits(size = 0L, nLists = 8, nTot = 0L) shouldBe false
    p.splits(size = 3L, nLists = 2, nTot = 4L) shouldBe true  // exactly 1.5× — ≥, not >
    p.splits(size = 2L, nLists = 2, nTot = 4L) shouldBe false // exactly average
    an[IllegalArgumentException] should be thrownBy
      graft.operators.Similarity.RebalancePolicy(0L, 2L)
  }

  // the s34 hand fixture: c0 = origin (1 member), c1 = (1,1) (every
  // x+y > 1 vector), c2 = far away (empty). k = 3, bar 5/2 (2.5× avg).
  private val rebCb = Array(Array(0L, 0L), Array(1000000L, 1000000L),
    Array(-4000000L, -4000000L))
  private def rebCorpus = Seq(
    (0L, Seq(0.0f, 0.0f)),
    (1L, Seq(1.0f, 1.0f)), (2L, Seq(0.75f, 0.5f)),
    (3L, Seq(1.0f, 1.0f)), (4L, Seq(0.75f, 0.5f)),
    (5L, Seq(0.75f, 0.5f))).toDF("vec_id", "embedding")

  test("census-rebalance loop (s34 path): the boundary decision re-decides identically across a restart") {
    // the doc claim: the census is a pure function of on-disk bases +
    // batch, so a redelivered boundary re-measures, re-decides, and
    // re-cuts identically — the s29 restart theorem for the third
    // monitor. Batch 0 removes a hot-list row (census dips: 4·2·3 = 24
    // < 5·5 = 25, no trigger); batch 1 adds three hot rows (7·2·3 = 42
    // ≥ 5·8 = 40, the crossing); batch 2 adds one origin row under the
    // EXPANDED codebook (max child 3 ⇒ 3·2·5 = 30 < 5·9 = 45, settled).
    val S = graft.operators.Similarity
    val pol = S.RebalancePolicy(5L, 2L)
    val init = S.assignFixedPoint(rebCorpus, rebCb).localCheckpoint()
    val root = java.nio.file.Files
      .createTempDirectory("graft_census_redeliver").toString
    def newLoop() = ContinuousIndexMaintenance.assignRetrainLoop(spark,
      rebCorpus, init, rebCb, 3, 1, 1000000L, "vec_id", "embedding", root,
      rebalancePolicy = Some(pol))
    val b0 = retrainBatch(Seq((5L, null, "removed")))
    val b1 = retrainBatch(Seq(
      (6L, Seq(0.75f, 0.5f), "added"),
      (7L, Seq(0.75f, 0.5f), "added"),
      (8L, Seq(1.0f, 1.0f), "added")))
    val b2 = retrainBatch(Seq((9L, Seq(0.0f, 0.0f), "added")))
    val first = newLoop()
    first.processBatch(b0, 0L)
    first.processBatch(b1, 1L) // the crossing goes UNCOMMITTED…
    first.rebalancedAt shouldBe Seq(1L)
    val restarted = newLoop() // …restart: fresh memory, same root
    restarted.processBatch(b1, 1L) // redelivery re-censuses + re-cuts
    restarted.processBatch(b2, 2L)
    restarted.rebalancedAt shouldBe Seq(1L)
    restarted.retrainedAt shouldBe empty
    restarted.censusStats.map(s => (s.batchId, s.hottest, s.total)) shouldBe
      Seq((1L, 7L, 8L), (2L, 3L, 9L))
    // drained state ≡ the offline composition: one-shot even split of
    // the post-b1 corpus, then b2's row landed under the EXPANDED
    // codebook
    val postB1 = Seq(
      (0L, Seq(0.0f, 0.0f)),
      (1L, Seq(1.0f, 1.0f)), (2L, Seq(0.75f, 0.5f)),
      (3L, Seq(1.0f, 1.0f)), (4L, Seq(0.75f, 0.5f)),
      (6L, Seq(0.75f, 0.5f)), (7L, Seq(0.75f, 0.5f)),
      (8L, Seq(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val (mv, expandedCb) = S.splitListsEven(postB1, rebCb, pol)
    expandedCb.length should be > rebCb.length
    val b2row = Seq((9L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val expected = mv.select(col("id"), col("cid")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ++
      S.assignFixedPoint(b2row, expandedCb).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    restarted.result.state.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe expected
  }

  test("a SECOND census trigger bases on the rank-chunked state, and census stays ≡ state") {
    // after a split the served state is NOT the fresh argmax (children
    // are rank-range chunks; the split centroid was replaced) — a later
    // trigger must cut what is physically in each list, and the written
    // census must equal a fresh census of the written state at EVERY
    // boundary (the invariant a re-derived argmax cut silently breaks)
    val S = graft.operators.Similarity
    val pol = S.RebalancePolicy(5L, 2L)
    val init = S.assignFixedPoint(rebCorpus, rebCb).localCheckpoint()
    val root = java.nio.file.Files
      .createTempDirectory("graft_census_twice").toString
    val loop = ContinuousIndexMaintenance.assignRetrainLoop(spark,
      rebCorpus, init, rebCb, 3, 1, 1000000L, "vec_id", "embedding", root,
      rebalancePolicy = Some(pol))
    // b0 crosses (c1 grows to 8 of 9: 2·8·3 ≥ 5·9) and splits; b1 adds
    // four more hot rows that land in the chunked children and cross
    // again under the grown list count
    loop.processBatch(retrainBatch(Seq(
      (6L, Seq(0.75f, 0.5f), "added"),
      (7L, Seq(0.75f, 0.5f), "added"),
      (8L, Seq(1.0f, 1.0f), "added"))), 0L)
    loop.rebalancedAt shouldBe Seq(0L)
    loop.processBatch(retrainBatch(Seq(
      (9L, Seq(0.75f, 0.5f), "added"),
      (10L, Seq(0.76f, 0.5f), "added"),
      (11L, Seq(0.75f, 0.51f), "added"),
      (12L, Seq(0.74f, 0.5f), "added"))), 1L)
    // census ≡ state at every written boundary
    for (b <- Seq(0L, 1L)) {
      val st = spark.read.parquet(s"$root/assign/v$b").collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      val written = spark.read.parquet(s"$root/census/v$b").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"boundary $b census vs state: ") {
        st.groupBy(_._2).view.mapValues(_.length.toLong).toMap shouldBe written
      }
      st.map(_._1).sorted shouldBe st.map(_._1).distinct.sorted // no dup ids
    }
    // membership: 6 initial + 7 added
    spark.read.parquet(s"$root/assign/v1").count() shouldBe 13L
    // b1 DID cross again (the adds tie between the two identical chunk
    // centroids and first-max sends all four to the lower cid: 7 of 13
    // in one list ≥ the 5/2 bar at k=5) — the second cut ran against
    // the rank-chunked state, which is what the invariant above pinned
    loop.rebalancedAt shouldBe Seq(0L, 1L)
  }

  test("composed monitors (s36 path): census cuts at b0, drift retrains at b1 under the GROWN codebook") {
    // both monitors in one loop, triggering sequentially. b0: the hot
    // clump lands as ADDITIONS — no stored seats, so the drift
    // statistic reads EXACTLY 0/3 (additions can never false-trigger
    // drift) while the census crosses (2·8·3 ≥ 5·9) and the cut
    // versions the expanded codebook. b1: two present rows change to
    // near-origin — their fresh argmax under the EXPANDED codebook
    // differs from their rank-chunked seats, moved-share 2/2 ≥ 3/5,
    // the drift monitor retrains, and the drained state equals the
    // from-scratch assignment of the final corpus under a codebook
    // trained on it (the retrain endpoint theorem, s25).
    val S = graft.operators.Similarity
    val init = S.assignFixedPoint(rebCorpus, rebCb).localCheckpoint()
    val root = java.nio.file.Files
      .createTempDirectory("graft_census_then_drift").toString
    val loop = ContinuousIndexMaintenance.assignRetrainLoop(spark,
      rebCorpus, init, rebCb, 3, 1, 1000000L, "vec_id", "embedding", root,
      driftPolicy = Some(S.DriftPolicy(3L, 5L)),
      rebalancePolicy = Some(S.RebalancePolicy(5L, 2L)))
    loop.processBatch(retrainBatch(Seq(
      (6L, Seq(0.75f, 0.5f), "added"),
      (7L, Seq(0.75f, 0.5f), "added"),
      (8L, Seq(1.0f, 1.0f), "added"))), 0L)
    loop.rebalancedAt shouldBe Seq(0L)
    loop.retrainedAt shouldBe empty
    loop.driftStats.map(s => (s.batchId, s.moved, s.measured)) shouldBe
      Seq((0L, 0L, 3L)) // additions: measured, never moved
    loop.processBatch(retrainBatch(Seq(
      (1L, Seq(0.05f, 0.02f), "changed"),
      (3L, Seq(0.04f, 0.03f), "changed"))), 1L)
    loop.rebalancedAt shouldBe Seq(0L)
    loop.retrainedAt shouldBe Seq(1L)
    // the b1 statistic measured against the POST-CUT state under the
    // EXPANDED codebook: both changed rows flip to the origin list
    loop.driftStats.map(s => (s.batchId, s.moved, s.measured)) shouldBe
      Seq((0L, 0L, 3L), (1L, 2L, 2L))
    // census stats only at non-retrain boundaries; the retrain
    // re-baselined the census from its own state
    loop.censusStats.map(s => (s.batchId, s.hottest, s.total)) shouldBe
      Seq((0L, 8L, 9L))
    spark.read.parquet(s"$root/census/v1").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      spark.read.parquet(s"$root/assign/v1").groupBy(col("cid")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // endpoint theorem: drained state ≡ from-scratch under the retrain
    val fin = Seq(
      (0L, Seq(0.0f, 0.0f)),
      (1L, Seq(0.05f, 0.02f)), (2L, Seq(0.75f, 0.5f)),
      (3L, Seq(0.04f, 0.03f)), (4L, Seq(0.75f, 0.5f)),
      (5L, Seq(0.75f, 0.5f)), (6L, Seq(0.75f, 0.5f)),
      (7L, Seq(0.75f, 0.5f)), (8L, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cbFin = S.kmeansTrainFixedPoint(fin, k = 3, maxIter = 1)
    loop.result.state.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      S.assignFixedPoint(fin, cbFin).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("composed monitors: redelivery of the DRIFT boundary after a committed cut re-decides identically") {
    // the composition's restart seam: the census cut at b0 committed,
    // the drift boundary b1 went uncommitted — a restarted loop
    // redelivers b1, re-measures moved-share against the on-disk
    // post-cut state UNDER THE GROWN CODEBOOK (latestBelow resolves
    // cb/v0), re-decides retrain, and lands the identical state
    val S = graft.operators.Similarity
    val init = S.assignFixedPoint(rebCorpus, rebCb).localCheckpoint()
    val root = java.nio.file.Files
      .createTempDirectory("graft_composed_redeliver").toString
    def newLoop() = ContinuousIndexMaintenance.assignRetrainLoop(spark,
      rebCorpus, init, rebCb, 3, 1, 1000000L, "vec_id", "embedding", root,
      driftPolicy = Some(S.DriftPolicy(3L, 5L)),
      rebalancePolicy = Some(S.RebalancePolicy(5L, 2L)))
    val b0 = retrainBatch(Seq(
      (6L, Seq(0.75f, 0.5f), "added"),
      (7L, Seq(0.75f, 0.5f), "added"),
      (8L, Seq(1.0f, 1.0f), "added")))
    val b1 = retrainBatch(Seq(
      (1L, Seq(0.05f, 0.02f), "changed"),
      (3L, Seq(0.04f, 0.03f), "changed")))
    val first = newLoop()
    first.processBatch(b0, 0L)
    first.processBatch(b1, 1L) // the retrain goes UNCOMMITTED…
    first.rebalancedAt shouldBe Seq(0L)
    first.retrainedAt shouldBe Seq(1L)
    val firstState = first.result.state.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val restarted = newLoop() // …restart: fresh memory, same root
    restarted.processBatch(b1, 1L) // redelivery re-measures + re-retrains
    restarted.rebalancedAt shouldBe empty // b0 was committed, not replayed
    restarted.retrainedAt shouldBe Seq(1L)
    restarted.driftStats.map(s => (s.batchId, s.moved, s.measured)) shouldBe
      Seq((1L, 2L, 2L)) // measured against the GROWN codebook's state
    restarted.result.state.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe firstState
  }

  test("census stays exact when a batch re-\"adds\" an id the state already holds") {
    // upsert REPLACES a re-added existing row (state size unchanged);
    // the census must vacate its old seat like a change, or the id is
    // double-counted forever
    val S = graft.operators.Similarity
    val pol = S.RebalancePolicy(100L, 1L) // never triggers — census only
    val init = S.assignFixedPoint(rebCorpus, rebCb).localCheckpoint()
    val root = java.nio.file.Files
      .createTempDirectory("graft_census_readd").toString
    val loop = ContinuousIndexMaintenance.assignRetrainLoop(spark,
      rebCorpus, init, rebCb, 3, 1, 1000000L, "vec_id", "embedding", root,
      rebalancePolicy = Some(pol))
    // id 2 already lives in list 1; "added" again near the origin — it
    // moves to list 0 and must carry exactly ONE seat
    loop.processBatch(retrainBatch(Seq(
      (2L, Seq(0.01f, 0.01f), "added"))), 0L)
    loop.censusStats.map(s => (s.batchId, s.total)) shouldBe Seq((0L, 6L))
    val written = spark.read.parquet(s"$root/census/v0").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // boundary 0 persisted a DELTA (r17 lineage); the physical state is
    // the composed chain — init + d0 — which must carry exactly one
    // seat for the re-added id
    val st = new ContinuousIndexMaintenance.Lineage(spark, s"$root/assign")
      .stateBelow(1L, init).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    st.length shouldBe 6
    st.groupBy(_._2).view.mapValues(_.length.toLong).toMap shouldBe written
  }

  // the 2-dim IVFADC hand fixture for the s39 specs: the s34 coarse
  // codebook plus ONE residual subspace of two entries — small enough
  // that every landing and code is hand-checkable, composed enough
  // that a wrong re-encode (codes vs a replaced centroid) shows up
  private val rebPq: Array[Array[Array[Long]]] =
    Array(Array(Array(0L, 0L), Array(200000L, 200000L)))

  private def ivfPqRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id"), col("cid").cast("long").as("cid"), col("codes"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toSeq)).toSet

  test("ivfpq census loop (s39 path): the cut boundary re-decides identically across a restart, census ≡ physical lists") {
    // the s34 redelivery theorem lifted to the COMPOSED index: the
    // census is a pure function of on-disk bases + batch, so a
    // redelivered cut boundary re-measures, re-decides, re-CUTS, and
    // re-ENCODES identically. Same staged boundaries as the s34
    // redelivery spec (physical composed lists ARE the coarse argmax).
    val S = graft.operators.Similarity
    val pol = S.RebalancePolicy(5L, 2L)
    val init = S.ivfPqEncodeFixedPoint(rebCorpus, rebCb, rebPq)
      .localCheckpoint()
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_census_redeliver").toString
    // vacuum off: the spec audits census ≡ physical state at EVERY
    // historical boundary, which needs the full lineage retained
    def newLoop() = ContinuousIndexMaintenance.ivfPqRetrainLoop(spark,
      rebCorpus, init, rebCb, rebPq, 2, 3, 1, 2, 1, 1, 1000000L,
      "vec_id", "embedding", root, rebalancePolicy = Some(pol),
      policy = ContinuousIndexMaintenance.LineagePolicy(vacuum = false))
    val b0 = retrainBatch(Seq((5L, null, "removed")))
    val b1 = retrainBatch(Seq(
      (6L, Seq(0.75f, 0.5f), "added"),
      (7L, Seq(0.75f, 0.5f), "added"),
      (8L, Seq(1.0f, 1.0f), "added")))
    val b2 = retrainBatch(Seq((9L, Seq(0.0f, 0.0f), "added")))
    val first = newLoop()
    first.processBatch(b0, 0L)
    first.processBatch(b1, 1L) // the cut goes UNCOMMITTED…
    first.rebalancedAt shouldBe Seq(1L)
    val restarted = newLoop() // …restart: fresh memory, same root
    restarted.processBatch(b1, 1L) // redelivery re-censuses + re-cuts
    restarted.processBatch(b2, 2L)
    restarted.rebalancedAt shouldBe Seq(1L)
    restarted.retrainedAt shouldBe empty
    restarted.censusStats.map(s => (s.batchId, s.hottest, s.total)) shouldBe
      Seq((1L, 7L, 8L), (2L, 3L, 9L))
    // census ≡ a fresh census of the PHYSICAL composed index at every
    // boundary (the invariant the divergence guard protects) — the
    // physical state below b+1 is the r17 chain: ordinary boundaries
    // are deltas, the cut boundary a base
    val idxLin = new ContinuousIndexMaintenance.Lineage(spark, s"$root/index")
    for (b <- Seq(0L, 1L, 2L)) {
      val written = spark.read.parquet(s"$root/census/v$b").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      idxLin.stateBelow(b + 1, init)
        .groupBy(col("cid").cast("long")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe written
    }
    // drained index ≡ the offline composition: one-shot s37 cut of the
    // post-b1 index, then b2's row encoded under the EXPANDED codebook
    val postB1 = Seq(
      (0L, Seq(0.0f, 0.0f)),
      (1L, Seq(1.0f, 1.0f)), (2L, Seq(0.75f, 0.5f)),
      (3L, Seq(1.0f, 1.0f)), (4L, Seq(0.75f, 0.5f)),
      (6L, Seq(0.75f, 0.5f)), (7L, Seq(0.75f, 0.5f)),
      (8L, Seq(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val idxB1 = S.ivfPqEncodeFixedPoint(postB1, rebCb, rebPq)
      .localCheckpoint()
    val (cutIdx, expandedCb) = S.rebalanceIvfPqIndex(idxB1, postB1,
      rebCb, rebPq, pol)
    expandedCb.length should be > rebCb.length
    val b2row = Seq((9L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val expected = ivfPqRows(cutIdx) ++
      ivfPqRows(S.ivfPqEncodeFixedPoint(b2row, expandedCb, rebPq))
    ivfPqRows(restarted.result.state) shouldBe expected
    // and the expanded codebook was VERSIONED at the cut boundary: the
    // on-disk coarse stage the next boundary resolved equals it
    spark.read.parquet(s"$root/cb/v1").filter(col("stage") === 0)
      .count() shouldBe expandedCb.length.toLong * 2L // 2 dims per cid
  }

  test("ivfpq drift monitor (s40 path): the statistic chooses the two-stage retrain and supersedes the census") {
    // monitor parity on the composed loop: additions measure 0 moved
    // (no stored seats), a list-flipping change crosses the 3/5 bar,
    // the boundary retrains BOTH stages on the post-delta corpus, and
    // the census — running alongside — is superseded at the retrain
    // boundary and re-baselined from the retrained index.
    val S = graft.operators.Similarity
    val init = S.ivfPqEncodeFixedPoint(rebCorpus, rebCb, rebPq)
      .localCheckpoint()
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_drift").toString
    val loop = ContinuousIndexMaintenance.ivfPqRetrainLoop(spark,
      rebCorpus, init, rebCb, rebPq, 2, 3, 1, 2, 1, 1, 1000000L,
      "vec_id", "embedding", root,
      driftPolicy = Some(S.DriftPolicy(3L, 5L)),
      rebalancePolicy = Some(S.RebalancePolicy(100L, 1L))) // census only
    loop.processBatch(retrainBatch(Seq(
      (6L, Seq(0.8f, 0.7f), "added"))), 0L)
    loop.retrainedAt shouldBe empty
    loop.driftStats.map(s => (s.batchId, s.moved, s.measured)) shouldBe
      Seq((0L, 0L, 1L)) // an addition has no seat to move from
    // two present rows flip to the origin list: moved-share 2/2 ≥ 3/5
    loop.processBatch(retrainBatch(Seq(
      (2L, Seq(0.05f, 0.02f), "changed"),
      (4L, Seq(0.04f, 0.03f), "changed"))), 1L)
    loop.retrainedAt shouldBe Seq(1L)
    loop.driftStats.map(s => (s.batchId, s.moved, s.measured)) shouldBe
      Seq((0L, 0L, 1L), (1L, 2L, 2L))
    // census: recorded at the non-retrain boundary only; re-baselined
    // from the retrained index at b1 (≡ the physical state)
    loop.censusStats.map(_.batchId) shouldBe Seq(0L)
    spark.read.parquet(s"$root/census/v1").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      spark.read.parquet(s"$root/index/v1")
        .groupBy(col("cid").cast("long")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // endpoint theorem, composed form: drained ≡ the final corpus
    // encoded under codebooks trained on it (both stages)
    val fin = Seq(
      (0L, Seq(0.0f, 0.0f)),
      (1L, Seq(1.0f, 1.0f)), (2L, Seq(0.05f, 0.02f)),
      (3L, Seq(1.0f, 1.0f)), (4L, Seq(0.04f, 0.03f)),
      (5L, Seq(0.75f, 0.5f)), (6L, Seq(0.8f, 0.7f)))
      .toDF("vec_id", "embedding")
    val (cbFin, pqFin) = S.ivfPqTrainFixedPoint(fin, dim = 2, nLists = 3,
      m = 1, codebookSize = 2, maxIterCoarse = 1, maxIterPq = 1)
    ivfPqRows(loop.result.state) shouldBe
      ivfPqRows(S.ivfPqEncodeFixedPoint(fin, cbFin, pqFin))
  }

  test("ivfpq drift monitor: redelivery of the retrain boundary re-measures and re-retrains identically") {
    val S = graft.operators.Similarity
    val init = S.ivfPqEncodeFixedPoint(rebCorpus, rebCb, rebPq)
      .localCheckpoint()
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_drift_redeliver").toString
    def newLoop() = ContinuousIndexMaintenance.ivfPqRetrainLoop(spark,
      rebCorpus, init, rebCb, rebPq, 2, 3, 1, 2, 1, 1, 1000000L,
      "vec_id", "embedding", root,
      driftPolicy = Some(S.DriftPolicy(3L, 5L)))
    val b0 = retrainBatch(Seq((6L, Seq(0.8f, 0.7f), "added")))
    val b1 = retrainBatch(Seq(
      (2L, Seq(0.05f, 0.02f), "changed"),
      (4L, Seq(0.04f, 0.03f), "changed")))
    val first = newLoop()
    first.processBatch(b0, 0L)
    first.processBatch(b1, 1L) // the retrain goes UNCOMMITTED…
    first.retrainedAt shouldBe Seq(1L)
    val firstRows = ivfPqRows(first.result.state)
    val restarted = newLoop() // …restart: fresh memory, same root
    restarted.processBatch(b1, 1L) // re-measures against on-disk bases
    restarted.retrainedAt shouldBe Seq(1L)
    restarted.driftStats.map(s => (s.batchId, s.moved, s.measured)) shouldBe
      Seq((1L, 2L, 2L))
    ivfPqRows(restarted.result.state) shouldBe firstRows
  }

  test("norm-collapse tripwire: the staged 1/64 collapse flags the boundary; normalized ingest stays quiet") {
    // r15 measured the failure mode (0.235 ADC recall) invisible to
    // moved-share AND census; the tripwire must flag it from the
    // exact-integer envelope BEFORE any recall is lost. Corpus norms
    // sit within 8× of each other; the collapse delta lands 1/64-norm
    // rows → the envelope ratio crosses 8/1 exactly at that boundary.
    val S = graft.operators.Similarity
    val npol = S.NormPolicy(8L, 1L)
    val corpus = Seq( // no zero vector: the baseline must be clean
      (1L, Seq(1.0f, 1.0f)), (2L, Seq(0.75f, 0.5f)),
      (3L, Seq(1.0f, 1.0f)), (4L, Seq(0.75f, 0.5f)),
      (5L, Seq(0.75f, 0.5f))).toDF("vec_id", "embedding")
    val cb = Array(Array(0L, 0L), Array(1000000L, 1000000L))
    val init = S.assignFixedPoint(corpus, cb).localCheckpoint()
    val root = java.nio.file.Files
      .createTempDirectory("graft_norm_trip").toString
    val loop = ContinuousIndexMaintenance.assignRetrainLoop(spark,
      corpus, init, cb, 2, 1, 1000000L, "vec_id", "embedding", root,
      normPolicy = Some(npol))
    // b0: a natural-scale delta — envelope widens a little, no flag
    loop.processBatch(retrainBatch(Seq(
      (6L, Seq(0.9f, 0.8f), "added"))), 0L)
    loop.normFlaggedAt shouldBe empty
    // b1: the collapse — the SAME clump shape that kept every other
    // monitor quiet in r15 (additions: moved-share 0; census: these
    // two rows cross no size bar)
    loop.processBatch(retrainBatch(Seq(
      (7L, Seq(0.75f / 64, 0.5f / 64), "added"),
      (8L, Seq(1.0f / 64, 1.0f / 64), "added"))), 1L)
    loop.normFlaggedAt shouldBe Seq(1L)
    // the envelope is exact integers both sides of the flag
    val s1 = loop.normStats.find(_.batchId == 1L).get
    assert(npol.flags(s1.minN2, s1.maxN2))
    val s0 = loop.normStats.find(_.batchId == 0L).get
    assert(!npol.flags(s0.minN2, s0.maxN2))
    // monotone: a later benign boundary does NOT unflag the regime
    loop.processBatch(retrainBatch(Seq(
      (9L, Seq(0.8f, 0.7f), "added"))), 2L)
    loop.normFlaggedAt shouldBe Seq(1L, 2L)

    // the pinned production recipe: L2-normalized ingest — the same
    // collapse event, normalized, keeps the envelope ratio ~1 and the
    // tripwire NEVER fires (and the ivfpq loop shares the machinery)
    def l2(v: Seq[Float]): Seq[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val nCorpus = Seq(
      (1L, l2(Seq(1.0f, 1.0f))), (2L, l2(Seq(0.75f, 0.5f))),
      (3L, l2(Seq(1.0f, 1.0f))), (4L, l2(Seq(0.75f, 0.5f))),
      (5L, l2(Seq(0.75f, 0.5f)))).toDF("vec_id", "embedding")
    val nInit = S.ivfPqEncodeFixedPoint(nCorpus, rebCb, rebPq)
      .localCheckpoint()
    val nRoot = java.nio.file.Files
      .createTempDirectory("graft_norm_quiet").toString
    val nLoop = ContinuousIndexMaintenance.ivfPqRetrainLoop(spark,
      nCorpus, nInit, rebCb, rebPq, 2, 3, 1, 2, 1, 1, 1000000L,
      "vec_id", "embedding", nRoot, normPolicy = Some(npol))
    nLoop.processBatch(retrainBatch(Seq(
      (7L, l2(Seq(0.75f / 64, 0.5f / 64)), "added"),
      (8L, l2(Seq(1.0f / 64, 1.0f / 64)), "added"))), 0L)
    nLoop.normFlaggedAt shouldBe empty
    nLoop.normStats should have size 1
  }

  test("census-divergence crash RUNBOOK: the guard kills the query loudly; wiping the census lineage re-baselines and proceeds") {
    // the loud guard (require: census crossed but the physical cut
    // moved nothing) is spec-pinned; this pins what RECOVERY looks
    // like — the operator wipes the census versions, restarts the
    // lineage, and the redelivered boundary re-baselines its census
    // from the PHYSICAL state and proceeds with correct decisions.
    val S = graft.operators.Similarity
    val pol = S.RebalancePolicy(5L, 2L)
    val init = S.assignFixedPoint(rebCorpus, rebCb).localCheckpoint()
    val root = java.nio.file.Files
      .createTempDirectory("graft_census_runbook").toString
    def newLoop() = ContinuousIndexMaintenance.assignRetrainLoop(spark,
      rebCorpus, init, rebCb, 3, 1, 1000000L, "vec_id", "embedding", root,
      rebalancePolicy = Some(pol))
    val first = newLoop()
    first.processBatch(retrainBatch(Seq(
      (9L, Seq(0.1f, 0.1f), "added"))), 0L) // benign; census v0 commits
    first.rebalancedAt shouldBe empty
    // the divergence: census v0 is corrupted to claim a phantom hot
    // list (the empty c2 at 40 seats) the physical state doesn't hold
    import spark.implicits._
    Seq((0L, 1L), (1L, 6L), (2L, 40L)).toDF("cid", "n").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/census/v0")
    // next boundary: the maintained census crosses on the phantom, the
    // physical cut moves nothing — the guard kills the query LOUDLY
    val b1 = retrainBatch(Seq((10L, Seq(0.12f, 0.08f), "added")))
    val crashed = newLoop()
    val e = the[IllegalArgumentException] thrownBy
      crashed.processBatch(b1, 1L)
    e.getMessage should include("diverged")
    // ...and loudly means NO state artifact was committed for b1 —
    // neither a base nor a delta (r17 chain)
    new java.io.File(s"$root/assign/v1").exists() shouldBe false
    new java.io.File(s"$root/assign/d1").exists() shouldBe false
    // RECOVERY: wipe the census lineage (the runbook step), restart;
    // the redelivered b1 re-baselines from the physical assign state
    val cdir = new java.io.File(s"$root/census")
    cdir.listFiles().foreach(f => {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) x.listFiles().foreach(rm); x.delete(); () }
      rm(f)
    })
    val recovered = newLoop()
    recovered.processBatch(b1, 1L)
    recovered.rebalancedAt shouldBe empty
    recovered.censusStats.map(s => (s.batchId, s.hottest, s.total)) shouldBe
      Seq((1L, 5L, 8L)) // 6 initial + 9 + 10; hottest is the true c1 (5)
    // census v1 ≡ the physical composed state — healthy again (the
    // no-trigger boundary persisted a delta, so compose the chain)
    spark.read.parquet(s"$root/census/v1").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      new ContinuousIndexMaintenance.Lineage(spark, s"$root/assign")
        .stateBelow(2L, init).groupBy(col("cid")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("composed monitors, one boundary deeper: a SECOND census cut lands correctly over the RETRAINED codebook") {
    // the r15 chain ended at the retrain (cut@b0 → retrain@b1); this
    // proves the census re-baseline after the retrain is itself
    // correct under a SUBSEQUENT decision: a second clump crosses at
    // b2 and the cut bases on the retrained codebook AND the
    // re-baselined census — all three decisions replayed offline.
    val S = graft.operators.Similarity
    val pol = S.RebalancePolicy(5L, 2L)
    val init = S.assignFixedPoint(rebCorpus, rebCb).localCheckpoint()
    val root = java.nio.file.Files
      .createTempDirectory("graft_three_decisions").toString
    val loop = ContinuousIndexMaintenance.assignRetrainLoop(spark,
      rebCorpus, init, rebCb, 3, 1, 1000000L, "vec_id", "embedding", root,
      driftPolicy = Some(S.DriftPolicy(3L, 5L)),
      rebalancePolicy = Some(S.RebalancePolicy(5L, 2L)))
    // b0: the s36 census crossing (additions: moved-share 0)
    loop.processBatch(retrainBatch(Seq(
      (6L, Seq(0.75f, 0.5f), "added"),
      (7L, Seq(0.75f, 0.5f), "added"),
      (8L, Seq(1.0f, 1.0f), "added"))), 0L)
    // b1: the s36 drift retrain (changes flip lists under the grown cb)
    loop.processBatch(retrainBatch(Seq(
      (1L, Seq(0.05f, 0.02f), "changed"),
      (3L, Seq(0.04f, 0.03f), "changed"))), 1L)
    loop.rebalancedAt shouldBe Seq(0L)
    loop.retrainedAt shouldBe Seq(1L)
    // b2: a second clump — 20 adds at the retrained codebook's hot
    // centroid cross the re-baselined census (26 of 29 ≥ 5/2 · avg)
    loop.processBatch(retrainBatch(
      (100L until 120L).map(i =>
        (java.lang.Long.valueOf(i), Seq(0.75f, 0.5f), "added"))), 2L)
    loop.rebalancedAt shouldBe Seq(0L, 2L)
    loop.retrainedAt shouldBe Seq(1L)
    // offline replay of ALL THREE decisions' endpoint: the retrain
    // endpoint theorem gives b1's state ≡ fresh assignment of the b1
    // corpus under a codebook trained on it; b2 upserts the adds'
    // fresh argmax; the second cut is the one-shot even split of the
    // b2 corpus OVER that physical state
    val finB1 = Seq(
      (0L, Seq(0.0f, 0.0f)),
      (1L, Seq(0.05f, 0.02f)), (2L, Seq(0.75f, 0.5f)),
      (3L, Seq(0.04f, 0.03f)), (4L, Seq(0.75f, 0.5f)),
      (5L, Seq(0.75f, 0.5f)), (6L, Seq(0.75f, 0.5f)),
      (7L, Seq(0.75f, 0.5f)), (8L, Seq(1.0f, 1.0f)))
    val cbRetrained = S.kmeansTrainFixedPoint(
      finB1.toDF("vec_id", "embedding"), k = 3, maxIter = 1)
    val adds = (100L until 120L).map(i => (i, Seq(0.75f, 0.5f)))
    val corpusB2 = (finB1 ++ adds).toDF("vec_id", "embedding")
    val stateB2 = S.assignFixedPoint(corpusB2.toDF(), cbRetrained)
      .localCheckpoint() // b1 endpoint ⊕ b2 upsert = fresh assign of all
    val (mv2, cb2) = S.splitListsEven(corpusB2, cbRetrained, pol,
      state = Some(stateB2))
    cb2.length should be > cbRetrained.length
    loop.result.state.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      mv2.select(col("id"), col("cid")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // and the census the NEXT decision would read ≡ the physical state
    spark.read.parquet(s"$root/census/v2").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      spark.read.parquet(s"$root/assign/v2").groupBy(col("cid")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("a retrain boundary supersedes the census monitor and re-baselines its census") {
    // markers win: the boundary retrains, records NO census stat, and
    // the NEXT boundary's incremental census starts from the retrained
    // state (a wrong stale base would mis-censure every later decision)
    val S = graft.operators.Similarity
    val pol = S.RebalancePolicy(5L, 2L)
    val init = S.assignFixedPoint(rebCorpus, rebCb).localCheckpoint()
    val root = java.nio.file.Files
      .createTempDirectory("graft_census_marker").toString
    val loop = ContinuousIndexMaintenance.assignRetrainLoop(spark,
      rebCorpus, init, rebCb, 3, 1, 1000000L, "vec_id", "embedding", root,
      rebalancePolicy = Some(pol))
    loop.processBatch(retrainBatch(Seq(
      (2L, Seq(0.8f, 0.55f), "changed"),
      (null.asInstanceOf[java.lang.Long], null, "retrain"))), 0L)
    loop.retrainedAt shouldBe Seq(0L)
    loop.rebalancedAt shouldBe empty
    loop.censusStats shouldBe empty
    // the next boundary measures against the RETRAINED state's census:
    // its total must be the live corpus count, not a stale base
    loop.processBatch(retrainBatch(Seq((9L, Seq(0.1f, 0.1f), "added"))), 1L)
    loop.censusStats.map(_.batchId) shouldBe Seq(1L)
    loop.censusStats.head.total shouldBe 7L // 6 initial + 1 added
  }

  test("norm-collapse RECOVERY (s41): the flagged boundary retrains normalized, redelivery re-decides, and later boundaries maintain in the normalized space") {
    // the tripwire's named action executed: boundary 1's collapse flags
    // the envelope AND (recover = true) re-trains both stages on the
    // fixed-point-NORMALIZED post-delta corpus, re-encoding everything;
    // the mode persists in the norm lineage, so a redelivered recovery
    // boundary re-decides from disk and boundary 2's delta encodes
    // normalized under the recovery codebooks.
    val S = graft.operators.Similarity
    // no zero vector: minN2 = 0 would flag the baseline itself
    val corpus = Seq(
      (1L, Seq(1.0f, 1.0f)), (2L, Seq(0.75f, 0.5f)),
      (3L, Seq(1.0f, 1.0f)), (4L, Seq(0.75f, 0.5f)),
      (5L, Seq(0.75f, 0.5f))).toDF("vec_id", "embedding")
    val init = S.ivfPqEncodeFixedPoint(corpus, rebCb, rebPq)
      .localCheckpoint()
    val root = java.nio.file.Files
      .createTempDirectory("graft_norm_recover").toString
    def newLoop() = ContinuousIndexMaintenance.ivfPqRetrainLoop(spark,
      corpus, init, rebCb, rebPq, 2, 3, 1, 2, 1, 1, 1000000L,
      "vec_id", "embedding", root,
      normPolicy = Some(S.NormPolicy(8L, 1L, recover = true)))
    val b0 = retrainBatch(Seq((6L, Seq(0.9f, 0.8f), "added")))
    val b1 = retrainBatch(Seq(
      (7L, Seq(0.75f / 64, 0.5f / 64), "added")))
    val b2 = retrainBatch(Seq((2L, Seq(-0.75f, -0.5f), "changed")))
    val first = newLoop()
    first.processBatch(b0, 0L) // natural scale: widens, no flag
    first.normFlaggedAt shouldBe empty
    first.normRecoveredAt shouldBe empty
    first.processBatch(b1, 1L) // the collapse: flag + RECOVERY…
    first.normFlaggedAt shouldBe Seq(1L)
    first.normRecoveredAt shouldBe Seq(1L)
    first.retrainedAt shouldBe empty // recovery is its own event
    val firstRows = ivfPqRows(first.result.state)
    // …which went UNCOMMITTED: restart redelivers boundary 1 and the
    // decision + normalized retrain replay identically from disk
    val restarted = newLoop()
    restarted.processBatch(b1, 1L)
    restarted.normRecoveredAt shouldBe Seq(1L)
    ivfPqRows(restarted.result.state) shouldBe firstRows
    // boundary 2 maintains DELTA-ONLY in the normalized space: the
    // drained index ≡ the normalized FINAL corpus encoded under the
    // codebooks the recovery trained on the normalized BOUNDARY-1
    // corpus (the s27 endpoint theorem, in the recovery's space)
    restarted.processBatch(b2, 2L)
    restarted.normRecoveredAt shouldBe Seq(1L) // fires at most once
    val mid = Seq(
      (1L, Seq(1.0f, 1.0f)), (2L, Seq(0.75f, 0.5f)),
      (3L, Seq(1.0f, 1.0f)), (4L, Seq(0.75f, 0.5f)),
      (5L, Seq(0.75f, 0.5f)), (6L, Seq(0.9f, 0.8f)),
      (7L, Seq(0.75f / 64, 0.5f / 64))).toDF("vec_id", "embedding")
    val fin = Seq(
      (1L, Seq(1.0f, 1.0f)), (2L, Seq(-0.75f, -0.5f)),
      (3L, Seq(1.0f, 1.0f)), (4L, Seq(0.75f, 0.5f)),
      (5L, Seq(0.75f, 0.5f)), (6L, Seq(0.9f, 0.8f)),
      (7L, Seq(0.75f / 64, 0.5f / 64))).toDF("vec_id", "embedding")
    val (cbR, pqR) = S.ivfPqTrainFixedPoint(
      S.l2NormalizeFixedPoint(mid), dim = 2, nLists = 3, m = 1,
      codebookSize = 2, maxIterCoarse = 1, maxIterPq = 1, scale = 1L)
    ivfPqRows(restarted.result.state) shouldBe
      ivfPqRows(S.ivfPqEncodeFixedPoint(
        S.l2NormalizeFixedPoint(fin), cbR, pqR, 1L))
  }

  test("post-recovery census cut runs in the NORMALIZED encode space") {
    // after an s41 recovery the stored codes/codebooks live in the
    // normalized space — a later census cut must re-encode split
    // members against the NORMALIZED corpus at scale 1 (a raw-corpus
    // cut would silently corrupt every split member's codes; r17
    // self-review pin).
    val S = graft.operators.Similarity
    // norms within the 8/1 bar (ratio ≤ 3.9) and lists balanced under
    // rebCb, so neither the tripwire nor the census fires early
    val corpus = Seq(
      (1L, Seq(1.0f, 1.0f)), (2L, Seq(0.3f, 0.2f)),
      (3L, Seq(1.0f, 1.0f)), (4L, Seq(0.3f, 0.2f)),
      (5L, Seq(-0.75f, -0.5f))).toDF("vec_id", "embedding")
    val init = S.ivfPqEncodeFixedPoint(corpus, rebCb, rebPq)
      .localCheckpoint()
    val root = java.nio.file.Files
      .createTempDirectory("graft_norm_recover_cut").toString
    val pol = S.RebalancePolicy(2L, 1L)
    val loop = ContinuousIndexMaintenance.ivfPqRetrainLoop(spark,
      corpus, init, rebCb, rebPq, 2, 3, 1, 2, 1, 1, 1000000L,
      "vec_id", "embedding", root,
      rebalancePolicy = Some(pol),
      normPolicy = Some(S.NormPolicy(8L, 1L, recover = true)))
    loop.processBatch(retrainBatch(Seq((6L, Seq(0.9f, 0.8f), "added"))), 0L)
    loop.rebalancedAt shouldBe empty
    loop.processBatch(retrainBatch(Seq(
      (7L, Seq(0.75f / 64, 0.5f / 64), "added"))), 1L)
    loop.normRecoveredAt shouldBe Seq(1L) // the recovery boundary
    loop.rebalancedAt shouldBe empty
    // a hot clump of near-(1,1) DIRECTIONS lands in one normalized
    // list and crosses the 2/1 bar → the cut fires at boundary 2
    val b2 = Seq(
      (8L, Seq(0.9f, 0.9f)), (9L, Seq(0.95f, 0.85f)),
      (10L, Seq(1.0f, 0.9f)), (11L, Seq(0.9f, 1.0f)),
      (12L, Seq(0.95f, 0.95f)), (13L, Seq(1.0f, 1.0f)))
    loop.processBatch(retrainBatch(b2.map { case (i, v) =>
      (java.lang.Long.valueOf(i), v, "added") }), 2L)
    loop.rebalancedAt shouldBe Seq(2L)
    // drained ≡ the offline composition IN THE NORMALIZED SPACE:
    // recovery codebooks from the normalized post-b1 corpus, b2's
    // delta encoded under them, then the one-shot cut over the
    // normalized final corpus at scale 1
    val mid = corpus.unionByName(Seq(
        (6L, Seq(0.9f, 0.8f)), (7L, Seq(0.75f / 64, 0.5f / 64)))
      .toDF("vec_id", "embedding"))
    val fin = mid.unionByName(b2.toDF("vec_id", "embedding"))
    val midN = S.l2NormalizeFixedPoint(mid).localCheckpoint()
    val finN = S.l2NormalizeFixedPoint(fin)
      .select(col("vec_id").as("id"), col("embedding")).localCheckpoint()
    val (cbR, pqR) = S.ivfPqTrainFixedPoint(midN, dim = 2, nLists = 3,
      m = 1, codebookSize = 2, maxIterCoarse = 1, maxIterPq = 1,
      scale = 1L)
    val upserted = S.ivfPqEncodeFixedPoint(finN, cbR, pqR, 1L,
      idCol = "id")
    val (rebIdx, cbExp, _) = S.rebalanceIvfPqMovement(upserted, finN,
      cbR, pqR, pol, 1L, idCol = "id")
    cbExp.length should be > cbR.length
    ivfPqRows(loop.result.state) shouldBe ivfPqRows(rebIdx)
  }

  // ---- r17: O(delta) lineage — compaction, vacuum, byte-compat, s3a ----

  private def lineageNames(dir: String): Set[String] = {
    val f = new java.io.File(dir)
    f.listFiles().map(_.getName)
      .filter(n => n.matches("^v\\d+$") || n.matches("^d\\d+$")).toSet
  }

  /** Rewrite byte-compatibility proxy: the part-file names embed the
    * writer's job UUID (necessarily fresh per attempt), so the stable
    * signature is the sorted data-file SIZE profile + the logical rows
    * (asserted separately by the callers).
    */
  private def sizeProfile(dir: String): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(java.nio.file.Files.size(_)).toSeq.sorted
    finally s.close()
  }

  test("a redelivered DELTA boundary rewrites the same d<k> artifact byte-compatibly") {
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cim_delta_redeliver").toString
    val init = Dedup.minhashIndexState(df(v1), "text", "doc_id")
      .localCheckpoint()
    def newLoop() = ContinuousIndexMaintenance.minhashLoop(spark, init,
      "text", "doc_id", 32, 8, 3, stateDir)
    val batch = diffRows.toDF("doc_id", "text", "status")
    val first = newLoop()
    first.processBatch(batch, 0L) // delta d0; commit is then lost
    lineageNames(stateDir) shouldBe Set("d0")
    val before = sizeProfile(s"$stateDir/d0")
    val rowsBefore = spark.read.parquet(s"$stateDir/d0").collect().toSet
    val restarted = newLoop() // fresh memory, same chain
    restarted.processBatch(batch, 0L) // redelivery overwrites d0
    lineageNames(stateDir) shouldBe Set("d0")
    sizeProfile(s"$stateDir/d0") shouldBe before
    spark.read.parquet(s"$stateDir/d0").collect().toSet shouldBe rowsBefore
    idx(restarted.result.state) shouldBe
      idx(Dedup.minhashIndexState(df(v2), "text", "doc_id"))
  }

  test("restart ACROSS a compaction boundary: the compact-or-delta decision re-decides from disk and the drained state equals the rebuild") {
    // compactEvery = 2: boundary 0 is a delta, boundary 1 a base. The
    // crash loses boundary 1's commit; the restarted loop must re-read
    // the chain (d0 on disk → 1 trailing delta → COMPACT), rewrite v1
    // byte-compatibly, and keep serving the rebuild-equivalent state.
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cim_compact_restart").toString
    val init = Dedup.minhashIndexState(df(v1), "text", "doc_id")
      .localCheckpoint()
    val pol = ContinuousIndexMaintenance.LineagePolicy(compactEvery = 2)
    def newLoop() = ContinuousIndexMaintenance.minhashLoop(spark, init,
      "text", "doc_id", 32, 8, 3, stateDir, pol)
    val b0 = Seq(diffRows.head).toDF("doc_id", "text", "status")
    val b1 = diffRows.drop(1).toDF("doc_id", "text", "status")
    val first = newLoop()
    first.processBatch(b0, 0L)
    lineageNames(stateDir) shouldBe Set("d0")
    first.processBatch(b1, 1L) // compaction... uncommitted
    lineageNames(stateDir) shouldBe Set("d0", "v1")
    val before = sizeProfile(s"$stateDir/v1")
    val rowsBefore = spark.read.parquet(s"$stateDir/v1").collect().toSet
    val restarted = newLoop()
    restarted.processBatch(b1, 1L) // re-decides COMPACT from disk
    lineageNames(stateDir) shouldBe Set("d0", "v1")
    sizeProfile(s"$stateDir/v1") shouldBe before
    spark.read.parquet(s"$stateDir/v1").collect().toSet shouldBe rowsBefore
    idx(restarted.result.state) shouldBe
      idx(Dedup.minhashIndexState(df(v2), "text", "doc_id"))
  }

  test("vacuum retires superseded chains and the vacuumed root still serves and resumes") {
    // compactEvery = 2 over five boundaries walks: d0 → +v1 → d2 (d0
    // vacuumed) → +v3 → d4 (v1, d2 vacuumed). The retained set is
    // exactly the redelivery chain of the NEXT boundary; the drained
    // state still equals the one-shot rebuild, and a restarted loop
    // over the vacuumed root serves it unchanged.
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cim_vacuum").toString
    val init = Dedup.minhashIndexState(df(v1), "text", "doc_id")
      .localCheckpoint()
    val pol = ContinuousIndexMaintenance.LineagePolicy(compactEvery = 2)
    def newLoop() = ContinuousIndexMaintenance.minhashLoop(spark, init,
      "text", "doc_id", 32, 8, 3, stateDir, pol)
    val loop = newLoop()
    val steps = Seq(
      Seq((2L, "intermediate text version here", "changed")),
      Seq((3L, null.asInstanceOf[String], "removed")),
      Seq((2L, "one two three four five seven", "changed")),
      Seq((5L, "new doc body arrives here now", "added")),
      Seq((6L, "late extra document lands last", "added")))
    steps.zipWithIndex.foreach { case (rows, i) =>
      loop.processBatch(rows.toDF("doc_id", "text", "status"), i.toLong)
    }
    lineageNames(stateDir) shouldBe Set("v3", "d4")
    val v2plus = v2 :+ (6L, "late extra document lands last")
    idx(loop.result.state) shouldBe
      idx(Dedup.minhashIndexState(df(v2plus), "text", "doc_id"))
    // restart over the vacuumed root with nothing to redeliver: the
    // served state is the on-disk chain, not a re-baseline
    idx(newLoop().result.state) shouldBe
      idx(Dedup.minhashIndexState(df(v2plus), "text", "doc_id"))
  }

  test("the loop lineage runs unchanged against a registry-resolved s3a:// root") {
    // r16 verdict #4: the lineage speaks the Hadoop FS API, so the
    // same stub FileSystem the S3A contract spec registers serves the
    // loop's create/list/compose/vacuum seams — nothing engine-side
    // knows the scheme.
    spark.sparkContext.hadoopConfiguration.set(
      "fs.s3a.impl", classOf[graft.sources.S3AStubFileSystem].getName)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_cim_s3a")
    val stateDir = s"s3a://graft-test$tmp/state"
    val init = Dedup.minhashIndexState(df(v1), "text", "doc_id")
      .localCheckpoint()
    val pol = ContinuousIndexMaintenance.LineagePolicy(compactEvery = 2)
    val loop = ContinuousIndexMaintenance.minhashLoop(spark, init,
      "text", "doc_id", 32, 8, 3, stateDir, pol)
    val b0 = Seq(diffRows.head).toDF("doc_id", "text", "status")
    val b1 = diffRows.drop(1).toDF("doc_id", "text", "status")
    loop.processBatch(b0, 0L) // delta write over s3a
    loop.processBatch(b1, 1L) // compaction + (no-op) vacuum over s3a
    new java.io.File(s"$tmp/state/v1").isDirectory shouldBe true
    idx(loop.result.state) shouldBe
      idx(Dedup.minhashIndexState(df(v2), "text", "doc_id"))
  }

  test("normEnvelope: all-empty vectors widen to (0, 0); only a truly empty frame is None (r18)") {
    // r17 fused the envelope into one aggregate; the r17 advice found
    // the fused None-gate keyed on the magnitude bound (null for empty
    // arrays) where the pre-fusion two-pass shape returned Some((0, 0))
    // — the tripwire must widen to zero norms, not keep a stale base
    import graft.operators.Similarity
    val empties = Seq((1L, Seq.empty[Double]), (2L, Seq.empty[Double]))
      .toDF("vec_id", "embedding")
    Similarity.normEnvelope(empties) shouldBe Some((0L, 0L))
    val none = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    Similarity.normEnvelope(none) shouldBe None
    // mixed: the empty row contributes its zero norm to the min
    val mixed = Seq((1L, Seq.empty[Double]), (2L, Seq(3.0, 4.0)))
      .toDF("vec_id", "embedding")
    Similarity.normEnvelope(mixed, scale = 1L) shouldBe Some((0L, 25L))
  }

  // ---- one retrain boundary for both quantizer families ----

  private def familyLoop(family: String, root: String) =
    if (family == "assign")
      ContinuousIndexMaintenance.assignRetrainLoop(spark, rebCorpus,
        graft.operators.Similarity.assignFixedPoint(rebCorpus, rebCb)
          .localCheckpoint(),
        rebCb, 3, 1, 1000000L, "vec_id", "embedding", root)
    else
      ContinuousIndexMaintenance.ivfPqRetrainLoop(spark, rebCorpus,
        graft.operators.Similarity.ivfPqEncodeFixedPoint(rebCorpus, rebCb,
          rebPq).localCheckpoint(),
        rebCb, rebPq, 2, 3, 1, 2, 1, 1, 1000000L, "vec_id", "embedding", root)

  for (family <- Seq("assign", "ivfpq"))
    test(s"$family retrain loop: a batch with duplicate ids fails loudly, naming the batch and the id") {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_dup_$family").toString
      // a marker row rides along: markers never count toward the guard
      val dupBatch = retrainBatch(Seq(
        (77L, Seq(0.1f, 0.1f), "added"),
        (77L, Seq(0.2f, 0.2f), "added"),
        (null.asInstanceOf[java.lang.Long], null, "retrain")))
      val e = the[IllegalArgumentException] thrownBy
        familyLoop(family, root).processBatch(dupBatch, 3L)
      e.getMessage should include("duplicate")
      e.getMessage should include("batch 3")
      e.getMessage should include("[77,2]") // (id, rows) example
    }

  test("continuousAssignmentsWithRetrain rejects NormPolicy(recover = true) instead of never recovering") {
    // only the IVF-PQ family has a normalized encode space to recover
    // into; the assignment loop must not accept the flag and ignore it
    val S = graft.operators.Similarity
    val src = java.nio.file.Files
      .createTempDirectory("graft_recover_reject").toString
    val stream = spark.readStream.schema(retrainBatch(Nil).schema)
      .parquet(src)
    val e = the[IllegalArgumentException] thrownBy
      ContinuousIndexMaintenance.continuousAssignmentsWithRetrain(spark,
        rebCorpus, S.assignFixedPoint(rebCorpus, rebCb), rebCb, stream,
        k = 3, maxIter = 1,
        normPolicy = Some(S.NormPolicy(8L, 1L, recover = true)))
    e.getMessage should include("continuousAssignmentsWithRetrain")
    e.getMessage should include("recover = true")
    e.getMessage should include("continuousIvfPqWithRetrain")
  }

  test("torn assignment boundary: a crash right after the norm write redelivers into the uninterrupted run's state, census and codebook") {
    // norm is every retrain boundary's FIRST write; all artifacts
    // resolve strictly below the batch id, so a boundary torn right
    // after it must redeliver exactly as if it had never started
    val S = graft.operators.Similarity
    val init = S.assignFixedPoint(rebCorpus, rebCb).localCheckpoint()
    def newLoop(root: String) = ContinuousIndexMaintenance.assignRetrainLoop(
      spark, rebCorpus, init, rebCb, 3, 1, 1000000L, "vec_id", "embedding",
      root, driftPolicy = Some(S.DriftPolicy(3L, 5L)),
      rebalancePolicy = Some(S.RebalancePolicy(5L, 2L)),
      normPolicy = Some(S.NormPolicy(8L, 1L)))
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    def rm(x: java.io.File): Unit = {
      if (x.isDirectory) x.listFiles().foreach(rm); x.delete(); () }
    val b0 = retrainBatch(Seq((9L, Seq(0.1f, 0.1f), "added")))
    // five hot additions: c1 holds 10 of 12 ≥ 5/2 · avg — the cut
    // versions a codebook, a full state base and a census
    val b1 = retrainBatch((20L until 25L).map(i =>
      (java.lang.Long.valueOf(i), Seq(0.75f, 0.5f), "added")))
    val cleanRoot = tmp("graft_torn_clean")
    val clean = newLoop(cleanRoot)
    clean.processBatch(b0, 0L)
    clean.processBatch(b1, 1L)
    clean.rebalancedAt shouldBe Seq(1L)
    val tornRoot = tmp("graft_torn")
    val torn = newLoop(tornRoot)
    torn.processBatch(b0, 0L)
    torn.processBatch(b1, 1L)
    // tear boundary 1: delete every artifact it wrote except norm/v1
    val wrote = for {
      d <- Seq("corpus", "assign", "cb", "census", "norm")
      a <- Seq("v1", "d1") if new java.io.File(s"$tornRoot/$d/$a").exists
    } yield s"$d/$a"
    wrote should contain allOf ("norm/v1", "cb/v1", "assign/v1", "census/v1")
    wrote.filterNot(_ == "norm/v1")
      .foreach(a => rm(new java.io.File(s"$tornRoot/$a")))
    val redelivered = newLoop(tornRoot) // fresh memory, same root
    redelivered.processBatch(b1, 1L)
    redelivered.rebalancedAt shouldBe Seq(1L)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs(redelivered.result.state) shouldBe pairs(clean.result.state)
    def rows(root: String, a: String) =
      spark.read.parquet(s"$root/$a").collect().map(_.toSeq).toSet
    rows(tornRoot, "census/v1") shouldBe rows(cleanRoot, "census/v1")
    rows(tornRoot, "cb/v1") shouldBe rows(cleanRoot, "cb/v1")
  }
}
