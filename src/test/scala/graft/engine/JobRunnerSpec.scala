package graft.engine

import graft.SparkSpec
import graft.api._
import graft.model._
import java.nio.file.Files
import java.time.Instant
import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

/** End-to-end slice of SURVEY §7.2: validate → planTasks → fetch → write →
  * persist → report, asserting the reference's observable behavior
  * (record counts, storage keys, validation gates, unsafe fencing).
  */
class JobRunnerSpec extends SparkSpec {

  private def freshRunner(): (JobRunner, StorageLayout) = {
    val tmp = Files.createTempDirectory("graft-test").toString
    val lay = StorageLayout(tmp)
    (new JobRunner(spark, lay), lay)
  }

  private def job(name: String) = IngestionJob(
    IngestionSource(name), UUID.randomUUID(),
    startedAt = Instant.parse("2026-08-12T00:00:00Z"))

  test("O1 validate: stub integration is valid with fingerprinted schema") {
    val (runner, _) = freshRunner()
    val rep = runner.validate(new Stubs.StubStructured)
    rep.isValid shouldBe true
    rep.schemaFingerprint.get should fullyMatch regex "[0-9a-f]{32}"
    rep.isRawData shouldBe false
    rep.persistingSemantics shouldBe PersistingSemantics.Safe
  }

  test("O1 validate: broken schema collects structured errors, does not throw") {
    val (runner, _) = freshRunner()
    val rep = runner.validate(new Stubs.BrokenSchema)
    rep.isValid shouldBe false
    rep.errors should not be empty
  }

  test("processed-kind e2e: exactly 1 record, reference storage keys (ProcessedDataTest.scala:17-57)") {
    val (runner, lay) = freshRunner()
    val j = job("Test Integration")
    val result = runner.run(new Stubs.StubStructured, j)
    val res = result.toOption.get
    res.taskCount shouldBe 1
    res.recordCount shouldBe 1L
    res.perTask shouldBe Map(0 -> 1L)
    val recDir = new java.io.File(s"${lay.jobRoot(j)}/records/task-0")
    recDir.exists shouldBe true
    val persisted = spark.read.parquet(s"${lay.jobRoot(j)}/persisted")
    persisted.count() shouldBe 1
    val row = persisted.select("name", "valueOne", "valueTwo").head()
    (row.getString(0), row.getInt(1), row.getLong(2)) shouldBe (("Name Value", 1, 2L))
  }

  test("raw-kind e2e: 'hello' raw file lands gzipped at the reference key, 1 record (RawDataTest.scala:16-55)") {
    val (runner, lay) = freshRunner()
    val j = job("Raw Test Integration")
    val res = runner.run(new Stubs.StubRaw, j).toOption.get
    res.recordCount shouldBe 1L
    val rawPath = new java.io.File(lay.rawFile(j, 0, 0))
    rawPath.exists shouldBe true
    val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(rawPath))
    new String(in.readAllBytes(), "UTF-8") shouldBe "hello"
    in.close()
  }

  test("multi-task fan-out: per-task counts and partition-per-task parallelism") {
    val (runner, lay) = freshRunner()
    val j = job("FanOut")
    val res = runner.run(new Stubs.FanOut(4, 25), j).toOption.get
    res.taskCount shouldBe 4
    res.recordCount shouldBe 100L
    res.perTask shouldBe (0 until 4).map(_ -> 25L).toMap
    (0 until 4).foreach { t =>
      new java.io.File(s"${lay.jobRoot(j)}/records/task-$t").exists shouldBe true
    }
  }

  test("O6 ForeachSink runs once per task partition") {
    val (runner, _) = freshRunner()
    val j = job("FanOut")
    val counter = JobRunnerSpec.persistCalls
    counter.set(0)
    val res = runner.run(new Stubs.FanOut(3, 5), j,
      ForeachSink((_, rows) => { rows.size; JobRunnerSpec.persistCalls.incrementAndGet(); () }))
    res.isRight shouldBe true
    counter.get shouldBe 3
  }

  test("O6 Unsafe fence: second persist attempt is skipped (at-most-once, TaskFSM.scala:102-115)") {
    val (runner, lay) = freshRunner()
    val j = job("Unsafe")
    val integ = new Stubs.FanOut(2, 5) {
      override def name = "Unsafe"
      override def persistingSemantics: PersistingSemantics = PersistingSemantics.Unsafe
    }
    JobRunnerSpec.persistCalls.set(0)
    val sink = ForeachSink((_, rows) => { rows.size; JobRunnerSpec.persistCalls.incrementAndGet(); () })
    runner.run(integ, j, sink).isRight shouldBe true
    JobRunnerSpec.persistCalls.get shouldBe 2
    // run the persist stage again against the same fence dir: all skipped
    runner.persist(integ, j, runner.readRecords(integ, j), sink)
    JobRunnerSpec.persistCalls.get shouldBe 2
  }

  test("manifest carries true per-task avro file size + MD5; corruption fails the checksummed read") {
    val (runner, lay) = freshRunner()
    val j = job("FanOut")
    val integ = new Stubs.FanOut(2, 10)
    val recs = runner.records(integ, j, runner.planTasks(integ, j))
    val manifest = runner.writeRecords(j, recs).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))).toMap
    manifest.keySet shouldBe Set(0, 1)
    manifest.foreach { case (t, (count, size, md5, file)) =>
      count shouldBe 10L
      file shouldBe lay.recordsFile(j, t)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
      bytes.length.toLong shouldBe size
      java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString shouldBe md5
    }
    // verified read succeeds; a manifest/file digest disagreement must fail
    val md5s = manifest.map { case (t, (_, _, m, _)) => t -> m }
    runner.readRecords(integ, j, Some(md5s)).count() shouldBe 20L
    val bad = md5s.updated(0, "0" * 32)
    val err = intercept[org.apache.spark.SparkException] {
      runner.readRecords(integ, j, Some(bad)).count()
    }
    JobRunner.rootSparkCause(err).getMessage should include("checksum mismatch")
  }

  test("a manifest task whose record file is gone fails the read instead of vanishing from it") {
    val (runner, lay) = freshRunner()
    val j = job("FanOut")
    val integ = new Stubs.FanOut(2, 10)
    val md5s = runner.writeRecords(j, runner.records(integ, j, runner.planTasks(integ, j)))
      .collect().map(r => r.getInt(0) -> r.getString(3)).toMap
    Files.delete(java.nio.file.Paths.get(lay.recordsFile(j, 1)))
    val err = intercept[org.apache.spark.SparkException] {
      runner.readRecords(integ, j, Some(md5s)).count()
    }
    JobRunner.rootSparkCause(err) shouldBe a[java.io.FileNotFoundException]
  }

  test("a stale task file left by an earlier, larger run of the same job is not persisted") {
    val (runner, lay) = freshRunner()
    val j = job("FanOut") // fixed job id across both runs
    runner.run(new Stubs.FanOut(3, 7), j).isRight shouldBe true
    val res = runner.run(new Stubs.FanOut(2, 7), j).toOption.get
    res.recordCount shouldBe 14L
    new java.io.File(lay.recordsFile(j, 2)).exists shouldBe true // stale, unread
    spark.read.parquet(s"${lay.jobRoot(j)}/persisted").count() shouldBe 14L
  }

  test("ForeachSink fails a persist whose task rows are not contiguous in their partition") {
    val (runner, _) = freshRunner()
    val j = job("FanOut")
    import org.apache.spark.sql.{Row => SRow}
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val integ = new Stubs.FanOut(2, 1)
    val schema = StructType(integ.schema.structType.fields :+
      StructField("task_number", IntegerType, nullable = false))
    val interleaved = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      SRow("a", 0, 0L, 0), SRow("b", 1, 0L, 1), SRow("c", 0, 1L, 0)), 1), schema)
    val err = intercept[org.apache.spark.SparkException] {
      runner.persist(integ, j, interleaved, ForeachSink((_, rows) => { rows.size; () }))
    }
    JobRunner.rootSparkCause(err).getMessage should include("not contiguous")
  }

  test("re-running the SAME job is idempotent end to end (retry-by-requeue contract)") {
    val (runner, lay) = freshRunner()
    val j = job("FanOut") // fixed job id across both runs
    val integ = new Stubs.FanOut(3, 7)
    val r1 = runner.run(integ, j).toOption.get
    val r2 = runner.run(integ, j).toOption.get
    r2.recordCount shouldBe r1.recordCount
    r2.perTask shouldBe r1.perTask
    // the persisted table holds ONE run's rows, not an append of both
    spark.read.parquet(s"${lay.jobRoot(j)}/persisted").count() shouldBe 21L
    // record files were rewritten in place (one avro file per task)
    (0 until 3).foreach { t =>
      new java.io.File(lay.recordsDir(j, t)).listFiles()
        .count(_.getName.endsWith(".avro")) shouldBe 1
    }
  }

  test("status updates: progress callback fires as Spark tasks complete") {
    val (runner, _) = freshRunner()
    val j = job("FanOut")
    val seen = new java.util.concurrent.atomic.AtomicLong()
    runner.run(new Stubs.FanOut(4, 5), j,
      onProgress = n => seen.updateAndGet(m => math.max(m, n)))
      .isRight shouldBe true
    // the listener bus is async — allow the tail events to drain
    val deadline = System.currentTimeMillis() + 5000
    while (seen.get() < 4 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    seen.get() should be >= 4L // at least the four per-task fetch tasks
  }

  test("execution log lands at the layout's log key, success and failure") {
    val (runner, lay) = freshRunner()
    val j = job("FanOut")
    runner.run(new Stubs.FanOut(2, 3), j).isRight shouldBe true
    val logDir = new java.io.File(s"${lay.jobRoot(j)}/log")
    val logs = logDir.listFiles().filter(_.getName.endsWith(".out"))
    logs.length shouldBe 1
    val content = new String(java.nio.file.Files.readAllBytes(logs.head.toPath), "UTF-8")
    content should include("planTasks n=2")
    content should include("persist ok")

    val j2 = job("Failing")
    val failing = new Stubs.FanOut(1, 1) {
      override def name = "Failing"
      override def fetchStructured(task: graft.model.TaskSpec): Iterator[Row] =
        throw new IllegalStateException("boom")
    }
    runner.run(failing, j2).isLeft shouldBe true
    val logs2 = new java.io.File(s"${lay.jobRoot(j2)}/log").listFiles()
      .filter(_.getName.endsWith(".out")) // skip Hadoop's .crc sidecars
    logs2.length shouldBe 1
    new String(java.nio.file.Files.readAllBytes(logs2.head.toPath), "UTF-8") should
      include("failed")
  }

  test("O7 completion hook fires with the planned tasks (HandleJobCompletedOperation.java:20-28)") {
    val (runner, _) = freshRunner()
    val j = job("Hooked")
    var seen: Option[Int] = None
    val integ = new Stubs.FanOut(2, 1) {
      override def name = "Hooked"
      override def onJobCompleted(at: Instant, jb: IngestionJob, tasks: Seq[TaskSpec]): Unit =
        seen = Some(tasks.size)
    }
    runner.run(integ, j).isRight shouldBe true
    seen shouldBe Some(2)
  }

  test("O8 failure mapping: executor-side user exception becomes a structured report") {
    val (runner, _) = freshRunner()
    val j = job("Failing")
    val integ = new Stubs.FanOut(1, 1) {
      override def name = "Failing"
      override def fetchStructured(task: TaskSpec): Iterator[Row] =
        throw new IllegalStateException("fetch exploded")
    }
    val Left(report) = runner.run(integ, j): @unchecked
    report.summaryLines.mkString("\n") should include("fetch exploded")
  }

  test("a job for another source is rejected, naming both") {
    val (runner, _) = freshRunner()
    val Left(report) = runner.run(new Stubs.FanOut(1, 1), job("Other Source")): @unchecked
    report.message should include("'Other Source'")
    report.message should include("'FanOut'")
  }

  test("planTasks rejects duplicate task numbers, naming them") {
    val (runner, _) = freshRunner()
    val integ = new Stubs.FanOut(1, 3) {
      override def planTasks(jb: IngestionJob): Seq[TaskSpec] =
        Seq(0, 1, 1, 2, 2).map(i => TaskSpec(jb.id.toString, jb.source.name, i))
    }
    val Left(report) = runner.run(integ, job("FanOut")): @unchecked
    report.message should include("duplicate task number(s) 1,2")
  }

  test("a fetch that fails mid-task leaves no partial record file") {
    val (runner, lay) = freshRunner()
    val j = job("FanOut")
    val integ = new Stubs.FanOut(1, 3) {
      override def fetchStructured(task: TaskSpec): Iterator[Row] =
        super.fetchStructured(task) ++ Iterator(1).map[Row](_ =>
          throw new IllegalStateException("fetch broke after 3 rows"))
    }
    val Left(report) = runner.run(integ, j): @unchecked
    report.summaryLines.mkString("\n") should include("fetch broke after 3 rows")
    new java.io.File(lay.recordsFile(j, 0)).exists shouldBe false
  }

  type Row = org.apache.spark.sql.Row
}

object JobRunnerSpec {
  // static so the counter survives closure serialization in local mode
  val persistCalls = new AtomicInteger(0)
}
