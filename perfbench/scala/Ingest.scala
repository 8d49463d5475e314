package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardOpenOption}
import java.time.Instant
import java.util.concurrent.TimeUnit
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import graft.api._
import graft.engine.JobRunner
import graft.model._
import graft.sched.{JobScheduler, ResourcePool}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.Await
import scala.concurrent.duration.{Duration => SDuration}
import scala.util.Random

/** The benchmark's own integrations: TestRecord rows plus a payload,
  * generated per task from the job's seed (so the checker can recompute
  * every row). The job's parameters carry its seed and per-task row
  * counts.
  */
object IngestStubs {
  val schemaJson: String =
    """{"type":"record","name":"TestRecord","namespace":"io.ingestion.worker.api.data",
      |"fields":[
      |  {"name":"name","type":"string"},
      |  {"name":"valueOne","type":["int","null"]},
      |  {"name":"valueTwo","type":["long","null"]},
      |  {"name":"payload","type":"string"}]}""".stripMargin
  val schema: IntegrationSchema = IntegrationSchema.fromJson(schemaJson)

  def tasksOf(job: IngestionJob): Seq[TaskSpec] =
    job.parameters("rows").split(",").toSeq.zipWithIndex.map { case (n, t) =>
      TaskSpec(job.id.toString, job.source.name, t,
        Map("rows" -> n, "seed" -> job.parameters("seed"),
          "pmin" -> job.parameters("pmin"), "pmax" -> job.parameters("pmax")))
    }

  def records(task: TaskSpec): Iterator[(String, Integer, java.lang.Long, String)] =
    Gen.taskRecords(task.taskArguments("seed").toLong, task.taskNumber,
      task.taskArguments("rows").toInt, task.taskArguments("pmin").toInt,
      task.taskArguments("pmax").toInt)

  private def semantics(unsafe: Boolean) =
    if (unsafe) PersistingSemantics.Unsafe else PersistingSemantics.Safe

  class Structured(val name: String, unsafe: Boolean) extends StructuredIntegration {
    def schema: IntegrationSchema = IngestStubs.schema
    override def persistingSemantics: PersistingSemantics = semantics(unsafe)
    def planTasks(job: IngestionJob): Seq[TaskSpec] = tasksOf(job)
    def fetchStructured(task: TaskSpec): Iterator[Row] =
      records(task).map { case (a, b, c, d) => Row(a, b, c, d) }
  }

  /** Raw kind: one gzip file of tab-separated lines per task. */
  class Raw(val name: String, unsafe: Boolean) extends RawIntegration {
    def schema: IntegrationSchema = IngestStubs.schema
    override def persistingSemantics: PersistingSemantics = semantics(unsafe)
    def planTasks(job: IngestionJob): Seq[TaskSpec] = tasksOf(job)
    def fetchRaw(task: TaskSpec): Iterator[Array[Byte]] = {
      val bytes = new ByteArrayOutputStream()
      val gz = new GZIPOutputStream(bytes)
      records(task).foreach { case (a, b, c, d) =>
        gz.write(s"$a\t${if (b == null) "\\N" else b}\t${if (c == null) "\\N" else c}\t$d\n".getBytes(UTF_8))
      }
      gz.close()
      Iterator(bytes.toByteArray)
    }
    def parse(task: TaskSpec, raw: Array[Byte]): Iterator[Row] = {
      val text = new String(new GZIPInputStream(new ByteArrayInputStream(raw)).readAllBytes(), UTF_8)
      text.split("\n").iterator.filter(_.nonEmpty).map { line =>
        val f = line.split("\t", -1)
        Row(f(0), if (f(1) == "\\N") null else Integer.valueOf(f(1)),
          if (f(2) == "\\N") null else java.lang.Long.valueOf(f(2)), f(3))
      }
    }
  }

  /** An Unsafe user persister: writes each task's row digest to
    * `dir/task-N`, created exclusively, so a second persist of the same
    * task leaves a `.dup` file the checker counts.
    */
  def foreachSink(dir: String): ForeachSink = ForeachSink((task: Int, rows: Iterator[Row]) => {
    var d = Gen.EmptyDigest
    rows.foreach(r => d = d + Gen.hash64(
      Gen.recordKey(r.getString(0), r.get(1), r.get(2), r.getString(3))))
    val body = s"${d.count} ${d.sum}".getBytes(UTF_8)
    Files.createDirectories(Paths.get(dir))
    try Files.write(Paths.get(dir, s"task-$task"), body, StandardOpenOption.CREATE_NEW)
    catch {
      case _: FileAlreadyExistsException =>
        Files.write(Paths.get(dir, s"task-$task.dup-${java.util.UUID.randomUUID()}"), body)
    }
    ()
  })
}

/** `ingest`: hyppo's per-job dataflow, driven through the scheduler by
  * closed-loop clients. See perfbench/workloads.json for the mix.
  */
final class Ingest(spark: SparkSession, seed: Long, work: String, cores: Int) extends Workload {
  private val sz = Gen.IngestSizes(jobs = 100, largeJobs = 5, rawJobs = 33,
    unsafeJobs = 17, clients = 2, smallTasksMax = 2, smallRowsMax = 1000,
    largeTasks = cores, largeRowsMin = 10000, largeRowsMax = 30000,
    payloadMin = 8, payloadMax = 200)
  /** The warm round: half the timed round's mix, from another seed. */
  private val warmSz = sz.copy(jobs = sz.jobs / 2, largeJobs = (sz.largeJobs + 1) / 2,
    rawJobs = sz.rawJobs / 2, unsafeJobs = sz.unsafeJobs / 2)
  private val warmSeed = ~seed
  private val workerSlots = 2
  private val startedAt = Instant.parse("2026-01-01T00:00:00Z")
  def sizes: Seq[(String, Any)] = sz.productElementNames.zip(sz.productIterator).toSeq ++ Seq(
    "workerSlots" -> workerSlots, "warm_round" -> (s"${warmSz.jobs} jobs (${warmSz.largeJobs} large, " +
      s"${warmSz.rawJobs} raw, ${warmSz.unsafeJobs} Unsafe ForeachSink) from seed ~seed"))

  /** One warm round, discarded: the scheduler is a long-running service,
    * so classes are loaded and the hot paths compiled before anything is
    * timed.
    */
  val warmRounds = 1
  val roundS = 25.0

  private val integrations: Map[(Boolean, Boolean), Integration] = Map(
    (false, false) -> new IngestStubs.Structured("bench-structured", false),
    (false, true) -> new IngestStubs.Structured("bench-structured-unsafe", true),
    (true, false) -> new IngestStubs.Raw("bench-raw", false),
    (true, true) -> new IngestStubs.Raw("bench-raw-unsafe", true))

  private var plans: Seq[Gen.JobPlan] = Nil
  private var expected: Map[Int, (Map[Int, Long], Gen.Digest)] = Map.empty
  private var inputBytes = 0L

  private def jobOf(p: Gen.JobPlan): IngestionJob =
    IngestionJob(IngestionSource(integrations((p.raw, p.unsafe)).name), p.id,
      Map("rows" -> p.rows.mkString(","), "seed" -> p.seed.toString,
        "pmin" -> sz.payloadMin.toString, "pmax" -> sz.payloadMax.toString),
      startedAt)

  private def roundDir(r: Int) = s"$work/ingest/round-$r"
  private def layout(r: Int) = StorageLayout(s"${roundDir(r)}/storage")
  private def sinkDir(r: Int, p: Gen.JobPlan) = s"${roundDir(r)}/foreach/job-${p.id}"

  private def plansOf(round: Int): Seq[Gen.JobPlan] =
    if (round < warmRounds) Gen.ingestJobs(warmSeed, warmSz) else Gen.ingestJobs(seed, sz)

  def inputsDigest: String = {
    val ps = plansOf(0) ++ plansOf(warmRounds)
    Layers.digest(ps.map(_.toString) ++ ps.flatMap(p => p.rows.indices.flatMap(t =>
      Gen.taskRecords(p.seed, t, p.rows(t), sz.payloadMin, sz.payloadMax)
        .map(r => Gen.recordKey(r._1, r._2, r._3, r._4))))).toString
  }

  /** Generate the job mix and the expected per-task counts and digests. */
  def setup(round: Int): Unit = {
    Fs.rm(roundDir(round))
    plans = plansOf(round)
    var bytes = 0L
    expected = plans.map { p =>
      var d = Gen.EmptyDigest
      p.rows.indices.foreach { t =>
        Gen.taskRecords(p.seed, t, p.rows(t), sz.payloadMin, sz.payloadMax).foreach { rec =>
          d = d + Gen.hash64(Gen.recordKey(rec._1, rec._2, rec._3, rec._4))
          bytes += Gen.recordBytes(rec)
        }
      }
      p.index -> (p.rows.indices.map(t => t -> p.rows(t).toLong).toMap, d)
    }.toMap
    inputBytes = bytes
    new java.io.File(roundDir(round)).mkdirs()
  }

  def run(round: Int, tracer: Option[Tracer]): Round = {
    val runner = new JobRunner(spark, layout(round))
    val sched = new JobScheduler(spark, runner, new ResourcePool(Nil),
      workerSlots = workerSlots, random = new Random(seed))
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Either[FailureReport, JobRunner.JobResult]]()
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val t0 = Clock.nowMs
    val clients = (0 until sz.clients).map { c =>
      val t = new Thread(() => plans.filter(_.client == c).foreach { p =>
        val sink = if (p.unsafe) IngestStubs.foreachSink(sinkDir(round, p)) else TableSink()
        val s = Clock.nowMs
        val res = scala.util.Try(Await.result(
          sched.submit(integrations((p.raw, p.unsafe)), jobOf(p), sink),
          SDuration(150, TimeUnit.SECONDS))).toEither.left.map(FailureReport.fromThrowable(_)).flatten
        val e = Clock.nowMs
        results.put(p.index, res)
        ops.add(Op(p.id.toString, if (p.large) "large" else "small", s, e, res.isRight))
      }, s"perfbench-client-$c")
      t.start(); t
    }
    clients.foreach(_.join())
    val wall = (Clock.nowMs - t0) / 1e3
    sched.shutdown()
    val opSeq = scala.jdk.CollectionConverters.CollectionHasAsScala(ops).asScala.toSeq

    // ---- output checks (outside the timed region)
    val lay = layout(round)
    val failures = Seq.newBuilder[String]
    plans.foreach { p =>
      val (perTask, _) = expected(p.index)
      results.get(p.index) match {
        case Right(r) =>
          if (r.recordCount != p.records || r.perTask != perTask || r.taskCount != p.tasks)
            failures += s"job ${p.index}: JobResult counts differ from the generator's"
        case Left(f) => failures += s"job ${p.index} failed: ${f.summaryLines.mkString(" / ")}"
      }
    }
    var outputs = Gen.EmptyDigest
    val tablePlans = plans.filterNot(_.unsafe)
    val persisted = persistedDigests(tablePlans.map(p => s"${lay.jobRoot(jobOf(p))}/persisted"))
    outputs = persisted.values.foldLeft(outputs)(_ ++ _)
    tablePlans.foreach { p =>
      if (!persisted.get(p.id.toString).contains(expected(p.index)._2))
        failures += s"job ${p.index}: persisted rows digest differs from the generator's"
    }
    plans.filter(_.unsafe).foreach { p =>
      val dir = new java.io.File(sinkDir(round, p))
      val files = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
      val dups = files.count(_.getName.contains(".dup-"))
      val tasksSeen = files.map(_.getName).filter(_.startsWith("task-")).filterNot(_.contains(".dup-"))
      val got = files.filterNot(_.getName.contains(".dup-")).map { f =>
        val Array(n, s) = new String(Files.readAllBytes(f.toPath), UTF_8).trim.split(" ")
        Gen.Digest(n.toLong, s.toLong)
      }.foldLeft(Gen.EmptyDigest)(_ ++ _)
      if (dups > 0 || tasksSeen.size != p.tasks)
        failures += s"job ${p.index}: Unsafe ForeachSink tasks not persisted exactly once ($dups duplicates, ${tasksSeen.size}/${p.tasks} tasks)"
      outputs = outputs ++ got
      if (got != expected(p.index)._2)
        failures += s"job ${p.index}: ForeachSink rows digest differs from the generator's"
    }
    val retained = Fs.bytes(s"${roundDir(round)}/storage")
    tracer.foreach(_ => lastRound = Some((round, opSeq, t0, t0 + wall * 1e3)))
    Round(wall, opSeq, inputBytes, retained, failures.result(), outputs.toString)
  }

  /** Order-independent digest of every persisted table, keyed by job id. */
  private def persistedDigests(paths: Seq[String]): Map[String, Gen.Digest] =
    if (paths.isEmpty) Map.empty
    else spark.read.parquet(paths: _*)
      .select(col("name"), col("valueOne"), col("valueTwo"), col("payload"),
        input_file_name().as("f"))
      .rdd.map { r =>
        val job = "job-([0-9a-f-]{36})".r.findFirstMatchIn(r.getString(4)).map(_.group(1)).getOrElse("?")
        job -> (Gen.EmptyDigest + Gen.hash64(Gen.recordKey(r.getString(0), r.get(1), r.get(2), r.getString(3))))
      }.reduceByKey(_ ++ _).collect().toMap

  private var lastRound: Option[(Int, Seq[Op], Double, Double)] = None

  def layerMetrics(tr: Tracer): Seq[(String, Double, String)] = {
    tr.recorder.drain()
    val (r, ops, t0, t1) = lastRound.get
    val jobs = tr.recorder.jobs
    val tasks = tr.recorder.taskRecs
    val jobsByGroup = jobs.filter(_.group != null).groupBy(_.group)
    val groupOf = jobs.map(j => j.id -> j.group).toMap
    val opTask = tasks.groupBy(t => groupOf.getOrElse(t.job, null))
    // per op: (kind, queue wait, engine run) — the engine run starts at the
    // op's first Spark job
    val split = ops.map { o =>
      val opId = tr.spans.add(0, o.trace, "op", o.start, o.end)
      val js = jobsByGroup.getOrElse(s"graft-${o.trace}", Nil)
      val first = if (js.isEmpty) o.end else js.map(_.start).min
      tr.spans.add(opId, o.trace, "sched.queue", o.start, first)
      val runId = tr.spans.add(opId, o.trace, "engine.run", first, o.end)
      js.foreach(j => tr.spans.add(runId, o.trace, "spark.job", j.start, j.end))
      (o.kind, (first - o.start) / 1e3, (o.end - first) / 1e3)
    }
    def engineP50(kind: String) = Stats.median(split.filter(_._1 == kind).map(_._3))
    val opJobs = ops.map(o => jobsByGroup.getOrElse(s"graft-${o.trace}", Nil).size.toDouble)
    val opTaskS = ops.map(o => opTask.getOrElse(s"graft-${o.trace}", Nil).map(_.runS).sum)
    val root = s"${roundDir(r)}/storage"
    def area(a: String) = Fs.bytes(root, f => f.getPath.contains(s"/$a/")) / Fs.MB
    Seq(
      ("sched.queue_wait_s_p50", Stats.q(split.map(_._2), 0.5), "s"),
      ("sched.queue_wait_s_p90", Stats.q(split.map(_._2), 0.9), "s"),
      ("engine.run_s_p50", Stats.median(split.map(_._3)), "s"),
      ("engine.spark_jobs_per_op", opJobs.sum / ops.size, "count"),
      ("engine.task_s_per_op", opTaskS.sum / ops.size, "s"),
      ("engine.idle_frac", Intervals.idleFrac(tasks.map(t => (t.launch, t.finish)), t0, t1), "ratio"),
      ("engine.small_op_s_p50", engineP50("small"), "s"),
      ("engine.large_op_s_p50", engineP50("large"), "s"),
      ("sources.raw_mb", area("raw"), "MB"),
      ("sources.records_mb", area("records"), "MB"),
      ("sources.persisted_mb", area("persisted"), "MB")) ++
      Layers.spark(tr, Seq((t0, t1)))
  }
}
