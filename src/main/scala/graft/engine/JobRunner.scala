package graft.engine

import graft.api._
import graft.model._
import graft.sources.{AvroRecordFiles, HadoopConf}
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration
import java.time.Instant
import scala.util.control.NonFatal

/** The engine runtime: turns an Integration + IngestionJob into the
  * reference's 7-operation dataflow (SURVEY.md §3.3), expressed as one
  * declarative Spark plan per job:
  *
  *   planTasks (O2, driver)  → Dataset[TaskSpec], one task per partition
  *   fetchRaw  (O3, executor)→ flatMap to raw byte files (landed gzipped)
  *   parse     (O4, executor)→ flatMap to typed rows
  *   fetchStructured (O5)    → fused O3∘O4 for processed-kind integrations
  *   write records           → one snappy Avro container file per task
  *   persist   (O6)          → TableSink / ForeachSink (+ at-most-once fence)
  *   onJobCompleted (O7)     → driver callback
  *
  * Scale design: the driver never materializes record data — only the
  * per-task record-file manifest (size/md5/recordCount, parity with
  * RemoteProcessedDataFile, worker-api/.../proto/RemoteDataFile.scala:20-27)
  * ever comes back, one row per task, into the execution log; no
  * manifest table is written.
  * Raw bytes go executor→storage directly via the Hadoop FS API (works for
  * file:// here and s3a:// on a cluster — the reference's S3 uploads,
  * S3DataFileHandler.scala:62-96).
  *
  * A runner reads the session's Hadoop settings once, on first use, and
  * broadcasts them: every executor closure (raw landing, record write and
  * read, the persist fence) and every driver-side filesystem call of this
  * runner uses that one copy. Hadoop's `FileSystem` cache already pins
  * each scheme's filesystem on first use; to pick up changed Hadoop
  * settings, build a new `JobRunner`.
  */
final class JobRunner(spark: SparkSession, layout: StorageLayout) {
  import JobRunner._

  private lazy val hadoopConf: Broadcast[SerializableConfiguration] =
    HadoopConf.broadcast(spark)

  /** O1 — ValidateIntegration: structural checks + schema extraction,
    * mirroring executor/.../run/ValidateIntegrationOperation.java:34-147
    * (null-factory checks become null/parse/convert checks; errors are
    * collected, not thrown).
    */
  def validate(integration: Integration): ValidationReport = {
    val errors = Seq.newBuilder[ValidationError]
    var fp: Option[String] = None
    if (integration.name == null || integration.name.trim.isEmpty)
      errors += ValidationError("integration name is null or empty")
    try {
      val sch = integration.schema
      if (sch == null) errors += ValidationError("schema is null")
      else {
        val st = sch.structType // forces Avro JSON parse + Spark conversion
        if (st.isEmpty) errors += ValidationError("schema has no fields")
        fp = Some(sch.fingerprint)
        val recomputed = IntegrationSchema.fromJson(sch.schemaJson)
        if (!recomputed.sameAs(sch))
          errors += ValidationError(
            s"schema fingerprint mismatch: declared ${sch.fingerprint}, canonical ${recomputed.fingerprint}")
      }
    } catch {
      case NonFatal(e) =>
        errors += ValidationError(s"schema extraction failed: ${e.getMessage}",
          Some(e.getClass.getName))
    }
    if (integration.persistingSemantics == null)
      errors += ValidationError("persistingSemantics is null")
    val errs = errors.result()
    ValidationReport(integration.name, errs.isEmpty, fp,
      integration.isRawData, integration.persistingSemantics, errs)
  }

  /** O2 — CreateIngestionTasks: the task list IS the partition plan; one
    * reference task = one Spark partition (CommanderActor runs one task
    * per worker; we run them all in parallel).
    */
  def planTasks(integration: Integration, job: IngestionJob): Seq[TaskSpec] = {
    require(job.source.name == integration.name,
      s"job/source mismatch: job ${job.id} is for source '${job.source.name}', " +
        s"integration is '${integration.name}'")
    val tasks = integration.planTasks(job)
    require(tasks.nonEmpty, "planTasks produced no tasks")
    // each task writes its own records/task-N/data.avro and manifest row
    val dupes = tasks.groupBy(_.taskNumber).collect { case (n, ts) if ts.size > 1 => n }
    require(dupes.isEmpty, s"planTasks produced duplicate task number(s) " +
      s"${dupes.toSeq.sorted.mkString(",")}: each task needs its own record file")
    tasks
  }

  /** O3+O4 / O5 — produce the typed record DataFrame for the job, with a
    * `task_number` column carrying task lineage. The raw path also writes
    * each fetched byte file to the reference layout and returns its
    * manifest.
    */
  def records(integration: Integration, job: IngestionJob,
              tasks: Seq[TaskSpec]): DataFrame = {
    val schema = integration.schema.structType
    val withTask = StructType(schema.fields :+ StructField("task_number", IntegerType, false))
    val sc = spark.sparkContext
    // one task per partition — the reference's unit of parallel work
    val taskRdd = sc.parallelize(tasks, tasks.size)
    val rowRdd = integration match {
      case ri: RawIntegration =>
        val lay = layout
        val conf = hadoopConf
        taskRdd.flatMap { task =>
          ri.fetchRaw(task).zipWithIndex.flatMap { case (bytes, i) =>
            // land the raw file (gzipped) exactly where the reference would
            val path = new Path(lay.rawFile(job, task.taskNumber, i))
            val fs = path.getFileSystem(conf.value.value)
            val out = new java.util.zip.GZIPOutputStream(fs.create(path, true))
            try out.write(bytes) finally out.close()
            ri.parse(task, bytes)
              .map(r => Row.fromSeq(r.toSeq :+ task.taskNumber))
          }
        }
      case si: StructuredIntegration =>
        taskRdd.flatMap { task =>
          si.fetchStructured(task).map(r => Row.fromSeq(r.toSeq :+ task.taskNumber))
        }
    }
    spark.createDataFrame(rowRdd, withTask)
  }

  /** Persist the record files under the reference layout — one Avro
    * container file per task at `records/task-N/data.avro`, written by
    * the record-file codec (`AvroRecordFiles.ContainerWriter`) — and
    * return the per-task manifest (record count, file size, file MD5).
    *
    * Everything happens in ONE executor pass, with no driver-side renames.
    * A failed partition aborts its files, so no partial record file
    * outlives it. `records()` gives one task per partition; a task split
    * across partitions would clobber its own file — keep that invariant
    * upstream.
    */
  def writeRecords(job: IngestionJob, recordsDf: DataFrame): DataFrame = {
    val full = recordsDf.schema
    val taskIdx = full.fieldIndex("task_number")
    val dataIdx = full.fields.indices.filterNot(_ == taskIdx)
    val dataSchema = StructType(dataIdx.map(full.fields).toArray)
    val avroJson = AvroRecordFiles.avroSchema(dataSchema).toString
    val lay = layout
    val conf = hadoopConf
    val manifestRows = recordsDf.rdd.mapPartitions { rows =>
      val schema = new org.apache.avro.Schema.Parser().parse(avroJson)
      val open = scala.collection.mutable.LinkedHashMap[Int, AvroRecordFiles.ContainerWriter]()
      try rows.foreach { row =>
        val t = row.getInt(taskIdx)
        open.getOrElseUpdate(t, new AvroRecordFiles.ContainerWriter(
          lay.recordsFile(job, t), schema, dataIdx, conf.value.value)).append(row)
      } catch { case e: Throwable => open.valuesIterator.foreach(_.abort()); throw e }
      open.iterator.map { case (t, w) =>
        val (n, bytes, md5) = w.finish()
        Row(t, n, bytes, md5, lay.recordsFile(job, t))
      }.toVector.iterator
    }
    spark.createDataFrame(manifestRows, JobRunner.manifestSchema)
  }

  /** Reads a job's record files back (the O5-for-downstream / persist
    * input path), one Spark partition per record file, i.e. per task.
    *
    * Given a manifest (task → file MD5, as `writeRecords` returned it),
    * it reads exactly the manifest's files at the layout key and verifies
    * each one's MD5. A manifest task whose file is gone fails the read; a
    * stale `task-N` file that an earlier, larger run of the same job left
    * behind is not read. Without a manifest it reads every task's record
    * file under the job's records dir, unverified. Files are read through
    * the CURRENT integration schema, so files written by an older
    * integration version resolve (new defaulted fields fill, dropped
    * fields skip).
    */
  def readRecords(integration: Integration, job: IngestionJob,
                  manifest: Option[Map[Int, String]] = None): DataFrame = {
    val dataSchema = integration.schema.structType
    val files: Seq[(String, Option[String], Seq[Any])] = manifest match {
      case Some(m) => m.toSeq.sortBy(_._1).map { case (t, md5) =>
        (layout.recordsFile(job, t), Some(md5), Seq(t)) }
      case None =>
        val glob = new Path(StorageLayout.recordsGlob(layout.jobRoot(job)))
        glob.getFileSystem(hadoopConf.value.value).globStatus(glob)
          .map(_.getPath.toString).sorted.toSeq
          .map(f => (f, None, Seq(StorageLayout.recordsTask(f))))
    }
    val withTask = StructType(dataSchema.fields :+
      StructField("task_number", IntegerType, false))
    spark.createDataFrame(
      AvroRecordFiles.readFiles(spark, hadoopConf, dataSchema, files), withTask)
  }

  /** O6 — PersistProcessedData. TableSink rides Spark's commit protocol;
    * ForeachSink mirrors the user-persister loop. Unsafe semantics get an
    * at-most-once fence: a task that already holds a fence marker is
    * skipped instead of re-run (reference ACKs before execution,
    * TaskFSM.scala:102-115).
    *
    * ForeachSink precondition: all rows of a task lie in one partition,
    * contiguously — `readRecords` gives one partition per task. The sink
    * walks each partition as task-runs with no shuffle, and a task seen
    * twice within a partition fails the persist.
    */
  def persist(integration: Integration, job: IngestionJob,
              recordsDf: DataFrame, sink: SinkSpec): Unit = sink match {
    case TableSink(format, mode, path) =>
      val target = path.getOrElse(s"${layout.jobRoot(job)}/persisted")
      recordsDf.write.format(format).mode(mode).save(target)
    case ForeachSink(fn) =>
      val unsafe = integration.persistingSemantics == PersistingSemantics.Unsafe
      val fenceRoot = s"${layout.jobRoot(job)}/persist-fence"
      val conf = hadoopConf
      recordsDf.foreachPartition { (rows: Iterator[Row]) =>
        val buf = rows.buffered
        val seen = scala.collection.mutable.Set[Int]()
        while (buf.hasNext) {
          val taskNumber = buf.head.getAs[Int]("task_number")
          if (!seen.add(taskNumber))
            throw new IllegalStateException(s"task $taskNumber's rows are " +
              "not contiguous in their partition; ForeachSink needs each " +
              "task's rows together in one partition")
          val taskRows = new Iterator[Row] {
            def hasNext: Boolean =
              buf.hasNext && buf.head.getAs[Int]("task_number") == taskNumber
            def next(): Row = buf.next()
          }
          val fence = new Path(s"$fenceRoot/task-$taskNumber")
          val fs = fence.getFileSystem(conf.value.value)
          val alreadyRun = unsafe && !fs.createNewFile(fence)
          if (!alreadyRun) fn(taskNumber, taskRows)
          while (taskRows.hasNext) taskRows.next() // drain if fn didn't
        }
      }
  }

  /** End-to-end O1→O7 with O8 failure mapping. The execution log lands at
    * the layout's log key LAST, success or failure — the reference uploads
    * operation logs after the response (`CommanderActor.scala:292-315`).
    */
  def run(integration: Integration, job: IngestionJob,
          sink: SinkSpec = TableSink(),
          onProgress: Long => Unit = _ => ()): Either[FailureReport, JobResult] = {
    val executionId = java.util.UUID.randomUUID().toString
    val log = Seq.newBuilder[String]
    log += s"execution=$executionId job=${job.id} integration=${integration.name}"
    // StatusUpdate analog: the reference streams progress frames before the
    // operation result (executor/.../proto/StatusUpdate.java:18-42,
    // OperationHandler.scala:57-67); here a listener reports completed
    // Spark tasks for this run's job group as the job executes.
    val sc = spark.sparkContext
    val priorGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
    val group = priorGroup.getOrElse {
      val g = s"graft-run-$executionId"
      sc.setJobGroup(g, s"graft job ${job.id}", interruptOnCancel = false)
      g
    }
    val tasksDone = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      private val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          js.stageIds.foreach(stages.add)
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stages.contains(te.stageId)) onProgress(tasksDone.incrementAndGet())
    }
    sc.addSparkListener(listener)
    val result =
      try {
        val report = validate(integration)
        log += s"validate isValid=${report.isValid} errors=${report.errors.size}"
        if (!report.isValid)
          Left(FailureReport("graft.ValidationFailed",
            report.errors.map(_.message).mkString("; "), Nil, None))
        else {
          val tasks = planTasks(integration, job)
          log += s"planTasks n=${tasks.size}"
          val recs = records(integration, job, tasks)
          val manifest = writeRecords(job, recs)
            .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getString(3))).toMap
          manifest.toSeq.sortBy(_._1).foreach { case (t, (n, md5)) =>
            log += s"writeRecords task=$t records=$n md5=$md5" }
          // persist re-reads the landed record files with checksum
          // verification (never the live fetch plan — a fetch is not
          // assumed re-runnable)
          persist(integration, job,
            readRecords(integration, job, Some(manifest.map { case (t, (_, m)) => t -> m })),
            sink)
          log += "persist ok"
          val counts = manifest.map { case (t, (n, _)) => t -> n }
          integration.onJobCompleted(Instant.now(), job, tasks)
          Right(JobResult(job, tasks.size, counts.values.sum, counts))
        }
      } catch {
        case NonFatal(e) =>
          val cause = rootSparkCause(e)
          log += s"failed ${cause.getClass.getName}: ${cause.getMessage}"
          Left(FailureReport.fromThrowable(cause))
      } finally {
        sc.removeSparkListener(listener)
        // only clear a group THIS run created — leaking it would tag (and
        // expose to cancellation) unrelated later jobs on this thread
        if (priorGroup.isEmpty) sc.clearJobGroup()
      }
    log += s"progress sparkTasksCompleted=${tasksDone.get()}"
    writeLog(job, executionId, log.result())
    result
  }

  /** Best-effort execution-log upload to the layout's log key. */
  private def writeLog(job: IngestionJob, executionId: String,
                       lines: Seq[String]): Unit =
    try {
      val p = new Path(layout.logFile(job, executionId))
      val fs = p.getFileSystem(hadoopConf.value.value)
      val out = fs.create(p, true)
      try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
    } catch { case NonFatal(_) => () } // logs must never fail the job
}

object JobRunner {
  final case class JobResult(job: IngestionJob, taskCount: Int,
                             recordCount: Long, perTask: Map[Int, Long])

  /** Per-task record-file manifest (RemoteDataFile parity). */
  val manifestSchema: StructType = StructType(Seq(
    StructField("task_number", IntegerType, nullable = false),
    StructField("record_count", LongType, nullable = false),
    StructField("file_size", LongType, nullable = false),
    StructField("file_md5", StringType, nullable = false),
    StructField("records_file", StringType, nullable = false)))

  /** Unwrap Spark's task-failure wrapper to the user-code cause, the
    * analog of the reference's structured exception chain
    * (IntegrationException.scala:13-68).
    */
  def rootSparkCause(e: Throwable): Throwable = e match {
    case se: org.apache.spark.SparkException if se.getCause != null => se.getCause
    case other => other
  }
}
