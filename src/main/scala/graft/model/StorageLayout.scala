package graft.model

import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

/** Deterministic storage layout, key-for-key with the reference
  * (worker/src/main/scala/com/harrys/hyppo/worker/data/S3DataFileHandler.scala:98-136):
  *
  *   {prefix}/{source}/{yyyy-MM-dd}/job-{uuid}/raw/task-{n}/data-{i}.raw.gz
  *   {prefix}/{source}/{yyyy-MM-dd}/job-{uuid}/records/task-{n}/data.avro
  *   {prefix}/{source}/{yyyy-MM-dd}/job-{uuid}/log/{executionId}.out
  *
  * Source names are slugified to lowercase-dashed form as the reference
  * does for queue/key naming. At 100 TB the (source, date, jobId) key
  * prefix scopes every file of a job to one directory, so a job-scoped
  * read lists that directory only.
  */
final case class StorageLayout(prefix: String) {
  // ships inside executor closures (raw-file landing) — keep it serializable
  @transient private lazy val dateFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(ZoneOffset.UTC)

  def slug(name: String): String =
    name.trim.toLowerCase.replaceAll("[^a-z0-9]+", "-").stripPrefix("-").stripSuffix("-")

  def jobRoot(job: IngestionJob): String =
    s"$prefix/${slug(job.source.name)}/${dateFmt.format(job.startedAt)}/job-${job.id}"

  def rawFile(job: IngestionJob, taskNumber: Int, fileIndex: Int): String =
    s"${jobRoot(job)}/raw/task-$taskNumber/data-$fileIndex.raw.gz"

  def recordsDir(job: IngestionJob, taskNumber: Int): String =
    s"${jobRoot(job)}/records/task-$taskNumber"

  def recordsFile(job: IngestionJob, taskNumber: Int): String =
    StorageLayout.recordsFile(jobRoot(job), taskNumber)

  def logFile(job: IngestionJob, executionId: String): String =
    s"${jobRoot(job)}/log/$executionId.out"
}

/** The record-file key under a job root, for writers that are handed the
  * root rather than a job (the DSv2 record sink) and for listings.
  */
object StorageLayout {
  def recordsFile(jobRoot: String, taskNumber: Int): String =
    s"$jobRoot/records/task-$taskNumber/data.avro"

  /** Matches every task's record file under `jobRoot`. */
  def recordsGlob(jobRoot: String): String = s"$jobRoot/records/task-*/data.avro"

  /** The task number of a path built by [[recordsFile]]. */
  def recordsTask(file: String): Int =
    "/records/task-(\\d+)/data\\.avro$".r.findFirstMatchIn(file).map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException(s"not a task record file: $file"))
}
