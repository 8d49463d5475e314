package graft.engine

import java.nio.file.Files
import java.time.Instant
import java.util.UUID

import graft.{SparkJobs, SparkSpec}
import graft.api.{ForeachSink, TableSink}
import graft.model.{IngestionJob, IngestionSource, StorageLayout}

/** Spark jobs per `JobRunner.run`, counted by a listener and pinned. A
  * small ingestion job is dominated by fixed cost per Spark job, so the
  * run's job structure is part of its contract: the `writeRecords`
  * collect, then one persist job, with no shuffle. ForeachSink relies on
  * `readRecords` giving one partition per task; a repartition by task
  * would add a shuffle and, under adaptive execution, a third job.
  */
class RunJobsSpec extends SparkSpec {

  private def run(sink: graft.api.SinkSpec): SparkJobs.Count = {
    val runner = new JobRunner(spark,
      StorageLayout(Files.createTempDirectory("graft-runjobs").toString))
    val j = IngestionJob(IngestionSource("FanOut"), UUID.randomUUID(),
      startedAt = Instant.parse("2026-08-12T00:00:00Z"))
    val integ = new Stubs.FanOut(3, 5)
    SparkJobs.of(spark)(runner.run(integ, j, sink).isRight shouldBe true)
  }

  test("a TableSink run launches 2 Spark jobs and no shuffle") {
    run(TableSink()) shouldBe SparkJobs.Count(jobs = 2, shuffleStages = 0)
  }

  test("a ForeachSink run launches 2 Spark jobs and no shuffle") {
    run(ForeachSink((_, rows) => { rows.size; () })) shouldBe
      SparkJobs.Count(jobs = 2, shuffleStages = 0)
  }
}
