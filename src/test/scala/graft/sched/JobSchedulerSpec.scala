package graft.sched

import java.nio.file.Files
import java.time.{Duration, Instant}
import java.util.UUID
import java.util.concurrent.TimeUnit

import graft.SparkSpec
import graft.engine.{JobRunner, Stubs}
import graft.model.{IngestionJob, IngestionSource, StorageLayout, TaskSpec}
import org.apache.spark.sql.Row

import scala.concurrent.Await
import scala.concurrent.duration.{Duration => SDuration}
import scala.util.Random

/** Driver-scheduler behavior: delegation-tick liveness (the reference's
  * task-polling-interval, WorkerFSM.scala:252-259), slot affinity
  * (DefaultDelegationStrategyTests.scala:25-91), and observed queue rates
  * feeding ExpectedCompletionOrdering.
  */
class JobSchedulerSpec extends SparkSpec {

  import JobSchedulerSpec._

  private def newRunner(): JobRunner =
    new JobRunner(spark, StorageLayout(Files.createTempDirectory("graft-sched").toString))

  private def job(name: String) = IngestionJob(
    IngestionSource(name), UUID.randomUUID(), startedAt = Instant.now())

  test("contention-requeued work is retried by the delegation tick, not a new submit") {
    val pool = new ResourcePool(Seq(ConcurrencySpec("db", 1)))
    val sched = new JobScheduler(spark, newRunner(), pool,
      workerSlots = 2,
      pollInterval = Duration.ofMillis(100),
      backoffMinDelay = Duration.ofMillis(1200),
      random = new Random(42))
    try {
      // both jobs need the 1-permit resource; the slow first job forces the
      // second to hit contention and requeue — only the tick can revive it
      class Slow extends Stubs.FanOut(1, 3) {
        override def name = "SlowQueue"
        override def fetchStructured(task: TaskSpec): Iterator[Row] = {
          Thread.sleep(1500); super.fetchStructured(task)
        }
      }
      val f1 = sched.submit(new Slow, job("SlowQueue"), resources = Seq("db"))
      Thread.sleep(200) // let job 1 take the lease first
      val f2 = sched.submit(new Slow, job("SlowQueue"), resources = Seq("db"))
      Await.result(f1, SDuration(60, TimeUnit.SECONDS)).isRight shouldBe true
      Await.result(f2, SDuration(60, TimeUnit.SECONDS)).isRight shouldBe true
    } finally sched.shutdown()
  }

  test("failed work is retried by requeue up to maxRetries; validation failures are permanent") {
    val pool = new ResourcePool(Nil)
    val sched = new JobScheduler(spark, newRunner(), pool,
      workerSlots = 1, pollInterval = Duration.ofMillis(100),
      maxRetries = 2, random = new Random(5))
    try {
      val f = sched.submit(new JobSchedulerSpec.FlakyTwice, job("Flaky"))
      Await.result(f, SDuration(60, TimeUnit.SECONDS)).isRight shouldBe true
      JobSchedulerSpec.flakyAttempts.get() shouldBe 3 // 2 failures + 1 success
      // a broken schema fails validation and must NOT burn retries
      val g = sched.submit(new graft.engine.Stubs.BrokenSchema, job("Broken"))
      val Left(report) = Await.result(g, SDuration(60, TimeUnit.SECONDS)): @unchecked
      report.exceptionClass shouldBe "graft.ValidationFailed"
    } finally sched.shutdown()
  }

  test("a job running past workTimeout has its job group cancelled and comes back as a Left") {
    val sched = new JobScheduler(spark, newRunner(), new ResourcePool(Nil),
      workerSlots = 1, workTimeout = Duration.ofSeconds(1),
      pollInterval = Duration.ofHours(1), random = new Random(11))
    try {
      val j = job("Stuck")
      val started = System.nanoTime()
      val Left(report) = Await.result(sched.submit(new JobSchedulerSpec.Stuck, j),
        SDuration(60, TimeUnit.SECONDS)): @unchecked
      report.message should include(s"cancelled job group graft-${j.id}")
      // the task was interrupted, not left to finish its 60 s fetch
      (System.nanoTime() - started) / 1e9 should be < 30.0
    } finally sched.shutdown()
  }

  test("a slot prefers the integration it just ran (affinity) over priority order") {
    val pool = new ResourcePool(Nil)
    val sched = new JobScheduler(spark, newRunner(), pool,
      workerSlots = 1, pollInterval = Duration.ofHours(1), random = new Random(7))
    try {
      val a = new Stubs.FanOut(1, 1) { override def name = "QueueA" }
      val b = new Stubs.FanOut(1, 1) { override def name = "QueueB" }
      // two A jobs vs one B job: AbsoluteSizeOrdering serves the SMALLER
      // queue first, so without affinity B wins every time
      sched.enqueue(a, job("QueueA")); sched.enqueue(a, job("QueueA"))
      sched.enqueue(b, job("QueueB"))
      sched.chooseNext(slot = 99L).get.integration.name shouldBe "QueueB"
      sched.enqueue(b, job("QueueB")) // restore B
      sched.markAffinity(77L, "QueueA")
      sched.chooseNext(slot = 77L).get.integration.name shouldBe "QueueA"
    } finally sched.shutdown()
  }

  test("queue snapshots carry observed completion rates; unobserved queues sort first") {
    val pool = new ResourcePool(Nil)
    val sched = new JobScheduler(spark, newRunner(), pool,
      workerSlots = 1, pollInterval = Duration.ofHours(1), random = new Random(3))
    try {
      val a = new Stubs.FanOut(1, 1) { override def name = "Drained" }
      val b = new Stubs.FanOut(1, 1) { override def name = "Stalled" }
      sched.enqueue(a, job("Drained")); sched.enqueue(b, job("Stalled"))
      sched.recordCompletion("Drained"); sched.recordCompletion("Drained")
      val snaps = sched.snapshotQueues().map(q => q.name -> q).toMap
      snaps("Drained").rate should be > 0.0
      snaps("Stalled").rate shouldBe 0.0
      // ∞ estimate (stalled) outranks the draining queue
      WorkQueuePrioritizer.default(new Random(0))
        .prioritize(snaps.values.toSeq).next().name shouldBe "Stalled"
    } finally sched.shutdown()
  }
}

object JobSchedulerSpec {
  // static so state survives closure serialization in local mode
  val flakyAttempts = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A fetch that outlives any work timeout unless it is interrupted. */
  class Stuck extends Stubs.FanOut(1, 1) {
    override def name = "Stuck"
    override def fetchStructured(task: TaskSpec): Iterator[Row] = {
      Thread.sleep(60000); super.fetchStructured(task)
    }
  }

  /** Fails its first two fetches (driver-side counter), then succeeds. */
  class FlakyTwice extends Stubs.FanOut(1, 2) {
    override def name = "Flaky"
    override def planTasks(job: IngestionJob): Seq[graft.model.TaskSpec] = {
      if (flakyAttempts.incrementAndGet() <= 2)
        throw new IllegalStateException("transient planTasks failure")
      super.planTasks(job)
    }
  }
}
