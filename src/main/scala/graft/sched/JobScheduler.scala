package graft.sched

import graft.api.{Integration, SinkSpec, TableSink}
import graft.engine.JobRunner
import graft.model.{FailureReport, IngestionJob}
import org.apache.spark.sql.SparkSession
import java.time.{Duration, Instant}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, ScheduledThreadPoolExecutor, TimeUnit}
import scala.concurrent.{ExecutionContext, Future, Promise}
import scala.util.Random

/** Driver-side job scheduler: the reference's delegation loop
  * (WorkDelegation.scala:50-135 + WorkerFSM polling) re-expressed for
  * Spark. Pending pipeline jobs queue per integration ("queue" = job
  * class); a fixed pool of worker slots (the `worker-count` analog) pulls
  * the next job by:
  *
  *   1. affinity first — a slot that just ran integration X prefers X
  *      (warm code/caches; DelegationStrategy.scala:43-52),
  *   2. priority order over remaining queues (WorkQueuePrioritizer),
  *   3. contention filter (Gompertz backoff) + resource leasing,
  *   4. FAIR-pool isolation: each job runs under a scheduler pool named by
  *      its integration so Spark's FAIR scheduler arbitrates stage-level
  *      resources (spark.scheduler.pool local property),
  *   5. work timeout: jobs are cancelled via their job group after
  *      `workTimeout` — the analog of AMQP message TTL + expired-queue
  *      dead-lettering (QueueHelpers.scala:57-82).
  */
final class JobScheduler(
    spark: SparkSession,
    runner: JobRunner,
    pool: ResourcePool,
    workerSlots: Int = 1,
    workTimeout: Duration = Duration.ofHours(1),
    backoffMinDelay: Duration = Duration.ofSeconds(5),
    backoffScale: Double = 0.2,
    affinityWindow: Duration = Duration.ofMinutes(10),
    pollInterval: Duration = Duration.ofSeconds(5),
    rateWindow: Duration = Duration.ofMinutes(5),
    maxRetries: Int = 0,
    random: Random = new Random()) {

  final case class Submission(
      integration: Integration,
      job: IngestionJob,
      sink: SinkSpec,
      resources: Seq[String],
      enqueuedAt: Instant,
      promise: Promise[Either[FailureReport, JobRunner.JobResult]],
      attempt: Int = 0)

  private val queues = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Submission]]()
  private val exec = Executors.newFixedThreadPool(workerSlots)
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(exec)
  private val prioritizer = WorkQueuePrioritizer.default(random)
  // slot → (last integration, when): plain CHM — the read-modify-write is
  // per-slot-keyed so puts never race on the same key
  private val lastIntegrationBySlot =
    new java.util.concurrent.ConcurrentHashMap[Long, (String, Instant)]()
  // queue → completion timestamps inside rateWindow (QueueMetricsTracker
  // analog: the reference merges REST snapshots + incremental deltas,
  // worker/.../actor/queue/QueueMetricsTracker.scala:45-178; in-process we
  // observe every completion directly)
  private val completionLog =
    new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Instant]]()

  /** The delegation tick — the reference polls for deliverable work every
    * `task-polling-interval` (reference.conf:71-72, WorkerFSM.scala:252-259)
    * so a submission requeued on resource contention retries WITHOUT a new
    * submit arriving. Each tick offers every idle slot one drain pass. The
    * same thread fires the running jobs' work timeouts; a job that ends in
    * time drops its timeout from the queue.
    */
  private val ticker = new ScheduledThreadPoolExecutor(1, (r: Runnable) => {
    val t = new Thread(r, "graft-delegation-tick"); t.setDaemon(true); t
  })
  ticker.setRemoveOnCancelPolicy(true)
  private val tick = ticker.scheduleWithFixedDelay(() =>
    (0 until workerSlots).foreach(_ => Future(workLoop())),
    pollInterval.toMillis, pollInterval.toMillis, TimeUnit.MILLISECONDS)

  /** Enqueue a job; returns a future of the structured result. */
  def submit(integration: Integration, job: IngestionJob,
             sink: SinkSpec = TableSink(),
             resources: Seq[String] = Nil): Future[Either[FailureReport, JobRunner.JobResult]] = {
    val p = enqueue(integration, job, sink, resources).promise
    Future(workLoop())
    p.future
  }

  /** Queue a submission without kicking a slot (tests drive chooseNext). */
  private[sched] def enqueue(integration: Integration, job: IngestionJob,
                             sink: SinkSpec = TableSink(),
                             resources: Seq[String] = Nil): Submission = {
    val p = Promise[Either[FailureReport, JobRunner.JobResult]]()
    val sub = Submission(integration, job, sink, resources, Instant.now(), p)
    queues.computeIfAbsent(integration.name, _ => new ConcurrentLinkedQueue[Submission]())
      .add(sub)
    sub
  }

  /** Drain loop on a worker slot: keep delegating until a pass runs
    * nothing (no work, or everything gated by contention backoff — the
    * tick retries the latter).
    */
  private def workLoop(): Unit = while (runOnce()) {}

  /** One delegation pass: snapshot queues → affinity + priority + backoff
    * → lease resources → run. Mirrors WorkDelegation.scala:93-135 (on
    * lease failure, advance to the next queue). Returns true iff a job ran.
    */
  private def runOnce(): Boolean = {
    val slot = Thread.currentThread().getId
    val next = chooseNext(slot)
    next.exists { sub =>
      val expired = Duration.between(sub.enqueuedAt, Instant.now())
        .compareTo(workTimeout) > 0
      if (expired) {
        // dead-letter analog: report expiry instead of running
        sub.promise.success(Left(FailureReport(
          "graft.WorkExpired", s"work expired after $workTimeout in queue", Nil, None)))
        true
      } else pool.acquireAll(sub.resources) match {
        case Left(_) =>
          // resource contention: requeue; the NEXT tick retries through the
          // backoff gate (returning false here avoids a hot spin)
          queues.get(sub.integration.name).add(sub)
          false
        case Right(lease) =>
          try {
            val group = s"graft-${sub.job.id}"
            spark.sparkContext.setJobGroup(group, sub.integration.name,
              interruptOnCancel = true)
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", sub.integration.name)
            val timeout = ticker.schedule(new Runnable {
              def run(): Unit = spark.sparkContext.cancelJobGroup(group)
            }, workTimeout.toMillis, TimeUnit.MILLISECONDS)
            try runner.run(sub.integration, sub.job, sub.sink) match {
              // retry-by-requeue (the reference NACKs failed work back to
              // its queue); validation failures are permanent, not retried
              case Left(report) if sub.attempt < maxRetries &&
                  report.exceptionClass != "graft.ValidationFailed" =>
                queues.get(sub.integration.name).add(sub.copy(attempt = sub.attempt + 1))
              case done =>
                sub.promise.success(done)
                // rate counts only work this queue actually finished —
                // requeued retries would inflate rateOf() and bias
                // ExpectedCompletionOrdering toward flaky queues
                recordCompletion(sub.integration.name)
            } finally {
              timeout.cancel(false)
              spark.sparkContext.clearJobGroup()
              spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
            }
            sub.resources.foreach(pool.clearContention)
            lastIntegrationBySlot.put(slot, (sub.integration.name, Instant.now()))
          } finally lease.release()
          true
      }
    }
  }

  private[sched] def recordCompletion(queue: String): Unit = {
    val log = completionLog.computeIfAbsent(queue, _ => new ConcurrentLinkedQueue[Instant]())
    log.add(Instant.now())
    val cutoff = Instant.now().minus(rateWindow)
    while (Option(log.peek()).exists(_.isBefore(cutoff))) log.poll()
  }

  /** Observed consumption rate (completions/sec over `rateWindow`); 0.0
    * for a queue nothing has drained yet, which ExpectedCompletionOrdering
    * treats as estimate = ∞ → served first, exactly the reference's
    * stalled-queue preference.
    */
  private def rateOf(queue: String): Double = {
    val cutoff = Instant.now().minus(rateWindow)
    Option(completionLog.get(queue))
      .map(_.stream().filter(t => !t.isBefore(cutoff)).count().toDouble /
        rateWindow.getSeconds.toDouble)
      .getOrElse(0.0)
  }

  private[sched] def markAffinity(slot: Long, integration: String): Unit =
    lastIntegrationBySlot.put(slot, (integration, Instant.now()))

  private[sched] def chooseNext(slot: Long): Option[Submission] = {
    val snapshots = snapshotQueues()
    if (snapshots.isEmpty) return None
    val filter = new ContentionFilter(pool, backoffMinDelay, backoffScale, random)
    val affinity = Option(lastIntegrationBySlot.get(slot))
      .filter { case (_, at) =>
        Duration.between(at, Instant.now()).compareTo(affinityWindow) < 0 }
      .map(_._1)
    val (preferred, rest) = snapshots.partition(q => affinity.contains(q.name))
    val ordered = (preferred.iterator ++ prioritizer.prioritize(rest)).filter(filter.allows)
    ordered
      .flatMap(q => Option(queues.get(q.name)).flatMap(qq => Option(qq.poll())))
      .nextOption()
  }

  private[sched] def snapshotQueues(): Seq[QueueSnapshot] = {
    import scala.jdk.CollectionConverters._
    queues.asScala.toSeq.collect {
      case (name, q) if !q.isEmpty =>
        val subs = q.asScala.toSeq
        QueueSnapshot(name, subs.size, subs.size, rate = rateOf(name),
          idleSince = subs.map(_.enqueuedAt).min,
          resources = subs.headOption.map(_.resources).getOrElse(Nil))
    }
  }

  /** Stops the tick, lets the running slots drain (their work timeouts
    * still fire), then stops the timer thread.
    */
  def shutdown(): Unit = {
    tick.cancel(false)
    exec.shutdown()
    exec.awaitTermination(30, TimeUnit.SECONDS)
    ticker.shutdownNow()
  }
}
