package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** One timed interval. Times are epoch milliseconds (fractional) on the
  * benchmark's clock; `trace` is the op the span belongs to.
  */
final case class Span(id: Long, parent: Long, trace: String, name: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

/** Benchmark clock: nanoTime precision, anchored to epoch millis so that
  * Spark listener timestamps land on the same time line.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** In-memory span store; written out once, when the run ends. */
final class Spans {
  private val next = new AtomicLong(1)
  private val all = new ConcurrentLinkedQueue[Span]()
  def add(parent: Long, trace: String, name: String, start: Double, end: Double): Long = {
    val id = next.getAndIncrement()
    all.add(Span(id, parent, trace, name, start, end)); id
  }
  def toSeq: Seq[Span] = all.asScala.toSeq.sortBy(_.id)

  /** Self time per span: its duration minus the part of its interval
    * covered by its children.
    */
  def selfTimes: Map[Long, Double] = {
    val spans = toSeq
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Intervals.union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> math.max(0.0, s.dur - covered)
    }.toMap
  }

  /** Per span name: count, total seconds and self seconds. */
  def summary: Seq[(String, Int, Double, Double)] = {
    val self = selfTimes
    toSeq.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      (n, ss.size, ss.map(_.dur).sum / 1e3, ss.map(s => self(s.id)).sum / 1e3)
    }
  }
}

/** Accumulated run time of the benchmark's own tracing code. */
final class Cost {
  private val ns = new AtomicLong
  def apply[T](body: => T): T = {
    val t = System.nanoTime()
    try body finally ns.addAndGet(System.nanoTime() - t)
  }
  def seconds: Double = ns.get / 1e9
}

object Intervals {
  /** Total length covered by a set of (start, end) intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    covered
  }

  /** Share of [t0, t1] during which no interval is open. */
  def idleFrac(iv: Seq[(Double, Double)], t0: Double, t1: Double): Double =
    if (t1 <= t0) 0.0
    else 1.0 - union(iv.map(i => (math.max(i._1, t0), math.min(i._2, t1)))) / (t1 - t0)
}

/** One Spark job as the listener saw it, with the local properties the
  * benchmark attributes work by.
  */
final case class JobRec(id: Int, start: Double, end: Double, group: String,
                        queryId: String, batchId: String, stage: String)

/** One finished Spark task's metrics. */
final case class TaskRec(job: Int, launch: Double, finish: Double, runS: Double,
                         gcS: Double, shuffleWriteB: Long, outputB: Long)

/** SparkListener the benchmark attaches for a traced run: records every
  * job with its job group / streaming query / stage properties and every
  * task's time and bytes.
  */
final class SparkRecorder(sc: SparkContext, cost: Cost) extends SparkListener {
  import SparkRecorder._
  private val starts = new ConcurrentHashMap[Int, JobRec]()
  private val ended = new ConcurrentHashMap[Int, Double]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val markers = new ConcurrentHashMap[String, CountDownLatch]()

  override def onJobStart(js: SparkListenerJobStart): Unit = cost {
    val p = Option(js.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).orNull
    Option(prop(MarkerProp)).foreach(m => Option(markers.get(m)).foreach(_.countDown()))
    starts.put(js.jobId, JobRec(js.jobId, js.time.toDouble, Double.NaN,
      prop("spark.jobGroup.id"), prop("sql.streaming.queryId"),
      prop("streaming.sql.batchId"), prop(StageProp)))
    js.stageIds.foreach(s => stageJob.putIfAbsent(s, js.jobId))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    cost(ended.put(je.jobId, je.time.toDouble))

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = cost {
    Option(te.taskMetrics).foreach { m =>
      tasks.add(TaskRec(stageJob.getOrDefault(te.stageId, -1),
        te.taskInfo.launchTime.toDouble, te.taskInfo.finishTime.toDouble,
        m.executorRunTime / 1e3, m.jvmGCTime / 1e3,
        m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten))
    }
  }

  def jobs: Seq[JobRec] = starts.values().asScala.toSeq.sortBy(_.id)
    .filter(_.stage != MarkerProp)
    .map(j => j.copy(end = ended.getOrDefault(j.id, j.start)))
  def taskRecs: Seq[TaskRec] = {
    val markerJobs = starts.values().asScala.filter(_.stage == MarkerProp).map(_.id).toSet
    tasks.asScala.toSeq.filterNot(t => markerJobs(t.job))
  }

  /** Wait until the listener bus has delivered every event posted so
    * far: run a one-task marker job and wait for its start event.
    */
  def drain(): Unit = {
    val m = java.util.UUID.randomUUID().toString
    val latch = new CountDownLatch(1)
    markers.put(m, latch)
    sc.setLocalProperty(MarkerProp, m)
    sc.setLocalProperty(StageProp, MarkerProp)
    try sc.parallelize(Seq(1), 1).count()
    finally { sc.setLocalProperty(MarkerProp, null); sc.setLocalProperty(StageProp, null) }
    latch.await(60, TimeUnit.SECONDS)
    Thread.sleep(50) // the marker job's own end and task events follow its start
  }
}

object SparkRecorder {
  /** Local property naming the benchmark stage that launched a job. */
  val StageProp = "perfbench.stage"
  private val MarkerProp = "perfbench.marker"
}

/** One micro-batch boundary as StreamingQueryProgress reports it. */
final case class Boundary(label: String, queryId: String, batchId: Long,
                          start: Double, triggerS: Double, addBatchS: Double,
                          inputRows: Long)

/** StreamingQueryListener the benchmark attaches to the `maintain`
  * workload: the per-boundary `triggerExecution` time is its op latency.
  * Queries are labelled by the loop that is running when they start
  * (`onQueryStarted` is delivered synchronously to the starting thread).
  * `onBoundary` sees each boundary as its progress event arrives.
  */
final class BoundaryRecorder(onBoundary: Boundary => Unit) extends StreamingQueryListener {
  @volatile var label: String = ""
  private val labels = new ConcurrentHashMap[String, String]()
  private val done = new ConcurrentHashMap[String, CountDownLatch]()
  private val recs = new ConcurrentLinkedQueue[Boundary]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    labels.put(e.id.toString, label)
    done.putIfAbsent(e.id.toString, new CountDownLatch(1))
  }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    if (d.containsKey("addBatch")) {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val b = Boundary(labels.getOrDefault(p.id.toString, "?"), p.id.toString,
        p.batchId, start, d.get("triggerExecution") / 1e3, d.get("addBatch") / 1e3,
        p.numInputRows)
      recs.add(b)
      onBoundary(b)
    }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    done.putIfAbsent(e.id.toString, new CountDownLatch(1))
    done.get(e.id.toString).countDown()
  }

  /** Block until every query of `label` has delivered its last event. */
  def awaitLabel(label: String): Unit =
    labels.asScala.collect { case (q, l) if l == label => q }
      .foreach(q => done.get(q).await(60, TimeUnit.SECONDS))

  def boundaries: Seq[Boundary] = recs.asScala.toSeq.sortBy(b => (b.start, b.batchId))
}
