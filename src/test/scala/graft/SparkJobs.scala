package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs `body` launches from the calling thread, and the
  * stages of those jobs that wrote shuffle output, read once the listener
  * bus has delivered every event. At small scale every job and every
  * shuffle is fixed cost, so specs pin these counts as part of a code
  * path's contract.
  */
object SparkJobs {
  final case class Count(jobs: Int, shuffleStages: Int)

  private val Tag = "graft.spec.sparkJobs"

  def of(spark: SparkSession)(body: => Unit): Count = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val shuffleStages = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Tag) == tag)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId) &&
            e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          shuffleStages.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, tag)
    try body
    finally {
      sc.setLocalProperty(Tag, null)
      ListenerBusAccess.waitUntilEmpty(sc)
      sc.removeSparkListener(listener)
    }
    Count(jobs.get, shuffleStages.get)
  }
}
