package graft

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.FormattedMode
import java.util.concurrent.atomic.AtomicLong

/** Isolated per-gate timer and profiler: times ONLY the named gates
  * (after the shared warm-up) so a mover's number is not taken while 200
  * other gates churn the page cache and JIT around it, and splits each
  * pass into Spark jobs, stages, tasks, summed executor task time and
  * shuffle bytes — launch overhead (many tiny jobs/tasks) apart from
  * compute.
  *
  * Usage: runMain graft.TimeQueries <sfDir> <q1,q2,...> [passes]
  * Prints one JSON line per pass,
  *   {"query":...,"pass":...,"wall":...,"jobs":...,"stages":...,
  *    "tasks":...,"task_time_s":...,"shuffle_read_mb":...,
  *    "shuffle_write_mb":...}
  * then one per gate, {"query":...,"min":...,"runs":[...]}, and the last
  * pass's final (post-AQE) formatted plan on stderr.
  */
object TimeQueries {
  private val Usage =
    "usage: runMain graft.TimeQueries <sfDir> <q1,q2,...> [passes]"

  /** Counters for one pass, fed by the listener. */
  private object Profile extends SparkListener {
    val jobs, stages, tasks, taskTimeMs, shuffleReadB, shuffleWriteB =
      new AtomicLong(0L)
    private def all = Seq(jobs, stages, tasks, taskTimeMs, shuffleReadB,
      shuffleWriteB)
    def reset(): Unit = all.foreach(_.set(0L))
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskTimeMs.addAndGet(m.executorRunTime)
        shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def json: String =
      s""""jobs":${jobs.get},"stages":${stages.get},"tasks":${tasks.get},""" +
      s""""task_time_s":${Bench.fmt(taskTimeMs.get / 1000.0)},""" +
      s""""shuffle_read_mb":${Bench.fmt(shuffleReadB.get / 1e6)},""" +
      s""""shuffle_write_mb":${Bench.fmt(shuffleWriteB.get / 1e6)}"""
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(Usage)
      sys.exit(2)
    }
    val sfDir = args(0)
    val names = args(1).split(",").toSeq.filter(_.nonEmpty)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (names.isEmpty || unknown.nonEmpty) {
      System.err.println(
        if (names.isEmpty) s"empty query list\n$Usage"
        else s"unknown queries: ${unknown.mkString(", ")}\n$Usage")
      sys.exit(2)
    }
    val passes = if (args.length > 2) args(2).toInt else 3
    val spark = Harness.session()
    val sc = spark.sparkContext
    Harness.warm(spark, sfDir)
    sc.addSparkListener(Profile)
    names.foreach { name =>
      val runs = (1 to passes).map { p =>
        ListenerBusAccess.waitUntilEmpty(sc)
        Profile.reset()
        val (df, wall) = Harness.run(spark, name, sfDir)
        // the bus is async: drain it so the pass's last job is counted
        ListenerBusAccess.waitUntilEmpty(sc)
        println(s"""{"query":"$name","pass":$p,"wall":${Bench.fmt(wall)},""" +
          Profile.json + "}")
        if (p == passes)
          System.err.println(s"[plan] $name\n" +
            df.queryExecution.explainString(FormattedMode))
        wall
      }
      val runsJson = runs.map(Bench.fmt).mkString("[", ",", "]")
      println(s"""{"query":"$name","min":${Bench.fmt(runs.min)},"runs":$runsJson}""")
    }
    spark.stop()
  }
}
