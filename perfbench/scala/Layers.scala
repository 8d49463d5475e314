package perfbench

import org.apache.spark.sql.DataFrame

/** Metrics shared by every workload's traced run. */
object Layers {
  /** Whole-run Spark metrics over the traced round's timed windows. */
  def spark(tr: Tracer, windows: Seq[(Double, Double)]): Seq[(String, Double, String)] = {
    def within(t: Double) = windows.exists { case (s, e) => t >= s && t <= e }
    val jobs = tr.recorder.jobs.filter(j => within(j.start))
    val ids = jobs.map(_.id).toSet
    val tasks = tr.recorder.taskRecs.filter(t => ids(t.job))
    val span = windows.map(w => w._2 - w._1).sum
    val busy = windows.map { case (s, e) =>
      Intervals.union(tasks.map(t => (math.max(t.launch, s), math.min(t.finish, e)))) }.sum
    Seq(
      ("spark.jobs", jobs.size.toDouble, "count"),
      ("spark.tasks", tasks.size.toDouble, "count"),
      ("spark.task_s", tasks.map(_.runS).sum, "s"),
      ("spark.idle_frac", if (span <= 0) 0.0 else 1.0 - busy / span, "ratio"),
      ("spark.shuffle_mb", tasks.map(_.shuffleWriteB).sum / Fs.MB, "MB"),
      ("spark.output_mb", tasks.map(_.outputB).sum / Fs.MB, "MB"),
      ("spark.gc_s", tasks.map(_.gcS).sum, "s"))
  }

  /** A small DataFrame's rows, collected as canonical strings. */
  def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case other => String.valueOf(other)
    }.mkString("|"))

  /** Order-independent digest of a set of rows. */
  def digest(rows: Seq[String]): Gen.Digest =
    rows.foldLeft(Gen.EmptyDigest)((d, r) => d + Gen.hash64(r))
}
