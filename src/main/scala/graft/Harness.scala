package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The one tooling harness: the session every `main` under `graft` (and
  * the spec suite's `SparkSpec`) runs on, the shared warm-up, and the
  * gate timer. The library posture (AQE, RocksDB, extensions) is
  * [[GraftSession.create]]; this is the plain session the 268 oracle
  * gates are verified and benched under, so its settings are pinned by
  * HarnessSpec.
  */
object Harness {

  /** `$SPARK_GRAFT_CPUS` (default 32), honoured by every tool. A string,
    * so a `*` experiment reaches the master URL verbatim.
    */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** JIT/codegen warm-up, so the first timed gates aren't charged for
    * cold-compiling the scan/join/agg paths every later gate reuses.
    */
  val warmup: Seq[String] = Seq("q01_agg_pricing_summary", "d01_dedup_exact",
    "t01_lang_id", "q20_join_revenue_by_nation")

  /** The static settings of a `cores`-core tooling session: one shuffle
    * partition per core, UTC, no UI.
    */
  private[graft] def settings(cores: String): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** Build (or reuse) the tooling session with a fresh temp warehouse and
    * log level WARN. `conf` is applied last, so it can also override the
    * master (ClusterSmoke's `local-cluster`).
    */
  def session(cores: String = cpus,
              conf: Map[String, String] = Map.empty): SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft-warehouse")
    val all = settings(cores) ++
      Map("spark.sql.warehouse.dir" -> warehouse.toString) ++ conf
    val s = all.foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Build `gate` over `sfDir` and materialise every output row
    * (UnsafeRow, all columns — a plain count() lets Catalyst prune
    * projection-only gates to nothing). Returns the executed frame, whose
    * plan is now AQE's final one, and the wall seconds.
    */
  def run(spark: SparkSession, gate: String, sfDir: String): (DataFrame, Double) = {
    val build = SparkEntry.queries(gate)
    val t0 = System.nanoTime()
    val df = build(spark, sfDir)
    df.queryExecution.toRdd.count()
    (df, (System.nanoTime() - t0) / 1e9)
  }

  def time(spark: SparkSession, gate: String, sfDir: String): Double =
    run(spark, gate, sfDir)._2

  /** Run the [[warmup]] gates once, off the clock. A failure is reported
    * by gate name and does not stop the caller.
    */
  def warm(spark: SparkSession, sfDir: String): Unit =
    warmup.foreach { q =>
      try time(spark, q, sfDir)
      catch { case NonFatal(e) =>
        System.err.println(s"[warmup] $q failed: ${e.getMessage}") }
    }
}
