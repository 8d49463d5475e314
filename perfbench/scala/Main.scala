package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One timed op: a job (ingest), a boundary (maintain) or a stage
  * (curate). `kind` splits ops into classes for per-layer metrics.
  */
final case class Op(trace: String, kind: String, start: Double, end: Double, ok: Boolean) {
  def secs: Double = (end - start) / 1e3
}

/** What one round of a workload measured. `check` lists the output
  * checks that failed (empty = correct).
  */
final case class Round(wallS: Double, ops: Seq[Op],
                       inputBytes: Long, retainedBytes: Long,
                       check: Seq[String], digest: String,
                       notes: Seq[(String, Any)] = Nil)

/** A workload: set-up (inputs, staging, initial state) is timed apart
  * from the measured run; `run` checks its outputs after its timed
  * region and reports per-layer metrics when given a tracer.
  */
trait Workload {
  def sizes: Seq[(String, Any)]
  /** Digest of every input the seed generates; needs no Spark session. */
  def inputsDigest: String
  /** Rounds run and discarded before the timed ones (a fixed number). */
  def warmRounds: Int
  /** Nominal seconds one timed round measures: `--seconds` asks for
    * ceil(seconds / roundS) timed rounds, a count that does not depend
    * on how fast the program runs.
    */
  def roundS: Double
  def setup(round: Int): Unit
  def run(round: Int, tracer: Option[Tracer]): Round
  def layerMetrics(tracer: Tracer): Seq[(String, Double, String)]
}

/** The traced run's recorders, attached only when tracing is on. */
final class Tracer(spark: SparkSession) {
  val spans = new Spans
  /** Time the tracing code itself runs while a round is timed. */
  val cost = new Cost
  val recorder = new SparkRecorder(spark.sparkContext, cost)
  spark.sparkContext.addSparkListener(recorder)
  def close(): Unit = spark.sparkContext.removeSparkListener(recorder)
}

object Stats {
  /** Quantile by linear interpolation between closest ranks. */
  def q(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  def median(xs: Seq[Double]): Double = q(xs, 0.5)
}

object Fs {
  def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatMap(_.iterator).flatMap(walk)
    else if (f.isFile) Iterator(f) else Iterator.empty
  def bytes(path: String, keep: File => Boolean = _ => true): Long =
    walk(new File(path)).filter(keep).map(_.length()).sum
  def rm(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c => rm(c.getPath)))
    f.delete()
  }
  val MB: Double = 1024.0 * 1024.0
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      kv.map { case (k, x) => str(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case p: Product => p.productIterator.map(apply).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

/** Benchmark entry point, run by perfbench/run.py:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --out FILE
  *   perfbench.Main --workload W --seed N --inputs-digest 1
  *
  * Writes one JSON result record to FILE. A run starts the session, runs
  * the workload's fixed number of warm rounds and discards their
  * timings (their outputs are still checked), then runs its timed
  * rounds, each set up anew. Untraced (`--trace 0`), the timed rounds
  * give the end-to-end metrics. Traced (`--trace 1`), one timed round
  * runs with the listeners and spans on, in the same place in the run
  * as the untraced run's first timed round, and gives the per-layer
  * metrics. `trace.wall_s` is that round's wall time (against the
  * untraced run's `wall_s`, the difference between the two runs), and
  * `trace.overhead_frac` is the time the tracing code itself ran, as a
  * share of it.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wname = opts("workload")
    val seed = opts("seed").toLong
    val cores = Runtime.getRuntime.availableProcessors()
    def workload(spark: SparkSession, work: String): Workload = wname match {
      case "ingest" => new Ingest(spark, seed, work, cores)
      case "maintain" => new Maintain(spark, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    if (opts.contains("inputs-digest")) {
      println(workload(null, "").inputsDigest)
      return
    }
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work")).getAbsolutePath

    val t0 = Clock.nowMs
    val spark = graft.GraftSession.create(master = Some(s"local[$cores]"),
      shufflePartitions = cores, appName = s"perfbench-$wname")
    spark.sparkContext.setLogLevel("ERROR")
    var exit = 0
    try {
      val w = workload(spark, work)
      val timedRounds = if (trace) 1 else math.max(1, math.ceil(seconds / w.roundS).toInt)
      val sessionS = (Clock.nowMs - t0) / 1e3
      println(f"[perfbench] session started in $sessionS%.3f s")

      var round = 0
      def oneRound(tracer: Option[Tracer]): (Double, Round) = {
        val r = round
        round += 1
        val s0 = Clock.nowMs
        w.setup(r)
        val setupS = (Clock.nowMs - s0) / 1e3
        println(f"[perfbench] round $r set up in $setupS%.3f s")
        val res = w.run(r, tracer)
        println(f"[perfbench] round $r measured ${res.wallS}%.3f s, checked by ${(Clock.nowMs - s0) / 1e3 - setupS}%.3f s")
        (setupS, res)
      }
      val w0 = Clock.nowMs
      val warm = Seq.fill(w.warmRounds)(oneRound(None)._2)
      val warmS = (Clock.nowMs - w0) / 1e3
      // the traced round, with its per-layer metrics, computed while the
      // listener is still attached
      var tracedRound: Option[(Tracer, Seq[(String, Double, String)])] = None
      val timed = if (trace) {
        val tr = new Tracer(spark)
        try {
          val (s, res) = oneRound(Some(tr))
          tracedRound = Some((tr, if (res.check.isEmpty) w.layerMetrics(tr) else Nil))
          Seq((s, res))
        } finally tr.close()
      } else Seq.fill(timedRounds)(oneRound(None))
      val rounds = timed.map(_._2)

      val ops = rounds.flatMap(_.ops)
      val failedChecks = (warm ++ rounds).flatMap(_.check).distinct
      val attempted = ops.size
      val failed = ops.count(!_.ok) // a warm round's failed jobs fail its checks
      val correct = failedChecks.isEmpty && failed == 0
      val lat = ops.filter(_.ok).map(_.secs)
      val metrics: Seq[(String, Double, String)] =
        if (!correct) Nil
        else if (trace) {
          val (tr, layers) = tracedRound.get
          layers ++ Seq(("trace.wall_s", rounds.head.wallS, "s"),
            ("trace.overhead_frac", tr.cost.seconds / rounds.head.wallS, "ratio"))
        } else Seq(
          ("setup_s", sessionS + warmS + Stats.median(timed.map(_._1)), "s"),
          ("wall_s", Stats.median(rounds.map(_.wallS)), "s"),
          ("op_p50_s", Stats.q(lat, 0.5), "s"),
          ("op_p90_s", Stats.q(lat, 0.9), "s"),
          ("space_amp", Stats.median(rounds.map(r =>
            r.retainedBytes.toDouble / r.inputBytes)), "ratio"))

      val record = Seq(
        "workload" -> wname, "seed" -> seed, "trace" -> trace,
        "seconds" -> seconds, "cores" -> cores,
        "sizes" -> w.sizes,
        "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
        "failed_frac" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted),
        "failed_checks" -> failedChecks,
        "warm_rounds" -> warm.size,
        "rounds" -> rounds.size,
        "op_samples" -> lat.size,
        "op_kinds" -> ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
          k -> Map("count" -> os.size, "p50_s" -> Stats.median(os.map(_.secs)),
            "max_s" -> os.map(_.secs).max) },
        "session_s" -> sessionS,
        "warm_s" -> warmS,
        "warm_round_wall_s" -> warm.map(_.wallS),
        "setup_rounds_s" -> timed.map(_._1),
        "round_wall_s" -> rounds.map(_.wallS),
        "output_digests" -> rounds.map(_.digest),
        "notes" -> rounds.map(_.notes),
        "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) },
        "spans" -> tracedRound.toSeq.flatMap(_._1.spans.summary.map { case (n, c, tot, self) =>
          n -> Map("count" -> c, "total_s" -> tot, "self_s" -> self) }))
      val out = new File(opts("out"))
      out.getParentFile.mkdirs()
      java.nio.file.Files.write(out.toPath, Json(record).getBytes("UTF-8"))
      tracedRound.foreach { case (tr, _) =>
        val spansOut = new File(out.getPath.stripSuffix(".json") + ".spans.jsonl")
        java.nio.file.Files.write(spansOut.toPath, tr.spans.toSeq.map(s => Json(Seq(
          "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
          "start_ms" -> s.start, "end_ms" -> s.end))).mkString("", "\n", "\n").getBytes("UTF-8"))
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        exit = 1
    } finally spark.stop()
    sys.exit(exit)
  }
}
