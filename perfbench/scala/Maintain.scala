package perfbench

import graft.operators.{Dedup, Similarity}
import graft.streaming.ContinuousIndexMaintenance
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** `maintain`: a corpus's two similarity indexes, built in batch and then
  * kept current under seeded delta batches.
  *
  *  1. Build (batch): `index_build` trains the IVF-PQ codebooks and
  *     encodes the vectors; `minhash_index` computes the banded MinHash
  *     index of the documents. Each is one public operator call whose
  *     output is written to parquet.
  *  2. Maintain (continuous): the delta batches drain through the MinHash
  *     near-dup index loop, then through the IVF-PQ loop with
  *     drift-triggered retrains, each starting from the index phase 1
  *     built.
  *
  * One op is one loop boundary, timed by StreamingQueryProgress'
  * `triggerExecution`; the build stages are the operators layer.
  */
final class Maintain(spark: SparkSession, seed: Long, work: String) extends Workload {
  import spark.implicits._
  import Maintain._

  // documents: Zipf vocabulary with a planted share of near-duplicates
  private val docs = 1000; private val wordsMin = 50; private val wordsMax = 250
  private val vocabSize = 5000; private val vocabSkew = 1.0
  private val dupShare = 0.15; private val mutateP = 0.02
  // vectors: Gaussian mixture, one IVF list per component on average
  private val vecs = 2000; private val dim = 64; private val comps = 16
  private val nLists = 16; private val pqM = 8; private val cbSize = 16
  private val iterCoarse = 2; private val iterPq = 1
  // deltas: ~1 % of each corpus per boundary
  private val ivfBatches = 3; private val ivfDriftBatches = 1
  private val ivfChanged = 10; private val ivfAdded = 5; private val ivfRemoved = 5
  private val drift = Similarity.DriftPolicy(3L, 5L)
  private val mhBatches = 16
  private val mhChanged = 4; private val mhAdded = 3; private val mhRemoved = 3
  private val compactEvery = ContinuousIndexMaintenance.LineagePolicy().compactEvery

  def sizes: Seq[(String, Any)] = Seq(
    "docs" -> docs, "words" -> s"$wordsMin-$wordsMax", "vocabulary" -> vocabSize,
    "zipf_s" -> vocabSkew, "near_dup_share" -> dupShare, "near_dup_mutation" -> mutateP,
    "vectors" -> vecs, "dim" -> dim, "mixture_components" -> comps,
    "nLists" -> nLists, "m" -> pqM, "codebookSize" -> cbSize,
    "ivfpq.boundaries" -> ivfBatches, "ivfpq.drift_boundaries" -> ivfDriftBatches,
    "ivfpq.delta" -> s"$ivfChanged changed + $ivfAdded added + $ivfRemoved removed; drift boundary: ${ivfChanged + ivfAdded + ivfRemoved} changed to another component",
    "ivfpq.drift_policy" -> s"${drift.movedNumer}/${drift.movedDenom}",
    "minhash.boundaries" -> mhBatches,
    "minhash.delta" -> s"$mhChanged changed + $mhAdded added + $mhRemoved removed",
    "compactEvery" -> compactEvery)

  val Loops: Seq[String] = Seq("ivfpq", "minhash")

  // ------------------------------------------------------------ inputs

  private final class Inputs(seed: Long) {
    private val rnd = new Random(seed)
    private val en = new Gen.Vocabulary(vocabSize, vocabSkew)
    private def english() =
      Gen.document(rnd, en, wordsMin + rnd.nextInt(wordsMax - wordsMin + 1))
    val docsInit: Seq[(Long, String)] = {
      val out = mutable.ArrayBuffer.empty[(Long, String)]
      (0 until docs).foreach { i =>
        out += ((i.toLong,
          if (i > 0 && rnd.nextDouble() < dupShare) Gen.mutate(rnd, en, out(rnd.nextInt(i))._2, mutateP)
          else english()))
      }
      out.toSeq
    }
    val mix = new Gen.Mixture(rnd.nextLong(), dim, comps, 1.0)
    val vectors: Seq[(Long, Vec, Int)] = (0 until vecs).map { i =>
      val c = mix.comp(rnd); (i.toLong, mix.sample(rnd, c), c)
    }
    // the drift boundaries (the last ones, so that every seed puts the
    // retrain at the same place) move every vector they touch to another
    // component
    val driftAt: Set[Int] = (ivfBatches - ivfDriftBatches until ivfBatches).toSet
    val ivfDeltas: Seq[Seq[D[Vec]]] = {
      val live = mutable.LinkedHashMap(vectors.map(r => r._1 -> (r._2, r._3)): _*)
      var nextId = vecs.toLong
      (0 until ivfBatches).map { b =>
        val ids = rnd.shuffle(live.keys.toVector)
        if (driftAt(b)) ids.take(ivfChanged + ivfAdded + ivfRemoved).map { id =>
          val c = (live(id)._2 + 1 + rnd.nextInt(comps - 1)) % comps
          val v = mix.sample(rnd, c); live(id) = (v, c); D(id, Some(v), "changed")
        }
        else {
          val ch = ids.take(ivfChanged).map { id =>
            val v = mix.jitter(rnd, live(id)._1, 0.02); live(id) = (v, live(id)._2)
            D(id, Some(v), "changed")
          }
          val rm = ids.slice(ivfChanged, ivfChanged + ivfRemoved).map { id =>
            live.remove(id); D[Vec](id, None, "removed")
          }
          val add = (0 until ivfAdded).map { _ =>
            val c = mix.comp(rnd); val v = mix.sample(rnd, c)
            val id = nextId; nextId += 1; live(id) = (v, c); D(id, Some(v), "added")
          }
          ch ++ rm ++ add
        }
      }
    }
    // rewritten, removed and new documents
    val docDeltas: Seq[Seq[D[String]]] = {
      val live = mutable.LinkedHashSet(docsInit.map(_._1): _*)
      var nextId = docs.toLong
      (0 until mhBatches).map { _ =>
        val ids = rnd.shuffle(live.toVector)
        val ch = ids.take(mhChanged).map(id => D(id, Some(english()), "changed"))
        val rm = ids.slice(mhChanged, mhChanged + mhRemoved).map { id => live.remove(id); D[String](id, None, "removed") }
        val add = (0 until mhAdded).map { _ => val id = nextId; nextId += 1; live += id; D(id, Some(english()), "added") }
        ch ++ rm ++ add
      }
    }
    def bytes: Long =
      docsInit.map(8L + _._2.length).sum + (vecs + ivfDeltas.flatten.size) * (8L + 4L * dim) +
        docDeltas.flatten.map(d => 8L + d.v.map(_.length).getOrElse(0)).sum
  }

  private def roundDir(r: Int) = s"$work/maintain/round-$r"
  private var in: Inputs = _

  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("status", StringType)))
  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("status", StringType)))

  /** Stage batches as one parquet file each in `dir`, in one Spark job,
    * with increasing modification times so the file source delivers them
    * in batch order, one per trigger.
    */
  private def stageBatches(rows: Seq[Row], schema: StructType, dir: String): Unit = {
    val tmp = s"$dir.tmp"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema.add("__b", IntegerType))
      .repartition(col("__b")).write.partitionBy("__b").parquet(tmp)
    new java.io.File(dir).mkdirs()
    val t0 = System.currentTimeMillis() - 3600 * 1000L
    Option(new java.io.File(tmp).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("__b=")).foreach { d =>
        val b = d.getName.stripPrefix("__b=").toInt
        val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
        require(files.length == 1, s"staging: batch $b has ${files.length} files")
        val target = new java.io.File(dir, f"batch-$b%05d.parquet")
        require(files.head.renameTo(target))
        target.setLastModified(t0 + b * 1000L)
      }
    Fs.rm(tmp)
  }

  def inputsDigest: String = {
    val i = new Inputs(seed)
    def vec(v: Vec) = v.mkString(",")
    Layers.digest(i.docsInit.map(_.toString) ++ i.vectors.map(v => s"${v._1}:${vec(v._2)}") ++
      i.ivfDeltas.zipWithIndex.flatMap { case (ds, b) => ds.map(d => s"$b:${d.id}:${d.status}:${d.v.map(vec)}") } ++
      i.docDeltas.zipWithIndex.flatMap { case (ds, b) => ds.map(d => s"$b:$d") }).toString
  }

  /** Generate and stage the documents, the vectors and both loops' delta
    * batches.
    */
  def setup(round: Int): Unit = {
    val dir = roundDir(round)
    Fs.rm(dir)
    in = new Inputs(seed)
    in.docsInit.toDF("doc_id", "text").write.parquet(s"$dir/in/docs")
    in.vectors.map(v => (v._1, v._2.toSeq)).toDF("vec_id", "embedding").write.parquet(s"$dir/in/vectors")
    stageBatches(in.ivfDeltas.zipWithIndex.flatMap { case (ds, b) =>
      ds.map(d => Row(d.id, d.v.map(_.toSeq).orNull, d.status, b)) }, vecSchema, s"$dir/stream/ivfpq")
    stageBatches(in.docDeltas.zipWithIndex.flatMap { case (ds, b) =>
      ds.map(d => Row(d.id, d.v.orNull, d.status, b)) }, docSchema, s"$dir/stream/minhash")
  }

  /** No warm-up: a (re)started maintenance service builds its indexes
    * and meets its first boundaries cold, so that is what is measured.
    */
  val warmRounds = 0
  val roundS = 50.0

  private var lastRun: Option[Traced] = None

  /** The lineage version directories (`v<k>` bases, `d<k>` deltas) under
    * a loop's state directory, as paths relative to it.
    */
  private def versions(stateDir: String): Seq[String] = {
    val root = new java.io.File(stateDir)
    def walk(f: java.io.File, rel: String, depth: Int): Seq[String] =
      Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory).flatMap { c =>
        val r = if (rel.isEmpty) c.getName else s"$rel/${c.getName}"
        if (VersionDir.matches(c.getName)) Seq(r)
        else if (depth > 0) walk(c, r, depth - 1) else Nil
      }
    walk(root, "", 1)
  }

  def run(round: Int, tracer: Option[Tracer]): Round = {
    val dir = roundDir(round)
    val sc = spark.sparkContext
    def read(p: String) = spark.read.parquet(s"$dir/$p")

    // ---- phase 1: build
    val stages = mutable.ArrayBuffer.empty[Op]
    def stage(s: String)(body: => DataFrame): Unit = {
      sc.setLocalProperty(SparkRecorder.StageProp, s)
      val t = Clock.nowMs
      try body.write.parquet(s"$dir/out/$s")
      finally sc.setLocalProperty(SparkRecorder.StageProp, null)
      stages += Op(s, s, t, Clock.nowMs, ok = true)
    }
    var cbs: (Array[Array[Long]], Array[Array[Array[Long]]]) = null
    stage("index_build") {
      cbs = Similarity.ivfPqTrainFixedPoint(read("in/vectors"), dim, nLists, pqM, cbSize,
        iterCoarse, iterPq)
      Similarity.ivfPqEncodeFixedPoint(read("in/vectors"), cbs._1, cbs._2)
    }
    stage("minhash_index")(Dedup.minhashIndexState(read("in/docs"), "text", "doc_id"))

    // ---- phase 2: maintain
    // traced: the lineage versions on disk as each boundary ends, from
    // which the compaction boundaries are read
    val seen = new java.util.concurrent.ConcurrentHashMap[(String, Long), Seq[String]]()
    val rec = new BoundaryRecorder(b => tracer.foreach(_.cost {
      seen.put((b.label, b.batchId), versions(s"$dir/state/${b.label}"))
    }))
    val windows = mutable.LinkedHashMap.empty[String, (Double, Double)]
    def loop[T](label: String)(f: => T): T = {
      rec.label = label
      spark.streams.addListener(rec)
      val s = Clock.nowMs
      try f finally {
        windows(label) = (s, Clock.nowMs)
        rec.awaitLabel(label)
        spark.streams.removeListener(rec)
      }
    }
    def stream(schema: StructType, l: String) =
      spark.readStream.option("maxFilesPerTrigger", "1").schema(schema).parquet(s"$dir/stream/$l")
    val mh = loop("minhash")(ContinuousIndexMaintenance.continuousIndex(spark,
      read("out/minhash_index"), stream(docSchema, "minhash"), "text", "doc_id",
      stateDir = Some(s"$dir/state/minhash")))
    val ivf = loop("ivfpq")(ContinuousIndexMaintenance.continuousIvfPqWithRetrain(spark,
      read("in/vectors"), read("out/index_build"), cbs._1, cbs._2, stream(vecSchema, "ivfpq"),
      dim, nLists, pqM, cbSize, iterCoarse, iterPq,
      stateRoot = Some(s"$dir/state/ivfpq"), driftPolicy = Some(drift)))
    val wall = (stages.map(o => o.end - o.start).sum + windows.values.map(w => w._2 - w._1).sum) / 1e3
    val bounds = rec.boundaries
    val ops = bounds.map(b => Op(s"${b.label}:${b.batchId}", b.label,
      b.start, b.start + b.triggerS * 1e3, ok = true))

    // ---- output checks (outside the timed regions): final states equal
    // the one-shot rebuilds of the final corpora
    val failures = Seq.newBuilder[String]
    val finals = mutable.ArrayBuffer.empty[String]
    def same(what: String, got: DataFrame, want: DataFrame): Unit = {
      val g = Layers.rows(got)
      finals ++= g
      if (g.sorted != Layers.rows(want).sorted)
        failures += s"$what: final state differs from the one-shot rebuild"
    }
    Seq("ivfpq" -> in.ivfDeltas.size, "minhash" -> in.docDeltas.size).foreach { case (l, n) =>
      val c = bounds.count(_.label == l)
      if (c != n) failures += s"$l: $c boundaries reported, $n batches staged"
    }
    // IVF-PQ: retrain from scratch on the corpus of the last retrain
    // boundary (s27), then encode the final corpus
    val vecInit = in.vectors.map(r => r._1 -> r._2)
    def vecDf(rows: Seq[(Long, Vec)]) = rows.map(r => (r._1, r._2.toSeq)).toDF("vec_id", "embedding")
    val cbFinal = ivf.retrainedAt.lastOption.fold(cbs) { b =>
      Similarity.ivfPqTrainFixedPoint(vecDf(corpusAfter(vecInit, in.ivfDeltas, b)),
        dim, nLists, pqM, cbSize, iterCoarse, iterPq)
    }
    same("ivfpq", ivf.state.select("id", "cid", "codes"),
      Similarity.ivfPqEncodeFixedPoint(vecDf(corpusAfter(vecInit, in.ivfDeltas, Long.MaxValue - 1)),
        cbFinal._1, cbFinal._2).select("id", "cid", "codes"))
    if (ivf.retrainedAt.isEmpty) failures += "ivfpq: the seeded drift fired no retrain"
    // MinHash: the banded index of the final corpus
    same("minhash", mh.state.select("id", "band", "band_hash"),
      Dedup.minhashIndexState(corpusAfter(in.docsInit, in.docDeltas, Long.MaxValue - 1)
        .toDF("doc_id", "text"), "text", "doc_id").select("id", "band", "band_hash"))

    tracer.foreach(_ => lastRun = Some(Traced(round, stages.toSeq, bounds, windows.toMap,
      ivf.retrainedAt, seen.asScala.toMap)))
    Round(wall, ops, in.bytes, Fs.bytes(s"$dir/out") + Fs.bytes(s"$dir/state"),
      failures.result(), Layers.digest(finals.toSeq).toString,
      Seq("stage_s" -> stages.map(o => o.kind -> o.secs).toSeq,
        "ivfpq.retrained_at" -> ivf.retrainedAt, "ivfpq.drift_at" -> in.driftAt.toSeq.sorted))
  }

  def layerMetrics(tr: Tracer): Seq[(String, Double, String)] = {
    val t = lastRun.get
    val dir = roundDir(t.round)
    tr.recorder.drain()
    val jobs = tr.recorder.jobs
    val tasksByJob = tr.recorder.taskRecs.groupBy(_.job)
    def tasksOf(js: Seq[JobRec]) = js.flatMap(j => tasksByJob.getOrElse(j.id, Nil))

    // build stages, attributed by the stage property
    val stageJobs = jobs.filter(_.stage != null).groupBy(_.stage)
    val perStage = t.stages.flatMap { o =>
      val id = tr.spans.add(0, o.trace, "stage." + o.kind, o.start, o.end)
      val js = stageJobs.getOrElse(o.kind, Nil)
      js.foreach(j => tr.spans.add(id, o.trace, "spark.job", j.start, j.end))
      val ts = tasksOf(js)
      Seq(
        (s"operators.${o.kind}.time_s", o.secs, "s"),
        (s"operators.${o.kind}.spark_jobs", js.size.toDouble, "count"),
        (s"operators.${o.kind}.task_s", ts.map(_.runS).sum, "s"),
        (s"operators.${o.kind}.shuffle_mb", ts.map(_.shuffleWriteB).sum / Fs.MB, "MB"))
    }

    // loop boundaries, attributed by streaming query and batch id
    val batchJobs = jobs.filter(_.queryId != null).groupBy(j => (j.queryId, j.batchId))
    def jobsOf(b: Boundary) = batchJobs.getOrElse((b.queryId, b.batchId.toString), Nil)
    t.windows.foreach { case (l, (s, e)) =>
      val loop = tr.spans.add(0, l, "loop." + l, s, e)
      t.bounds.filter(_.label == l).foreach { b =>
        val trace = s"$l:${b.batchId}"
        val id = tr.spans.add(loop, trace, s"boundary.$l", b.start, b.start + b.triggerS * 1e3)
        jobsOf(b).foreach(j => tr.spans.add(id, trace, "spark.job", j.start, j.end))
      }
    }
    val perLoop = Loops.flatMap { l =>
      val lb = t.bounds.filter(_.label == l)
      val js = lb.flatMap(jobsOf)
      val ts = tasksOf(js)
      val (s, e) = t.windows(l)
      val n = math.max(lb.size, 1).toDouble
      Seq(
        (s"streaming.$l.boundary_s_p50", Stats.median(lb.map(_.triggerS)), "s"),
        (s"streaming.$l.spark_jobs_per_boundary", js.size / n, "count"),
        (s"streaming.$l.task_s_per_boundary", ts.map(_.runS).sum / n, "s"),
        (s"streaming.$l.idle_frac", Intervals.idleFrac(ts.map(x => (x.launch, x.finish)), s, e), "ratio"),
        (s"streaming.$l.written_mb_per_boundary", ts.map(_.outputB).sum / Fs.MB / n, "MB"),
        (s"streaming.$l.state_mb", Fs.bytes(s"$dir/state/$l") / Fs.MB, "MB"))
    }
    // compaction boundaries, from what the loops wrote: a boundary that
    // left a full base `v<batchId>` in a lineage that chains deltas
    // (one that has held a `d<k>` version), other than a retrain
    def lineage(v: String) = v.split('/').init.mkString("/")
    val chained = t.versions.toSeq.flatMap { case ((l, _), vs) =>
      vs.filter(_.split('/').last.startsWith("d")).map(v => (l, lineage(v))) }.toSet
    val compact = t.bounds.filter { b =>
      !(b.label == "ivfpq" && t.retrainedAt.contains(b.batchId)) &&
        t.versions.getOrElse((b.label, b.batchId), Nil).exists(v =>
          v.split('/').last == s"v${b.batchId}" && chained((b.label, lineage(v))))
    }
    println(s"[perfbench] compaction boundaries: ${compact.map(b => s"${b.label}:${b.batchId}").mkString(" ")}")
    val retrain = t.bounds.filter(b => b.label == "ivfpq" && t.retrainedAt.contains(b.batchId))
    perStage ++ perLoop ++ Seq(
      ("streaming.compaction_boundary_s_p50", Stats.median(compact.map(_.triggerS)), "s"),
      ("streaming.retrain_boundary_s_p50", Stats.median(retrain.map(_.triggerS)), "s"),
      ("streaming.trigger_overhead_s_p50", Stats.median(t.bounds.map(b => b.triggerS - b.addBatchS)), "s")) ++
      Layers.spark(tr, t.stages.map(o => (o.start, o.end)) ++ t.windows.values.toSeq)
  }
}

object Maintain {
  type Vec = Array[Float]

  /** One delta row: id, new value (None = removed), status. */
  final case class D[V](id: Long, v: Option[V], status: String)

  /** The corpus after applying delta batches 0..upTo, last writer wins. */
  def corpusAfter[V](init: Seq[(Long, V)], deltas: Seq[Seq[D[V]]], upTo: Long): Seq[(Long, V)] = {
    val m = mutable.LinkedHashMap(init: _*)
    deltas.take(math.min(upTo + 1, deltas.size.toLong).toInt).foreach(_.foreach { d =>
      d.v match { case Some(v) => m(d.id) = v; case None => m.remove(d.id) }
    })
    m.toSeq
  }

  /** What the traced round leaves for the per-layer metrics. */
  final case class Traced(round: Int, stages: Seq[Op], bounds: Seq[Boundary],
                          windows: Map[String, (Double, Double)], retrainedAt: Seq[Long],
                          versions: Map[(String, Long), Seq[String]])

  /** A lineage version directory: `v<k>` (full base) or `d<k>` (delta). */
  val VersionDir = "^[vd][0-9]+$".r
}
