package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.streaming.ContinuousIndexMaintenance

/** r17 (r16 verdict #1) — the lineage write-amplification probe: the
  * evidence that a continuous-loop boundary now writes O(DELTA) bytes,
  * not O(corpus), and that the vacuum bounds retained storage.
  *
  * Method: run the composed IVFADC loop (a
  * [[ContinuousIndexMaintenance.RetrainLoop]] with the IVF-PQ quantizer)
  * over `boundaries` micro-batches of a FIXED delta size at two corpus
  * scales (1× and `scaleUp`×, ids offset by c·10⁷ — the ScaleProbe
  * convention), and
  * measure, per boundary, the bytes of the artifact each lineage dir
  * gained. The claims under test, printed as one JSON line per run:
  *
  *  - `deltaBytesPerBoundary` is ~flat across corpus scales (the
  *    pre-r17 shape grew linearly: every boundary rewrote the corpus
  *    AND the index);
  *  - `compactBytes` (the compaction boundary's base) is corpus-sized
  *    — written once per compactEvery boundaries, not per boundary;
  *  - `retainedBytes` after the drain is a small multiple of one
  *    corpus+index copy (the vacuum retired superseded chains), with
  *    `retainedArtifacts` naming the surviving chain.
  *
  * Run per SF:  runMain graft.LineageIoProbe /root/testdata/sf0.01
  */
object LineageIoProbe {

  private def dirBytes(p: java.io.File): Long =
    if (!p.exists()) 0L
    else if (p.isFile) p.length()
    else p.listFiles().map(dirBytes).sum

  private def lineageArtifacts(root: String): Seq[(String, Long)] = {
    val f = new java.io.File(root)
    if (!f.exists()) Nil
    else f.listFiles().toSeq
      .filter(x => x.getName.matches("^[vd]\\d+$"))
      .map(x => x.getName -> dirBytes(x)).sortBy(_._1)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val boundaries = if (args.length > 1) args(1).toInt else 6
    val deltaRows = if (args.length > 2) args(2).toInt else 64
    val spark = Harness.session()

    val emb = Tables.embeddings(spark, sfDir).localCheckpoint()

    for (scaleUp <- Seq(1, 4)) {
      // corpus at scale c: the base table plus c−1 id-offset copies
      val corpus = (0 until scaleUp).map { c =>
        emb.select((col("vec_id") + lit(c * 10000000L)).as("vec_id"),
          col("embedding"))
      }.reduce(_ unionByName _).localCheckpoint()
      val n = corpus.count()
      val (coarse, pq) = Similarity.ivfPqTrainFixedPoint(corpus, dim = 64,
        nLists = 8, m = 4, codebookSize = 8,
        maxIterCoarse = 2, maxIterPq = 1)
      val init = Similarity.ivfPqEncodeFixedPoint(corpus, coarse, pq)
        .localCheckpoint()
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_lineage_io_x$scaleUp").toString
      val pol = ContinuousIndexMaintenance.LineagePolicy(compactEvery = 4)
      val loop = ContinuousIndexMaintenance.ivfPqRetrainLoop(spark,
        corpus, init, coarse, pq, 64, 8, 4, 8, 2, 1, 1000000L,
        "vec_id", "embedding", root, policy = pol)
      // fixed-size deltas: per boundary, `deltaRows` present ids get a
      // negated embedding — same delta bytes at every corpus scale
      val ids = corpus.select(col("vec_id")).orderBy(col("vec_id"))
        .limit(boundaries * deltaRows).collect().map(_.getLong(0))
      val dirs = Seq("corpus", "index", "cb", "census", "norm")
      val perBoundary = (0 until boundaries).map { b =>
        val slice = ids.slice(b * deltaRows, (b + 1) * deltaRows)
        val batch = corpus
          .filter(col("vec_id").isin(slice.toIndexedSeq: _*))
          .select(col("vec_id"),
            transform(col("embedding"), x => -x).as("embedding"),
            lit("changed").as("status"))
        loop.processBatch(batch, b.toLong)
        // THIS boundary's artifact bytes, read right after its writes
        // (a growth diff would under-count under the vacuum)
        val wrote = dirs.map { d =>
          d -> lineageArtifacts(s"$root/$d")
            .filter(_._1.matches(s"^[vd]$b$$")).map(_._2).sum
        }.toMap
        (b, wrote)
      }
      val deltaBounds = perBoundary.filter { case (b, _) =>
        (b + 1) % 4 != 0 } // non-compaction boundaries under compactEvery=4
      val compactBounds = perBoundary.filter { case (b, _) =>
        (b + 1) % 4 == 0 }
      def stateBytes(sel: Seq[(Int, Map[String, Long])]) =
        sel.map { case (_, w) => w("corpus") + w("index") }
      val deltaAvg =
        if (deltaBounds.isEmpty) 0L
        else stateBytes(deltaBounds).sum / deltaBounds.size
      val compactAvg =
        if (compactBounds.isEmpty) 0L
        else stateBytes(compactBounds).sum / compactBounds.size
      val retained = dirs.map(d =>
        lineageArtifacts(s"$root/$d").map(_._2).sum).sum
      val baseline = dirBytes(new java.io.File(root)) // == retained + strays
      val arts = lineageArtifacts(s"$root/index").map(_._1).mkString(",")
      println(
        s"""{"probe":"lineage_io","sf":"$sfDir","scaleUp":$scaleUp,""" +
        s""""corpusRows":$n,"deltaRowsPerBoundary":$deltaRows,""" +
        s""""boundaries":$boundaries,"compactEvery":4,""" +
        s""""deltaBytesPerBoundary":$deltaAvg,""" +
        s""""compactBytes":$compactAvg,""" +
        s""""retainedBytes":$retained,"rootBytes":$baseline,""" +
        s""""retainedIndexArtifacts":"$arts"}""")
    }
    spark.stop()
  }
}
