package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction — the standing maintenance job of every
  * large-scale pipeline: streaming ingest and per-task writes produce
  * directories of tiny files whose open/footer overhead dominates scans.
  *
  * The output file count is derived from the input's MEASURED on-disk
  * bytes (compressed parquet), not row counts or guesses:
  * ceil(totalBytes / targetBytes), floored at 1. The rewrite is one
  * round-robin shuffle (`repartition(n)`) so output files are
  * byte-balanced regardless of input skew.
  */
object Compaction {

  /** Total bytes + file count under `dir` (recursive, data files only). */
  def footprint(spark: SparkSession, dir: String): (Long, Int) = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(root, true)
    var bytes = 0L
    var files = 0
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) { bytes += f.getLen; files += 1 }
    }
    (bytes, files)
  }

  /** Compacts `inDir` (parquet) into ~`targetBytes` files at `outDir`.
    * Returns (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val (bytes, before) = footprint(spark, inDir)
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    spark.read.parquet(inDir).repartition(n)
      .write.mode("overwrite").parquet(outDir)
    val (_, after) = footprint(spark, outDir)
    (before, after)
  }
}
