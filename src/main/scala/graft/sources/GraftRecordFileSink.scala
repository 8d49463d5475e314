package graft.sources

import scala.jdk.CollectionConverters._

import graft.model.StorageLayout
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 SINK for the reference's record-file stage: rows with a
  * `task_number` column land as snappy Avro container files at
  * `{root}/records/task-N/data.avro` under Spark's two-phase commit
  * protocol — the Spark-native re-expression of the reference's
  * upload-then-respond flow (S3DataFileHandler.scala:62-96 +
  * RemoteDataFile manifest):
  *
  *  - each executor-side [[DataWriter]] streams its rows straight into
  *    per-task container files of the record-file codec
  *    ([[AvroRecordFiles]]; nothing buffered, nothing driver-side), and
  *    returns the per-task manifest rows (count/size/md5) as its commit
  *    MESSAGE;
  *  - the driver's `commit()` runs only after every task committed, and
  *    writes `_manifest.json` LAST — readers treat the manifest as the
  *    commit marker, so a half-written job is never visible (the
  *    put-then-acknowledge ordering of the reference, with Spark's
  *    commit coordinator guaranteeing one winning attempt per task);
  *  - `abort()` deletes the partial files.
  *
  * `mode("append")` adds task files; `mode("overwrite")` truncates the
  * records dir first (SupportsTruncate).
  *
  * Usage:
  * {{{
  *   df.write.format("graft.sources.GraftRecordFileSink")
  *     .option("root", jobRootPath).mode("append").save()
  * }}}
  */
class GraftRecordFileSink extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true // write schema flows in
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException(
      "graft record-file sink is write-only; read record files back through the " +
        "record-file codec, AvroRecordFiles (JobRunner.readRecords uses it)")
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new GraftRecordFileSink.SinkTable(schema, properties.asScala.toMap)
}

object GraftRecordFileSink {
  val TaskNumberCol = "task_number"

  private def recordsDir(root: String) = s"$root/records"
  private def manifestPath(root: String) = new HPath(s"${recordsDir(root)}/_manifest.json")

  /** Reads the committed manifest back as (task, count, size, md5) rows. */
  def readManifest(spark: org.apache.spark.sql.SparkSession, root: String): Seq[(Int, Long, Long, String)] = {
    val fs = manifestPath(root).getFileSystem(spark.sessionState.newHadoopConf())
    readManifestFrom(fs, manifestPath(root))
  }

  private def readManifestFrom(fs: org.apache.hadoop.fs.FileSystem,
                               p: HPath): Seq[(Int, Long, Long, String)] = {
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    text.linesIterator.filter(_.nonEmpty).map { line =>
      val cols = line.split(",")
      (cols(0).toInt, cols(1).toLong, cols(2).toLong, cols(3))
    }.toSeq
  }

  final class SinkTable(writeSchema: StructType, opts: Map[String, String])
      extends Table with SupportsWrite {
    require(writeSchema.fieldNames.contains(TaskNumberCol),
      s"record-file sink requires a $TaskNumberCol column")
    require(writeSchema(TaskNumberCol).dataType == IntegerType,
      s"$TaskNumberCol must be int")
    override def name(): String = s"graft-record-sink(${opts.getOrElse("root", "?")})"
    override def schema(): StructType = writeSchema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new SinkWriteBuilder(info.schema(), opts ++ info.options().asCaseSensitiveMap().asScala)
  }

  private final class SinkWriteBuilder(schema: StructType, opts: Map[String, String],
                                       truncate: Boolean = false)
      extends WriteBuilder with SupportsTruncate with Write {
    override def truncate(): WriteBuilder = new SinkWriteBuilder(schema, opts, truncate = true)
    override def build(): Write = this
    override def toBatch: BatchWrite = new SinkBatchWrite(schema, opts, truncate)
  }

  private final class SinkBatchWrite(schema: StructType, opts: Map[String, String],
                                     truncate: Boolean) extends BatchWrite {
    private val root = opts.getOrElse("root",
      throw new IllegalArgumentException("option 'root' required"))
    private val conf = HadoopConf.broadcast(org.apache.spark.sql.SparkSession.active)

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
      val dir = new HPath(recordsDir(root))
      val fs = dir.getFileSystem(conf.value.value)
      if (truncate && fs.exists(dir)) fs.delete(dir, true)
      fs.mkdirs(dir)
      new SinkWriterFactory(schema, root, conf)
    }

    /** All tasks committed → write the manifest LAST (the commit marker).
      * A task_number split across Spark partitions would have clobbered
      * its own file, so duplicates FAIL the commit loudly (writers can't
      * see each other; this is where the invariant is checkable). Append
      * mode merges with the existing manifest so earlier batches' tasks
      * stay visible.
      */
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val entries = messages.flatMap { case m: TaskManifest => m.entries }
      val dupes = entries.groupBy(_._1).filter(_._2.length > 1).keys
      if (dupes.nonEmpty)
        throw new IllegalStateException(
          s"task_number(s) ${dupes.toSeq.sorted.mkString(",")} were written by " +
          "multiple partitions (files clobbered) — repartition the input by " +
          "task_number before writing to this sink")
      val p = manifestPath(root)
      val fs = p.getFileSystem(conf.value.value)
      val prior: Seq[(Int, Long, Long, String)] =
        if (!truncate && fs.exists(p))
          readManifestFrom(fs, p).filterNot(e => entries.exists(_._1 == e._1))
        else Nil
      val rows = (prior ++ entries).sortBy(_._1)
        .map { case (t, n, bytes, md5) => s"$t,$n,$bytes,$md5" }
      val out = fs.create(p, true)
      try out.write((rows.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val written = messages.collect { case m: TaskManifest => m }.flatMap(_.entries)
      val fs = new HPath(recordsDir(root)).getFileSystem(conf.value.value)
      written.foreach { case (t, _, _, _) =>
        fs.delete(new HPath(StorageLayout.recordsFile(root, t)), false)
      }
    }
  }

  /** Per-task manifest rows: (task, count, bytes, md5). */
  private final case class TaskManifest(entries: Seq[(Int, Long, Long, String)])
      extends WriterCommitMessage

  private final class SinkWriterFactory(schema: StructType, root: String,
                                        conf: Broadcast[SerializableConfiguration])
      extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new SinkDataWriter(schema, root, conf)
  }

  private final class SinkDataWriter(schema: StructType, root: String,
                                     conf: Broadcast[SerializableConfiguration])
      extends DataWriter[InternalRow] {
    private val taskIdx = schema.fieldIndex(TaskNumberCol)
    private val dataIdx = schema.fields.indices.filterNot(_ == taskIdx)
    private val avroSchema =
      AvroRecordFiles.avroSchema(StructType(dataIdx.map(schema.fields).toArray))
    private val toRow = GraftSqlShim.internalToRow(schema)
    private val open =
      scala.collection.mutable.LinkedHashMap[Int, AvroRecordFiles.ContainerWriter]()

    override def write(record: InternalRow): Unit = {
      val row = toRow(record)
      val t = row.getInt(taskIdx)
      open.getOrElseUpdate(t, new AvroRecordFiles.ContainerWriter(
        StorageLayout.recordsFile(root, t), avroSchema, dataIdx, conf.value.value)).append(row)
    }
    override def commit(): WriterCommitMessage =
      TaskManifest(open.iterator.map { case (t, w) =>
        val (n, bytes, md5) = w.finish()
        (t, n, bytes, md5)
      }.toVector)
    /** A failed attempt must not leave partial container files behind
      * (the driver-side abort only sees tasks that returned commit
      * messages).
      */
    override def abort(): Unit = open.valuesIterator.foreach(_.abort())
    override def close(): Unit = ()
  }
}
