package graft.sources

import java.io.FilterOutputStream
import java.nio.ByteBuffer
import java.security.MessageDigest

import scala.util.control.NonFatal

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{CodecFactory, DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** The one record-file codec of the ingestion dataflow, hand-rolled on
  * avro-core/avro-mapred (no spark-avro datasource in this environment).
  * `JobRunner.writeRecords`/`readRecords`, the DSv2 record sink
  * ([[GraftRecordFileSink]]) and [[write]]/[[read]] all go through
  * [[ContainerWriter]], [[readFiles]] and [[streamFile]]; the task file
  * key is `graft.model.StorageLayout`'s.
  *
  * Wire-format parity with the reference's record stage: processed
  * records persist as snappy-compressed Avro object-container files, one
  * per task (`executor/.../run/ProcessRawDataOperation.java:70-84`, codec
  * from `reference.conf:81-82`), each with a count, size and MD5 manifest
  * row (RemoteProcessedDataFile,
  * `worker-api/.../proto/RemoteDataFile.scala:20-27`), uploaded straight
  * to the layout key (S3DataFileHandler.scala:62-96) and verified against
  * that MD5 on download (S3DataFileHandler.scala:138-148).
  *
  * Scale design: writers run inside executor tasks and stream rows
  * straight into the container encoder through a counting+MD5 tee, so
  * count, size and digest need no second pass and nothing goes through
  * the driver; readers are one Spark partition per file. Files are
  * opened through the Hadoop FileSystem API, so any supported scheme
  * (file://, hdfs://, s3a://) works unchanged.
  */
object AvroRecordFiles {

  /** Spark StructType → Avro record schema (nullable unions, timestamps
    * as timestamp-micros logical type).
    */
  def avroSchema(st: StructType, name: String = "graft_record"): Schema = {
    val fields = SchemaBuilder.record(name).namespace("graft").fields()
    st.fields.foldLeft(fields) { (fs, f) =>
      val base = f.dataType match {
        case LongType => Schema.create(Schema.Type.LONG)
        case IntegerType => Schema.create(Schema.Type.INT)
        case DoubleType => Schema.create(Schema.Type.DOUBLE)
        case FloatType => Schema.create(Schema.Type.FLOAT)
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case StringType => Schema.create(Schema.Type.STRING)
        case BinaryType => Schema.create(Schema.Type.BYTES)
        case TimestampType =>
          val s = Schema.create(Schema.Type.LONG)
          org.apache.avro.LogicalTypes.timestampMicros().addToSchema(s)
        case TimestampNTZType =>
          val s = Schema.create(Schema.Type.LONG)
          org.apache.avro.LogicalTypes.localTimestampMicros().addToSchema(s)
        case other =>
          throw new IllegalArgumentException(s"unsupported record type: $other")
      }
      if (f.nullable)
        fs.name(f.name)
          .`type`(Schema.createUnion(Schema.create(Schema.Type.NULL), base))
          .withDefault(null)
      else fs.name(f.name).`type`(base).noDefault()
    }.endRecord()
  }

  private def toAvro(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
    case t: java.time.LocalDateTime => DateTimeUtils.localDateTimeToMicros(t)
    case b: Array[Byte] => ByteBuffer.wrap(b)
    case other => other
  }

  private def fromAvro(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (s: CharSequence, StringType) => s.toString
    case (l: java.lang.Long, TimestampType) => DateTimeUtils.toJavaTimestamp(l)
    case (l: java.lang.Long, TimestampNTZType) => DateTimeUtils.microsToLocalDateTime(l)
    case (b: ByteBuffer, BinaryType) =>
      val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
    case (other, _) => other
  }

  /** Writes `df` as one snappy Avro container file per non-empty
    * partition under `dir` (cleared first). Returns the total record
    * count.
    */
  def write(df: DataFrame, dir: String): Long = {
    val schemaJson = avroSchema(df.schema).toString
    val fields = df.schema.indices
    val root = new HPath(dir)
    val conf = HadoopConf.broadcast(df.sparkSession)
    val fs = root.getFileSystem(conf.value.value)
    if (fs.exists(root)) fs.delete(root, true)
    fs.mkdirs(root)
    val counts = df.rdd.mapPartitionsWithIndex { (idx, rows) =>
      if (rows.isEmpty) Iterator.empty
      else {
        val w = new ContainerWriter("%s/part-%05d.avro".format(dir, idx),
          new Schema.Parser().parse(schemaJson), fields, conf.value.value)
        try rows.foreach(w.append)
        catch { case e: Throwable => w.abort(); throw e }
        Iterator.single(w.finish()._1)
      }
    }
    counts.fold(0L)(_ + _)
  }

  /** One record container file being written at `path`: each row's
    * values at `fields` are encoded under `schema` (snappy) into a
    * counting+MD5 tee over the file's stream, so the manifest row needs
    * no second pass. The file is written in place at its final key:
    * renames are copy+delete on object stores.
    */
  private[graft] final class ContainerWriter(path: String, schema: Schema,
                                             fields: Seq[Int], conf: Configuration) {
    private val file = new HPath(path)
    private val digest = MessageDigest.getInstance("MD5")
    private var bytes = 0L
    private var count = 0L
    // `out` inside the overrides is the inherited FilterOutputStream
    // field: the raw FS stream
    private val tee = new FilterOutputStream(file.getFileSystem(conf).create(file, true)) {
      override def write(b: Int): Unit = { out.write(b); digest.update(b.toByte); bytes += 1 }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); digest.update(b, off, len); bytes += len
      }
    }
    private val writer = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      .setCodec(CodecFactory.snappyCodec()).create(schema, tee)

    def append(row: Row): Unit = {
      val rec = new GenericData.Record(schema)
      var i = 0
      while (i < fields.length) { rec.put(i, toAvro(row.get(fields(i)))); i += 1 }
      writer.append(rec)
      count += 1
    }

    /** Closes the file and returns its (record count, bytes, MD5); the
      * size and digest are final only once the close has flushed.
      */
    def finish(): (Long, Long, String) = {
      writer.close()
      (count, bytes, hex(digest.digest()))
    }

    /** Closes the encoder and deletes the partial file: a failed write
      * must leave neither a dangling stream (on object stores, a stuck
      * multipart upload) nor a file a later listing would read.
      */
    def abort(): Unit = {
      try writer.close() catch { case NonFatal(_) => () }
      try file.getFileSystem(conf).delete(file, false) catch { case NonFatal(_) => () }
    }
  }

  private def hex(digest: Array[Byte]): String = digest.map("%02x".format(_)).mkString

  /** Streams one container file's records as field sequences, optionally
    * verifying the file's MD5 against `expectMd5` (the reference verifies
    * each downloaded data file against its manifest checksum,
    * `worker/.../data/S3DataFileHandler.scala:138-148`). The digest covers
    * the raw file bytes; on exhaustion any unread tail is drained so the
    * checksum is complete, then mismatches throw. `conf` is the
    * session's Hadoop conf: it carries the `file:` binding and the s3a
    * settings.
    */
  private[graft] def streamFile(path: String, types: Seq[DataType],
                                expectMd5: Option[String] = None,
                                conf: Configuration,
                                readerSchema: Option[Schema] = None): Iterator[Seq[Any]] = {
    val p = new HPath(path)
    val raw = p.getFileSystem(conf).open(p)
    val digest = MessageDigest.getInstance("MD5")
    val in: java.io.InputStream = expectMd5 match {
      case Some(_) => new java.security.DigestInputStream(raw, digest)
      case None => raw
    }
    // with a reader schema, Avro schema RESOLUTION applies: fields added
    // with defaults fill in, dropped fields are skipped — records written
    // under an older integration version read back under the current one
    // (the reference's schema-fingerprint drift, resolved instead of
    // rejected; IntegrationSchema still detects the drift). Without one,
    // Avro reads through the file's own writer schema.
    val stream = new DataFileStream(in,
      new GenericDatumReader[GenericRecord](null, readerSchema.orNull))
    val it = new Iterator[Seq[Any]] {
      private var closed = false
      def hasNext: Boolean = {
        val h = stream.hasNext
        if (!h && !closed) {
          closed = true
          expectMd5.foreach { want =>
            val buf = new Array[Byte](8192)
            while (in.read(buf) != -1) {} // drain tail into the digest
            val got = hex(digest.digest())
            if (got != want)
              throw new java.io.IOException(
                s"checksum mismatch for $path: manifest $want, downloaded $got")
          }
          stream.close()
        }
        h
      }
      def next(): Seq[Any] = {
        val rec = stream.next()
        types.indices.map(i => fromAvro(rec.get(i), types(i)))
      }
    }
    // a partially-consumed iterator (limit, downstream failure) must not
    // leak the file handle; inside a task the completion listener closes
    // it. Note: MD5 can only be verified on full consumption — an early
    // stop closes silently by design.
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ =>
        try stream.close() catch { case _: java.io.IOException => () }))
    it
  }

  /** Reads every `*.avro` container file under `dir` back into a
    * DataFrame with schema `st` (one input file per Spark partition).
    */
  def read(spark: SparkSession, dir: String, st: StructType): DataFrame = {
    val root = new HPath(dir)
    val conf = HadoopConf.broadcast(spark)
    val files = root.getFileSystem(conf.value.value).listStatus(root)
      .map(_.getPath.toString).filter(_.endsWith(".avro")).sorted
    spark.createDataFrame(readFiles(spark, conf, st, files.toSeq.map((_, None, Nil))), st)
  }

  /** Reads record container files back as rows, one Spark partition per
    * file. Each entry is (path, expected MD5, tail): the file's records
    * decode through [[streamFile]] with `st` as the Avro reader schema,
    * the file is MD5-verified when an expected digest is given, and
    * `tail` is appended to each of its rows.
    */
  private[graft] def readFiles(spark: SparkSession, conf: Broadcast[SerializableConfiguration],
                               st: StructType,
                               files: Seq[(String, Option[String], Seq[Any])]): RDD[Row] = {
    val types = st.fields.map(_.dataType).toSeq
    val readerJson = avroSchema(st).toString
    spark.sparkContext.parallelize(files, math.max(files.size, 1))
      .flatMap { case (f, md5, tail) =>
        val reader = new Schema.Parser().parse(readerJson)
        streamFile(f, types, md5, conf.value.value, Some(reader))
          .map(vals => Row.fromSeq(vals ++ tail))
      }
  }
}
