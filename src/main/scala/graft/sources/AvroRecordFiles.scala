package graft.sources

import java.nio.ByteBuffer

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{CodecFactory, DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

/** Avro container-file record I/O, hand-rolled on avro-core/avro-mapred
  * (no spark-avro datasource in this environment).
  *
  * Wire-format parity with the reference's record stage: processed
  * records persist as snappy-compressed Avro object-container files, one
  * per task/partition (`executor/.../run/ProcessRawDataOperation.java:
  * 70-84`, codec from `reference.conf:81-82`).
  *
  * Scale design: write runs per partition inside `mapPartitionsWithIndex`
  * (executors stream rows straight into the container encoder — nothing
  * driver-side), and read exposes each file's records through
  * `flatMap` over a listing of container files, so both directions
  * parallelize across the cluster. Files are enumerated via the Hadoop
  * FileSystem API, so any supported scheme (file://, hdfs://, s3a://)
  * works unchanged.
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

  private[graft] def toAvro(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
    case t: java.time.LocalDateTime => DateTimeUtils.localDateTimeToMicros(t)
    case b: Array[Byte] => ByteBuffer.wrap(b)
    case other => other
  }

  private def fromAvro(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (u: Utf8, StringType) => u.toString
    case (s: CharSequence, StringType) => s.toString
    case (l: java.lang.Long, TimestampType) => DateTimeUtils.toJavaTimestamp(l)
    case (l: java.lang.Long, TimestampNTZType) => DateTimeUtils.microsToLocalDateTime(l)
    case (b: ByteBuffer, BinaryType) =>
      val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
    case (other, _) => other
  }

  /** Writes `df` as one snappy Avro container file per partition under
    * `dir` (cleared first). Returns the total record count.
    */
  def write(df: DataFrame, dir: String): Long = {
    val st = df.schema
    val schemaJson = avroSchema(st).toString
    val root = new HPath(dir)
    val conf = HadoopConf.broadcast(df.sparkSession)
    val fs = root.getFileSystem(conf.value.value)
    if (fs.exists(root)) fs.delete(root, true)
    fs.mkdirs(root)
    val counts = df.rdd.mapPartitionsWithIndex { (idx, rows) =>
      if (rows.isEmpty) Iterator.empty
      else {
        val schema = new Schema.Parser().parse(schemaJson)
        val part = new HPath("%s/part-%05d.avro".format(dir, idx))
        val pfs = part.getFileSystem(conf.value.value)
        val out = pfs.create(part, true)
        val writer = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
        writer.setCodec(CodecFactory.snappyCodec())
        writer.create(schema, out)
        var n = 0L
        try rows.foreach { row =>
          val rec = new GenericData.Record(schema)
          var i = 0
          while (i < st.length) { rec.put(i, toAvro(row.get(i))); i += 1 }
          writer.append(rec)
          n += 1
        } finally writer.close()
        Iterator.single(n)
      }
    }
    counts.fold(0L)(_ + _)
  }

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
    val digest = java.security.MessageDigest.getInstance("MD5")
    val in: java.io.InputStream = expectMd5 match {
      case Some(_) => new java.security.DigestInputStream(raw, digest)
      case None => raw
    }
    // with a reader schema, Avro schema RESOLUTION applies: fields added
    // with defaults fill in, dropped fields are skipped — records written
    // under an older integration version read back under the current one
    // (the reference's schema-fingerprint drift, resolved instead of
    // rejected; IntegrationSchema still detects the drift)
    val datumReader = readerSchema match {
      case Some(rs) => new GenericDatumReader[GenericRecord](null, rs)
      case None => new GenericDatumReader[GenericRecord]()
    }
    val stream = new DataFileStream(in, datumReader)
    val it = new Iterator[Seq[Any]] {
      private var closed = false
      def hasNext: Boolean = {
        val h = stream.hasNext
        if (!h && !closed) {
          closed = true
          expectMd5.foreach { want =>
            val buf = new Array[Byte](8192)
            while (in.read(buf) != -1) {} // drain tail into the digest
            val got = digest.digest().map("%02x".format(_)).mkString
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

  /** Builds a GenericRecord from a row's fields at `indices`. */
  private[graft] def toRecord(schema: Schema, row: Row, indices: Seq[Int]): GenericRecord = {
    val rec = new GenericData.Record(schema)
    var i = 0
    while (i < indices.length) { rec.put(i, toAvro(row.get(indices(i)))); i += 1 }
    rec
  }

  /** Reads every `*.avro` container file under `dir` back into a
    * DataFrame with schema `st` (one input file per Spark partition).
    */
  def read(spark: SparkSession, dir: String, st: StructType): DataFrame = {
    val root = new HPath(dir)
    val conf = HadoopConf.broadcast(spark)
    val files = root.getFileSystem(conf.value.value).listStatus(root)
      .map(_.getPath.toString).filter(_.endsWith(".avro")).sorted
    val fieldTypes = st.fields.map(_.dataType).toSeq
    val rows = spark.sparkContext.parallelize(files.toSeq, math.max(files.length, 1))
      .flatMap(f => streamFile(f, fieldTypes, conf = conf.value.value).map(Row.fromSeq))
    spark.createDataFrame(rows, st)
  }
}
