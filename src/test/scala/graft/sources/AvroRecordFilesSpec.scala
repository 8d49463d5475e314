package graft.sources

import java.sql.Timestamp
import java.time.Instant
import java.util.UUID

import graft.SparkSpec
import graft.engine.JobRunner
import graft.model.{IngestionJob, IngestionSource, StorageLayout}
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Wire-format spec for the hand-rolled Avro container-file record I/O. */
class AvroRecordFilesSpec extends SparkSpec {

  test("roundtrip preserves schema, nulls, binary, and timestamps") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("score", DoubleType),
      StructField("flag", BooleanType),
      StructField("payload", BinaryType),
      StructField("at", TimestampType)))
    val rows = java.util.Arrays.asList(
      Row(1L, "a", 1.5, true, Array[Byte](1, 2, 3), Timestamp.valueOf("2026-01-01 10:00:00")),
      Row(2L, null, null, false, null, null),
      Row(3L, "c", -0.25, null, Array.empty[Byte], Timestamp.valueOf("1999-12-31 23:59:59")))
    val df = spark.createDataFrame(rows, schema).repartition(2)
    val dir = java.nio.file.Files.createTempDirectory("graft-avro").toString

    val n = AvroRecordFiles.write(df, dir)
    n shouldBe 3L
    val back = AvroRecordFiles.read(spark, dir, schema)
    back.schema shouldBe schema
    val got = back.collect().sortBy(_.getLong(0))
    got(0).getString(1) shouldBe "a"
    got(0).getAs[Array[Byte]](4).toSeq shouldBe Seq[Byte](1, 2, 3)
    got(0).getTimestamp(5) shouldBe Timestamp.valueOf("2026-01-01 10:00:00")
    got(1).isNullAt(1) shouldBe true
    got(1).isNullAt(5) shouldBe true
    got(2).getDouble(2) shouldBe -0.25
  }

  test("reader-schema evolution: added nullable fields default, dropped fields skip") {
    val v1 = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType)))
    val rows = java.util.Arrays.asList(Row(1L, "a"), Row(2L, "b"))
    val df = spark.createDataFrame(rows, v1).repartition(1)
    val dir = java.nio.file.Files.createTempDirectory("graft-avro-evo").toString
    AvroRecordFiles.write(df, dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro")).head.toString

    // v2 adds a nullable field — fills with the null default
    val v2 = StructType(v1.fields :+ StructField("extra", StringType))
    val got2 = AvroRecordFiles.streamFile(file,
      v2.fields.map(_.dataType).toSeq, conf = spark.sessionState.newHadoopConf(),
      readerSchema = Some(AvroRecordFiles.avroSchema(v2))).toVector
    got2.map(_.head) shouldBe Vector(1L, 2L)
    got2.foreach(vals => assert(vals.last == null))

    // v3 drops a field — resolution skips it
    val v3 = StructType(Seq(StructField("id", LongType, nullable = false)))
    val got3 = AvroRecordFiles.streamFile(file,
      v3.fields.map(_.dataType).toSeq, conf = spark.sessionState.newHadoopConf(),
      readerSchema = Some(AvroRecordFiles.avroSchema(v3))).toVector
    got3 shouldBe Vector(Seq(1L), Seq(2L))
  }

  test("writes one container file per non-empty partition, snappy codec") {
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "s").repartition(8)
    val dir = java.nio.file.Files.createTempDirectory("graft-avro2").toString
    AvroRecordFiles.write(df, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro"))
    files.length should be <= 3 // empty partitions write nothing
    files.length should be >= 1
    // container magic "Obj" + version 1
    val head = java.nio.file.Files.readAllBytes(files.head.toPath).take(4)
    head.take(3) shouldBe "Obj".getBytes
  }

  test("JobRunner.writeRecords and the DSv2 sink write one format") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType),
      StructField("task_number", IntegerType, nullable = false)))
    val rows = java.util.Arrays.asList(
      Row(1L, "a", 0), Row(2L, null, 0), Row(3L, "c", 1), Row(4L, "d", 1))
    val df = spark.createDataFrame(rows, schema).repartition(2, col("task_number"))
    val lay = StorageLayout(java.nio.file.Files.createTempDirectory("graft-codec").toString)
    val job = IngestionJob(IngestionSource("codec"), UUID.randomUUID(),
      startedAt = Instant.parse("2026-08-12T00:00:00Z"))
    val runnerFiles = new JobRunner(spark, lay).writeRecords(job, df).collect()
      .map(r => r.getInt(0) -> r.getString(4)).toMap
    val sinkRoot = java.nio.file.Files.createTempDirectory("graft-codec-sink").toString
    df.write.format("graft.sources.GraftRecordFileSink")
      .option("root", sinkRoot).mode("append").save()

    def header(file: String) = {
      val in = new DataFileStream(new java.io.FileInputStream(file),
        new GenericDatumReader[GenericRecord]())
      try (in.getSchema, in.getMetaString("avro.codec")) finally in.close()
    }
    val conf = spark.sessionState.newHadoopConf()
    def decode(file: String) =
      AvroRecordFiles.streamFile(file, Seq(LongType, StringType), conf = conf).toVector
    runnerFiles.keySet shouldBe Set(0, 1)
    runnerFiles.foreach { case (t, runnerFile) =>
      val sinkFile = StorageLayout.recordsFile(sinkRoot, t)
      header(runnerFile) shouldBe header(sinkFile)
      header(runnerFile)._2 shouldBe "snappy"
      decode(runnerFile) shouldBe decode(sinkFile)
    }
    runnerFiles.values.toSeq.flatMap(decode).sortBy(_.head.asInstanceOf[Long]) shouldBe
      Seq(Seq(1L, "a"), Seq(2L, null), Seq(3L, "c"), Seq(4L, "d"))
  }
}
