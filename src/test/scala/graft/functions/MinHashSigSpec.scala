package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** [[MinHashSig]], [[Md5_64]] and [[Dedup.ngrams]] (with the robust
  * fingerprints built on it) are byte-identical to the column forms they
  * replace, kept here as the reference: the same values, the same data
  * type and the same nullability, over random ASCII, multi-byte and
  * surrogate-pair text, runs of spaces, leading and trailing spaces,
  * texts of fewer than n words, empty text, null and malformed UTF-8,
  * under generated and interpreted evaluation.
  */
class MinHashSigSpec extends SparkSpec {
  import spark.implicits._

  /** The column forms before the codegen'd expressions. */
  private object Reference {
    def md5_64(c: Column): Column =
      conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

    def ngrams(text: Column, n: Int): Column =
      Dedup.ngramsOfWords(split(text, " "), n)

    def fingerprint(text: Column): Column =
      transform(array_distinct(ngrams(text, 3)), s => md5_64(s))

    def minhashSig(text: Column, n: Int, k: Int): Column = {
      val hb = transform(array_distinct(ngrams(text, n)),
        s => md5_64(s) % PortableHash.Mod31)
      val seed = array((0 until k).map(_ => lit(Long.MaxValue)): _*)
      aggregate(hb, seed, (acc, h) =>
        zip_with(acc, array((0 until k).map(i => PortableHash.derived(h, i)): _*),
          (a, d) => least(a, d)))
    }
  }

  private val word: Gen[String] = Gen.frequency(
    8 -> Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.alphaNumChar).map(_.mkString)),
    2 -> Gen.oneOf("é", "ß", "中文", "日本語", "ΑΒΓ", "naïve", "Ünï"),
    1 -> Gen.oneOf("😀", "𝄞", "a😀b", "🇩🇪"),
    1 -> Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.choose(' ', '~')).map(_.mkString)),
    1 -> Gen.const(""))

  private val text: Gen[String] = for {
    n <- Gen.choose(0, 12)
    words <- Gen.listOfN(n, word)
    seps <- Gen.listOfN(n, Gen.frequency(6 -> " ", 1 -> "  ", 1 -> "   "))
    lead <- Gen.oneOf("", " ", "  ")
    trail <- Gen.oneOf("", " ", "  ")
  } yield lead + words.zip(seps).map { case (w, s) => w + s }.mkString.trim + trail

  private val edges: Seq[Array[Byte]] = Seq(null, "", " ", "   ", "a", "a b",
      "a  b", " a", "a ", "a b c d e f g", "😀 中文 é").map(s =>
      if (s == null) null else s.getBytes(UTF_8)) ++
    // malformed UTF-8: a lone continuation byte, a truncated sequence,
    // an encoded surrogate and an overlong slash, around spaces
    Seq(Array(0x61, 0x20, 0x80, 0x20, 0x62), Array(0xe4, 0xb8, 0x20, 0x61),
      Array(0xed, 0xa0, 0x80, 0x20, 0x20, 0x7a), Array(0xc0, 0xaf))
      .map(_.map(_.toByte))

  /** (id, b: binary, t: string = b) over the edges plus `rows` random
    * texts, parallelized so the projection runs in tasks, not folded
    * at plan time.
    */
  private def corpus(seed: Long, rows: Int): DataFrame = {
    val texts = Gen.listOfN(rows, text)
      .apply(Gen.Parameters.default, Seed(seed)).get.map(_.getBytes(UTF_8))
    spark.sparkContext.parallelize(
        (edges ++ texts).zipWithIndex.map { case (b, i) => (i.toLong, b) }, 3)
      .toDF("id", "b").withColumn("t", col("b").cast("string"))
  }

  private val shapes = for (n <- Seq(1, 3, 5); k <- Seq(1, 32, 64)) yield (n, k)

  /** The frame with columns (id, name_old, name_new) per compared form. */
  private def paired(df: DataFrame): DataFrame = df.select(col("id") +: (
    Seq("md5_t" -> (Reference.md5_64(col("t")), PortableHash.md5_64(col("t"))),
      "md5_b" -> (Reference.md5_64(col("b")), PortableHash.md5_64(col("b")))) ++
    Seq(1, 3, 5).map(n => s"grams_$n" ->
      (Reference.ngrams(col("t"), n), Dedup.ngrams(col("t"), n))) ++
    Seq("fp_min" -> (array_min(Reference.fingerprint(col("t"))),
        graft.operators.TextAnalysis.robustFingerprintMin(col("t"))),
      "fp_max" -> (array_max(Reference.fingerprint(col("t"))),
        graft.operators.TextAnalysis.robustFingerprintMax(col("t")))) ++
    shapes.map { case (n, k) => s"sig_${n}_$k" ->
      (Reference.minhashSig(col("t"), n, k), Dedup.minhashSigKernel(col("t"), n, k)) }
  ).flatMap { case (name, (o, nw)) => Seq(o.as(s"${name}_old"), nw.as(s"${name}_new")) }: _*)

  for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false"))
    test(s"MinHashSig, Md5_64 and ngrams equal their column forms ($mode)") {
      val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
      val before = keys.map(k => k -> spark.conf.getOption(k))
      spark.conf.set(keys(0), mode)
      spark.conf.set(keys(1), wholeStage)
      try for (seed <- 1L to 3L) {
        val df = paired(corpus(seed, 200))
        val names = df.columns.filter(_.endsWith("_old")).map(_.stripSuffix("_old"))
        for (nm <- names) {
          val (o, nw) = (df.schema(s"${nm}_old"), df.schema(s"${nm}_new"))
          withClue(nm)((nw.dataType, nw.nullable) shouldBe ((o.dataType, o.nullable)))
        }
        val rows = df.collect()
        rows.length shouldBe edges.length + 200
        for (r <- rows; nm <- names) {
          val (o, nw) = (r.getAs[Any](s"${nm}_old"), r.getAs[Any](s"${nm}_new"))
          withClue(s"$nm of row ${r.getLong(0)} (seed $seed): ")(nw shouldBe o)
        }
        // every signature is k long, even for null and empty text
        rows.foreach(r => shapes.foreach { case (n, k) =>
          r.getSeq[Long](r.fieldIndex(s"sig_${n}_${k}_new")) should have length k })
      } finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  test("graft_md5_64 and graft_minhash_sig in SQL are the same kernels") {
    graft.plans.GraftExtensions.register(spark)
    val df = corpus(9L, 50)
    df.createOrReplaceTempView("minhash_sig_docs")
    val sql = spark.sql("SELECT id, graft_md5_64(t) AS h, " +
      "graft_minhash_sig(t, 3, 32) AS s FROM minhash_sig_docs")
    val api = df.select(col("id"), PortableHash.md5_64(col("t")).as("h"),
      Dedup.minhashSigKernel(col("t"), 3, 32).as("s"))
    sql.schema shouldBe api.schema
    sql.collect().map(_.toString).sorted shouldBe api.collect().map(_.toString).sorted
  }

  test("a null text signs as the empty text") {
    val df = Seq[(Option[String])](None, Some("")).toDF("t")
      .select(Dedup.minhashSigKernel(col("t"), 3, 8).as("s"))
    val Array(nul, empty) = df.collect().map(_.getSeq[Long](0))
    nul shouldBe empty
  }
}
