package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** Every native expression of `graft.functions` that has both an
  * interpreted (`nullSafeEval`) and a generated (`doGenCode`) path
  * computes the same rows, and raises the same exception, on both.
  *
  * Spark runs the interpreted path when it constant-folds, when
  * `ConvertToLocalRelation` evaluates a project over a local relation and
  * when it falls back from codegen, so a difference between the two paths
  * is an output that depends on the plan. The inputs are read back from
  * parquet files this suite writes: over a local `Seq(...).toDF()` or
  * literals the optimizer would evaluate both runs interpreted.
  */
class KernelParitySuite extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark

  private lazy val dir = Files.createTempDirectory("kernel-parity")

  override def afterAll(): Unit =
    try {
      if (Files.exists(dir)) graft.streaming.LocalParquet.deleteTree(dir)
    } finally super.afterAll()

  private val pairType = ArrayType(StructType(Seq(
    StructField("h", LongType), StructField("w", DoubleType))))

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("s1", StringType),
    StructField("s2", StringType),
    StructField("toks", ArrayType(StringType)),
    StructField("bin", BinaryType),
    StructField("va", ArrayType(DoubleType)),
    StructField("vb", ArrayType(DoubleType)),
    StructField("pv", ArrayType(DoubleType)),
    StructField("codes", ArrayType(LongType)),
    StructField("lut", ArrayType(DoubleType)),
    StructField("la", ArrayType(LongType)),
    StructField("lb", ArrayType(LongType)),
    StructField("pa", pairType),
    StructField("pb", pairType)))

  // m = 2 subspaces of ksub = 4 cells of dsub = 4; cell 3 of sub 1 dropped
  private val book = {
    val (m, ksub, dsub) = (2, 4, 4)
    val cb = Array.tabulate(m * ksub * dsub)(i => math.sin(i * 0.7 + 0.3))
    val cn2 = Array.tabulate(m * ksub) { c =>
      if (c == m * ksub - 1) Double.PositiveInfinity
      else (0 until dsub).map(d => cb(c * dsub + d) * cb(c * dsub + d)).sum
    }
    PqKernels.DenseCodebook(cb, cn2, m, ksub, dsub)
  }

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog 42 times",
    "",
    "café crème brûlée – naïve façade, Ｆｕｌｌｗｉｄｔｈ ﬁ ligature",
    "é combining marks and 日本語のテキスト with ascii words",
    "der schnelle braune fuchs springt über den faulen hund und die katze",
    "emoji 😀 between words, le chat est sur la table",
    "abcabcabcabcabcabcabcabcabcabcabcabcabcabcabcabc")

  private def pairs(hs: Seq[Long], w0: Double): Seq[Row] =
    hs.zipWithIndex.map { case (h, i) => Row(h, w0 + i * 0.25) }

  /** Row `i` of the shared input file; `null` columns on the all-null row,
    * empty arrays/strings on the empty row.
    */
  private def inputRow(i: Int): Row = i match {
    case 0 => Row.fromSeq(0 +: Seq.fill(schema.length - 1)(null))
    case 1 => Row(1, "", "", Seq.empty[String], Array.emptyByteArray,
      Seq.empty[Double], Seq.empty[Double], Seq.fill(8)(0.0), Seq(0L, 0L), Seq.fill(8)(0.0),
      Seq.empty[Long], Seq.empty[Long], Seq.empty[Row], Seq.empty[Row])
    case _ =>
      val t = texts(i % texts.length)
      val u = texts((i + 3) % texts.length)
      val toks = t.split(" ").toSeq.filter(_.nonEmpty)
      val v = (0 until 8).map(d => math.cos(i * 1.3 + d))
      Row(i, t, u, toks, t.getBytes("UTF-8") ++ Array.tabulate(3000)(k => (k * i % 251).toByte),
        (0 until 5).map(d => d * 0.5 - i), (0 until 5).map(d => i * 0.1 + d),
        v, Seq((i % 4).toLong, (i % 3).toLong), (0 until 8).map(k => k * 1.5 - i),
        (0L until 20L by (i % 3 + 1).toLong), (0L until 20L by 2L),
        pairs(Seq(1L, 3L, 5L, 8L), i), pairs(Seq(2L, 3L, 8L, 13L), -i))
  }

  private lazy val inputPath: String = {
    val p = dir.resolve("inputs").toString
    spark.createDataFrame(spark.sparkContext.parallelize((0 until 12).map(inputRow), 2), schema)
      .write.parquet(p)
    p
  }

  private val patterns = Seq("the", "fox", "über", "chat", "abcabc")
  private val merges = Seq(("t", "h"), ("th", "e"), ("a", "b"), ("ab", "c"), ("o", "x"))
  private val pieces = Seq(("the", -1.0), ("a", -2.0), ("b", -2.5), ("abc", -1.5), ("fox", -1.2),
    ("s", -3.0), ("e", -2.2))

  /** One column per expression (two where a flag picks another branch). */
  private def outputs: Seq[(String, Column)] = Seq(
    "dot" -> DotProduct.dot(col("va"), col("vb")),
    "adc" -> AdcScore.adc(col("codes"), col("lut"), 4),
    "dot_sorted_pairs" -> DotSortedPairs.dotSortedPairs(col("pa"), col("pb")),
    "intersect_count" -> IntersectCountSorted.intersectCountSorted(col("la"), col("lb")),
    "pq_codes" -> PqKernels.pqCodes(col("pv"), book),
    "pq_codes_raw" -> PqKernels.pqCodes(col("pv"), book, normalize = false),
    "pq_lut" -> PqKernels.pqLut(col("pv"), book),
    "shingles" -> Shingles.shingles(col("toks"), 2),
    "ngrams" -> Shingles.ngramsAll(col("toks"), 2),
    "minhash" -> TextHashes.minhashSig(col("toks"), 8),
    "simhash" -> TextHashes.simhash64(col("toks")),
    "word_tokens" -> Tokenize.wordTokens(col("s1")),
    "word_token_count" -> Tokenize.wordTokenCount(col("s1")),
    "nfc" -> UnicodeNormalize.normalize(col("s1"), "NFC"),
    "nfkd" -> UnicodeNormalize.normalize(col("s1"), "NFKD"),
    "winnow" -> Winnow.winnow(col("toks"), 2, 3),
    "jaro_winkler" -> JaroWinkler.jaroWinkler(col("s1"), col("s2")),
    "damerau_levenshtein" -> DamerauLevenshtein.damerauLevenshtein(col("s1"), col("s2")),
    "deflate_size" -> DeflateSize.deflateSize(col("s1")),
    "lang_id" -> LangId.langId(col("s1")),
    "ac_distinct" -> AhoCorasick.acDistinctMatches(col("s1"), patterns),
    "ac_any" -> AhoCorasick.acAnyMatch(col("s1"), patterns),
    "bpe_tokens" -> BpeEncode.bpeTokens(col("s1"), merges),
    "bpe_count" -> BpeEncode.bpeTokenCount(col("s1"), merges),
    "cdc_chunks" -> GearChunks.cdcChunks(col("bin"), 64, 256, 1024),
    "unigram_tokens" -> UnigramEncode.unigramTokens(col("s1"), pieces),
    "unigram_count" -> UnigramEncode.unigramTokenCount(col("s1"), pieces))

  private def withConfs[T](codegen: Boolean)(body: => T): T = {
    val confs = Seq(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `df`'s rows on one path, after checking the plan took that path. */
  private def rowsOn(codegen: Boolean)(df: => DataFrame): Seq[Row] = withConfs(codegen) {
    val d = df
    val rows = d.collect().toSeq
    val wholeStage = find(d.queryExecution.executedPlan)(_.isInstanceOf[WholeStageCodegenExec]).isDefined
    assert(wholeStage === codegen, s"codegen=$codegen ran\n${d.queryExecution.executedPlan}")
    rows
  }

  /** The innermost cause's class and message of `df` failing on one path. */
  private def failureOn(codegen: Boolean)(df: => DataFrame): (String, String) = withConfs(codegen) {
    val e = intercept[Throwable](df.collect())
    var c: Throwable = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    (c.getClass.getName, c.getMessage)
  }

  test("interpreted and generated paths compute the same rows for every native expression") {
    val names = outputs.map(_._1)
    def run(codegen: Boolean) = rowsOn(codegen)(
      spark.read.parquet(inputPath).select(col("id") +: outputs.map { case (n, c) => c.as(n) }: _*)
        .orderBy("id"))
    val interpreted = run(codegen = false)
    val generated = run(codegen = true)
    assert(interpreted.length === 12)
    val differing = for {
      (ri, rg) <- interpreted.zip(generated); (n, k) <- names.zipWithIndex
      if ri.get(k + 1) != rg.get(k + 1)
    } yield s"$n on id ${ri.getInt(0)}: interpreted ${ri.get(k + 1)}, generated ${rg.get(k + 1)}"
    assert(differing.isEmpty, differing.mkString("\n"))
    // the null row is null everywhere; the empty row reaches every kernel
    assert(interpreted.head.toSeq.tail.forall(_ == null))
    assert(interpreted(1).toSeq.tail.forall(_ != null))
  }

  test("interpreted and generated paths raise the same error on bad vectors and PQ codes") {
    val schema = StructType(Seq(
      StructField("a", ArrayType(DoubleType)), StructField("b", ArrayType(DoubleType)),
      StructField("codes", ArrayType(LongType))))
    val cases: Seq[(String, Row, Column)] = Seq(
      ("dot length mismatch", Row(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0), null),
        DotProduct.dot(col("a"), col("b"))),
      ("pq_codes length mismatch", Row(Seq(1.0, 2.0, 3.0), null, null),
        PqKernels.pqCodes(col("a"), book)),
      ("pq_codes raw length mismatch", Row(Seq.empty[Double], null, null),
        PqKernels.pqCodes(col("a"), book, normalize = false)),
      ("pq_lut length mismatch", Row(Seq(1.0, 2.0, 3.0), null, null),
        PqKernels.pqLut(col("a"), book)),
      ("adc code above ksub", Row(null, Seq.fill(8)(1.0), Seq(1L, 4L)),
        AdcScore.adc(col("codes"), col("b"), 4)),
      ("adc negative code", Row(null, Seq.fill(8)(1.0), Seq(-1L, 0L)),
        AdcScore.adc(col("codes"), col("b"), 4)),
      ("adc short lut", Row(null, Seq.fill(6)(1.0), Seq(0L, 3L)),
        AdcScore.adc(col("codes"), col("b"), 4)))
    val outcomes = for (((name, row, expr), i) <- cases.zipWithIndex) yield {
      val p = dir.resolve(s"error-$i").toString
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(row), 1), schema).write.parquet(p)
      def df = spark.read.parquet(p).select(expr.as("out"))
      (name, failureOn(codegen = false)(df), failureOn(codegen = true)(df))
    }
    val differing = outcomes.collect { case (n, i, g) if i != g => s"$n: interpreted $i, generated $g" }
    assert(differing.isEmpty, differing.mkString("\n"))
    outcomes.foreach { case (n, i, _) => assert(i._1 === classOf[IllegalArgumentException].getName, n) }
  }
}
