package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftStrings
import graft.text.TextFunctions

/** Parity pins for the fused native normalize/tokenize
  * ([[GraftStrings]]) against the regex forms they replaced: every
  * query oracle was written against the regex semantics, so the fused
  * expressions must be VALUE-identical on any input — including
  * Unicode case folding (delegated to the same `UTF8String.toLowerCase`
  * Spark's `Lower` uses), multi-byte text around ASCII whitespace, and
  * the empty/whitespace-only edge where the regex form's `when` guard
  * produced the empty array. */
class GraftStringsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val adversarial = Seq(
    "",
    " ",
    " \t\n\f\r ",
    "hello world",
    "  leading and   trailing  ",
    "tabs\tand\nnewlinesvt\fff\rcr",
    "MIXED Case TEXT",
    "Größe STRASSE weiß",          // ß (no uppercase→ß mapping drift)
    "İstanbul I ı İ i",            // dotted/dotless I (Turkish, locale trap)
    "ΣΊΣΥΦΟΣ ΟΔΌΣ",                // Greek final sigma folding
    "ЀЍ ѨѬ Ѳ",                     // Cyrillic multi-byte
    "汉字 と ひらがな",              // CJK + ideographic content, ASCII space
    "emoji 🙂 mix 🚀end",
    "a b",                    // NBSP is NOT \s — must stay inside a token
    "x y z",             // unicode spaces/line-sep are NOT \s
    "single",
    "a  b   c    d",
    "\tword\t",
    "ALLKINDS \r\n OF\f WS")

  test("native tokens/normalize match the regex forms on adversarial strings") {
    // input sets: the adversarial strings, and row by row the real
    // corpus (the documents table every text query reads)
    val inputs = Seq(
      "adversarial" -> spark.createDataFrame(
        adversarial.map(Tuple1(_)) :+ Tuple1(null.asInstanceOf[String]))
        .toDF("text"),
      "documents" -> Tables.documents(spark, TestSpark.sfDir).select("text"))
    for ((name, df) <- inputs) {
      val mismatch = df.filter(
        not(TextFunctions.tokensOfRegex(TextFunctions.normalizeRegex(col("text"))) <=>
          GraftStrings.tokensCol(col("text"))) ||
        not(TextFunctions.normalizeRegex(col("text")) <=>
          GraftStrings.normalizeCol(col("text"))))
      assert(mismatch.count() === 0, s"input set $name")
    }
  }

  test("tokensOf on an already-normalized column equals the regex chain") {
    val df = spark.createDataFrame(adversarial.map(Tuple1(_))).toDF("text")
      .withColumn("norm", TextFunctions.normalizeRegex(col("text")))
    val mismatch = df.filter(
      not(TextFunctions.tokensOfRegex(col("norm")) <=>
        TextFunctions.tokensOf(col("norm"))))
    assert(mismatch.count() === 0)
  }

  test("native subword tokens match the regex pre-tokenizer") {
    val extra = adversarial ++ Seq(
      "don't stop-me now!!", "a1b2 c3,d4", "x£y€z", "½ + ¼ = ¾",
      "a b", "combining İ runs")
    val df = spark.createDataFrame(extra.map(Tuple1(_))).toDF("text")
    val mismatch = df.filter(
      not(TextFunctions.subwordTokensRegex(col("text")) <=>
        TextFunctions.subwordTokens(col("text"))))
    assert(mismatch.count() === 0)
  }

  test("fused membership count matches the composable array_remove form") {
    val members = TextFunctions.Stopwords
    val df = spark.createDataFrame(
      (adversarial ++ Seq("the the THE a of zzz", "in in in in"))
        .map(Tuple1(_))).toDF("text")
      .withColumn("toks", TextFunctions.tokens(col("text")))
    val mismatch = df.filter(
      not(TextFunctions.occurrencesComposable(col("toks"), members)
        .cast("int") <=>
        graft.functions.GraftStrings.countTokensInCol(col("toks"), members)
          .cast("int")))
    assert(mismatch.count() === 0)
    // null-element arrays (not producible by the tokenizer, but the
    // composable form tolerated them — so must the fused one)
    val withNull = spark.sql(
      "SELECT array('the', CAST(NULL AS STRING), 'a', 'x') AS toks")
    val c = withNull.select(
      graft.functions.GraftStrings.countTokensInCol(col("toks"),
        members).as("n")).head().getLong(0)
    assert(c === 2L)
  }

  test("mojibake repair inverts a Latin-1 mis-decode for any valid string") {
    import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
    // corrupt exactly as the classic ingest bug does: UTF-8 bytes
    // mis-read as Latin-1 and re-encoded
    def corrupt(s: String): String = new String(s.getBytes(UTF_8), ISO_8859_1)
    val samples = adversarial ++ Seq(
      "déjà vu — naïve café",           // 2-byte chars
      "… ‘quotes’ “here” •",            // 3-byte chars (incl. E2 80 x)
      "𝕬 𝄞 🙂🚀",                        // 4-byte chars (supplementary)
      "ед汉🙂é mixed widths",
      "Ã lone capital-A-tilde",         // legit Ã NOT followed by a continuation
      "ASCII only stays byte-identical")
    val df = spark.createDataFrame(samples.map(s => (s, corrupt(s))))
      .toDF("clean", "corrupt")
    val bad = df.filter(
      not(GraftStrings.fixMojibakeCol(col("corrupt")) <=> col("clean")))
    assert(bad.count() === 0)
    // detection counts every repaired sequence = every non-ASCII char
    val got = df.select(GraftStrings.mojibakeCountCol(col("corrupt")))
      .collect().map(_.getLong(0)).toSeq
    val want = samples.map(_.codePoints().toArray.count(_ > 0x7F).toLong)
    assert(got === want)
    // already-clean text is untouched (no false repairs on these)
    val noFalse = df.filter(
      not(GraftStrings.fixMojibakeCol(col("clean")) <=> col("clean")))
    assert(noFalse.count() === 0)
  }

  test("null propagates, empty and whitespace-only give empty arrays") {
    val df = spark.createDataFrame(
      Seq(Tuple1(null.asInstanceOf[String]), Tuple1(""), Tuple1("  \t ")))
      .toDF("text")
      .select(GraftStrings.tokensCol(col("text")).as("toks"),
        GraftStrings.normalizeCol(col("text")).as("norm"))
      .collect()
    assert(df(0).isNullAt(0) && df(0).isNullAt(1))
    assert(df(1).getSeq[String](0) === Seq.empty && df(1).getString(1) === "")
    assert(df(2).getSeq[String](0) === Seq.empty && df(2).getString(1) === "")
  }

  test("whole-stage codegen keeps the fused call in a codegen span") {
    val df = spark.range(10).selectExpr("cast(id as string) as text")
      .select(GraftStrings.tokensCol(col("text")).as("t"))
    // `*(n)` is the compact-plan whole-stage-codegen marker: the Project
    // carrying static_invoke must sit inside a codegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("static_invoke") && l.trim.startsWith("*(")), plan)
  }
}
