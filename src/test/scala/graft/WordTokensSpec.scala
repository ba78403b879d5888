package graft

import graft.functions.{GraftFunctions, WordTokens}
import graft.operators.{Search, WordCount}
import java.util.Locale
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Lower, RegExpExtractAll}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The native tokenizer `word_tokens` against the regex form it replaces,
  * `regexp_extract_all(lower(text), '[a-z'']+', 0)`: element for element
  * on adversarial text and on the whole test corpus, in interpreted and
  * generated code, with the same data type — and still codegen'd inside
  * the word count's plan. */
class WordTokensSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Case mappings that change length or leave ASCII, ligatures, emoji
    * (surrogate pairs), apostrophe runs, digits and underscores, and the
    * empty, blank and null rows. */
  private val adversarial: Seq[String] = Seq(
    "İstanbul İ", "Kelvin K", "Straße STRASSE", "oﬀice ﬀ",
    "I 😀 U 👍🏽ok", "''' don''t ' 'tis rock'n'roll'", "abc123def_ghi__x 42",
    "ΣΑΣ ǅemal Ǆ ı", "ＡＢＣ abc", "Don't STOP abc123def émigré", "a", "'",
    "", "   \t\n  ", null)

  private def regexForm: org.apache.spark.sql.Column =
    regexp_extract_all(lower(col("text")), lit(WordCount.TokenPattern), lit(0))

  /** (native, regex) token lists per row; a null array stays null. */
  private def bothForms(docs: DataFrame): Seq[(Seq[String], Seq[String])] =
    docs.select(WordCount.tokenArray(docs).as("a"), regexForm.as("b"))
      .as[(Option[Seq[String]], Option[Seq[String]])].collect().toSeq
      .map { case (a, b) => (a.orNull, b.orNull) }

  test("word_tokens equals the regex form on adversarial strings, null on null") {
    val rows = bothForms(adversarial.toDF("text"))
    assert(rows.length == adversarial.length)
    rows.zip(adversarial).foreach { case ((a, b), s) =>
      assert(a == b, s"'$s': native $a vs regex $b")
    }
    val byText = adversarial.zip(rows.map(_._1)).toMap
    assert(byText("İstanbul İ") == Seq("i", "stanbul", "i"))
    assert(byText("Kelvin K") == Seq("kelvin", "k"))
    assert(byText("''' don''t ' 'tis rock'n'roll'") ==
      Seq("'''", "don''t", "'", "'tis", "rock'n'roll'"))
    assert(byText("") == Seq.empty && byText("   \t\n  ") == Seq.empty)
    assert(byText(null) == null)
  }

  test("word_tokens equals the regex form on every documents.text row at sf0.001") {
    val rows = bothForms(Tables.documents(spark, sf0001))
    assert(rows.nonEmpty && rows.map(r => Option(r._2).fold(0)(_.size)).sum > 1000)
    val bad = rows.filter { case (a, b) => a != b }
    assert(bad.isEmpty, s"${bad.size} rows differ, first: ${bad.headOption}")
  }

  test("data type equals RegExpExtractAll's") {
    val text = Literal("x")
    assert(WordTokens(Lower(text)).dataType ==
      RegExpExtractAll(Lower(text), Literal(WordCount.TokenPattern), Literal(0)).dataType)
    val docs = Tables.documents(spark, sf0001)
    val schema = docs.select(WordCount.tokenArray(docs).as("t"), regexForm.as("t")).schema
    assert(schema(0).dataType == schema(1).dataType && schema(0).nullable == schema(1).nullable)
  }

  test("interpreted eval and generated code agree with the regex, invalid UTF-8 included") {
    val ref = BoundReference(0, StringType, nullable = true)
    val native = WordTokens(Lower(ref))
    assert(!native.isInstanceOf[CodegenFallback], "a fallback drops the Generate out of codegen")
    val regex = RegExpExtractAll(Lower(ref), Literal(WordCount.TokenPattern), Literal(0))
    val generated = GenerateUnsafeProjection.generate(Seq(native))
    def strings(a: ArrayData): Seq[String] =
      if (a == null) null else Seq.tabulate(a.numElements())(a.getUTF8String(_).toString)
    // bare lead bytes, a stray continuation, a truncated 3-byte sequence
    // at the end and 0xFF/0xFE: no ASCII byte may be swallowed
    val invalid = Seq(
      Array[Byte]('a', 'b', 0xC3.toByte, 'C', 'd', 0xFF.toByte, 0xFE.toByte, 'e', 'f'),
      Array[Byte](0x80.toByte, 'x', 0xE0.toByte, 0x80.toByte, 'Y', 0xE2.toByte, 0x82.toByte),
      Array[Byte](0xF0.toByte, 0x9F.toByte, 'z', '\'', 0xC0.toByte, 0xAF.toByte))
    val inputs = adversarial.map(s => if (s == null) null else s.getBytes("UTF-8")) ++ invalid
    inputs.foreach { bytes =>
      val row = InternalRow(if (bytes == null) null else UTF8String.fromBytes(bytes))
      val want = strings(regex.eval(row).asInstanceOf[ArrayData])
      val interpreted = strings(native.eval(row).asInstanceOf[ArrayData])
      val out = generated(row)
      val codegen = if (out.isNullAt(0)) null else strings(out.getArray(0))
      val label = Option(bytes).map(_.map(b => f"${b & 0xff}%02x").mkString(" "))
      assert(interpreted == want, s"interpreted, bytes $label")
      assert(codegen == want, s"generated, bytes $label")
    }
  }

  test("word_tokens is callable from SQL after registration") {
    GraftFunctions.register(spark)
    val got = spark.sql("SELECT word_tokens('Don''t STOP, émigré') AS t")
      .as[Seq[String]].head()
    assert(got == Seq("don't", "stop", "migr"))
  }

  test("tokenCounts keeps the tokenizer Generate inside whole-stage codegen") {
    val counts = WordCount.tokenCounts(Tables.documents(spark, sf0001))
    counts.collect()
    val plan = counts.queryExecution.executedPlan
    assert(plan.toString.contains("isFinalPlan=true"), s"plan not executed:\n$plan")
    val gens = collect(plan) { case g: GenerateExec => g }
    assert(gens.size == 1 && gens.head.generator.exists(_.isInstanceOf[WordTokens]),
      s"expected one word_tokens Generate:\n$plan")
    // a codegen stage ends at its InputAdapters: below one, a node runs
    // interpreted and only feeds rows into the stage
    def inStage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case n => n +: n.children.flatMap(inStage)
    }
    val codegened = collect(plan) { case w: WholeStageCodegenExec => w }
      .flatMap(w => inStage(w.child)).collect { case g: GenerateExec => g }
    assert(codegened.size == 1, s"the Generate runs outside whole-stage codegen:\n$plan")
    // one shuffle for the aggregate (the other is Tables' scan spreader)
    assert(collect(plan) {
      case e: ShuffleExchangeExec if e.shuffleOrigin == ENSURE_REQUIREMENTS => e
    }.size == 1, s"word count must shuffle once for the aggregate:\n$plan")
  }

  test("query tokens are the index's tokens under a non-English default locale") {
    val docs = Seq((1L, "We live IN peace"), (2L, "nothing here"),
      (3L, "İSTANBUL IN WINTER, ﬀ K")).toDF("doc_id", "text")
    val prev = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr"))
    try {
      // the trap: String.toLowerCase spells "in" with a dotless ı under tr
      assert("IN".toLowerCase != "in")
      assert(WordCount.tokenize("LIVE IN, Peace") == Seq("live", "in", "peace"))
      val idx = Search.postings(docs)
      val indexed = idx.orderBy("doc_id", "pos").as[(String, Long, Int)].collect()
        .groupBy(_._2).map { case (d, rows) => d -> rows.map(_._1).toSeq }
      docs.as[(Long, String)].collect().foreach { case (d, text) =>
        assert(WordCount.tokenize(text) == indexed.getOrElse(d, Seq.empty), text)
      }
      def ids(df: DataFrame): Seq[Long] = df.select("doc_id").as[Long].collect().toSeq
      assert(ids(Search.phraseSearchFor(idx, "LIVE IN")) == Seq(1L))
      assert(ids(Search.bm25SearchFor(idx, Seq("IN", "PEACE"))).headOption.contains(1L))
      assert(Search.searchEvalNdcg(idx, Seq("PEACE", "IN")).select("n_relevant")
        .as[Long].head() == 1L)
    } finally Locale.setDefault(prev)
  }
}
