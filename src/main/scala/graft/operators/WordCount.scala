package graft.operators

import graft.functions.{GraftFunctions, WordTokens}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Literal, Lower}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

/** The reference engine's core dataflow — tokenize → map-side combine →
  * hash-shuffle → reduce(SUM) → top-k — re-expressed as declarative
  * Catalyst plans over `documents.text`.
  *
  * Reference semantics reproduced (see SURVEY.md §2.1):
  *  - token regex `[A-Za-z']+`, lowercased (reference worker/worker.py:7,16-18),
  *    computed by the native `word_tokens` expression ([[tokenArray]])
  *  - map-side partial aggregation = Spark's HashAggregate(partial), automatic
  *  - hash partitioning = ShuffleExchange (Murmur3; layout-independent results)
  *  - top-20 by (count DESC, length DESC) with the reference's unstable tie
  *    made deterministic by a final `word ASC` key
  *    (reference coordinator/coordinator.py:251)
  *
  * Scale notes: the whole family is a single shuffle on `word` with partial
  * aggregation before the exchange — the reference's driver-side shuffle
  * bottleneck (coordinator.py:187-195) does not exist here. At 100 TB the
  * plan is scan → partial agg → exchange → final agg; top-k uses
  * TakeOrderedAndProject (per-partition heap, no global sort).
  */
object WordCount {

  /** ASCII letters + apostrophe, after lowercasing — identical token
    * alphabet to the reference's `[A-Za-z']+` + `.lower()`. The engine
    * tokenizes with [[tokenArray]]; the DuckDB oracle SQL and the specs
    * keep this regex form as the independent reference. */
  val TokenPattern = "[a-z']+"

  /** The one tokenizer column, for use in `docs.select`: the `[a-z']+`
    * runs of `docs.text` after Spark's `lower`, as `array<string>` —
    * `word_tokens(text)`, the native [[graft.functions.WordTokens]] byte
    * scan over Catalyst's `Lower`. Equal element for element to
    * `regexp_extract_all(lower(text), '[a-z'']+', 0)`, null on null. */
  def tokenArray(docs: DataFrame): Column = {
    GraftFunctions.register(docs.sparkSession)
    call_function("word_tokens", col("text"))
  }

  /** In-process twin of [[tokenArray]] for query strings: the same
    * `Lower` and the same byte split, evaluated on a literal, so a query
    * token is spelled exactly as the index spells the same text. (The
    * JVM's `"IN".toLowerCase` is `"ın"` under a `tr` default locale;
    * Spark's `lower` of ASCII text is `"in"` under every locale.) */
  def tokenize(text: String): Seq[String] = {
    val a = WordTokens(Lower(Literal(text))).eval().asInstanceOf[ArrayData]
    Seq.tabulate(a.numElements())(a.getUTF8String(_).toString)
  }

  /** lines/docs → one row per token ("word"). The tokenizer is a native
    * expression with generated code and explode is a codegen'd
    * Generator, so tokenize → partial aggregate runs as one whole-stage
    * codegen loop; no UDF, no regex. */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(explode(tokenArray(docs)).as("word"))

  /** Full word → count table (reference O7+O10: combiner + reduce SUM). */
  def tokenCounts(docs: DataFrame): DataFrame =
    tokens(docs).groupBy("word").agg(count(lit(1)).as("cnt"))

  /** The reference's one real query: word-count + Top-20 report.
    * Deterministic total order: (cnt DESC, length DESC, word ASC). */
  def top20(docs: DataFrame): DataFrame =
    tokenCounts(docs)
      .orderBy(col("cnt").desc, length(col("word")).desc, col("word").asc)
      .limit(20)

  /** Counts bucketed by a process-stable hash of the word — validates the
    * reference's MD5 hash-partitioning invariant (mass preservation across
    * partitions, worker/worker.py:10-11,19-21). Bucket = first hex nibble of
    * md5(word), which is engine-portable (md5 is md5 everywhere). */
  def partitionCounts(docs: DataFrame): DataFrame =
    tokenCounts(docs)
      .groupBy(substring(md5(col("word")), 1, 1).as("part"))
      .agg(count(lit(1)).as("n_words"), sum(col("cnt")).as("total_cnt"))
      .orderBy("part")

  /** Per-document corpus stats — per-group aggregation over the generator
    * output without materializing tokens twice. */
  def docStats(docs: DataFrame): DataFrame = {
    val toks = tokenArray(docs)
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"))
      .orderBy("doc_id")
  }
}
