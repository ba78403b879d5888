package graft

import org.apache.spark.sql.functions._
import graft.operators.{Materialize, Tokenizer}
import Runtime.Timed

/** BPE trainer at the 1 GB operating point — the scale proof for the
  * claim in Tokenizer's scaladoc: the ONLY corpus-sized cost is the
  * initial word count; the ten merge rounds run over the word-TYPE
  * table, whose size is the corpus's vocabulary, not its token count.
  * Reuses [[DedupFlagship]]'s deterministic synthetic corpus (500k docs
  * ≈ 1 GB of text, ~200M tokens, vocabulary ≈ tens of thousands of
  * types — the regime where the distinction matters).
  *
  * Reported stages:
  *  - `word_count`: tokenize → partial-agg groupBy → symbol init →
  *    localCheckpoint (the corpus pass; linear in bytes);
  *  - `merge_loop`: ten rounds of pair-explode → argmax → 1-row
  *    broadcast replace over the staged word-type table (vocabulary-
  *    sized; independent of corpus bytes);
  *  - `encode`: the map-side broadcast word → symbol-count lookup over
  *    the full corpus (linear, no shuffle beyond the final per-doc agg).
  *
  * Usage: scripts/run.sh graft.BpeFlagship [nDocs] [workDir] */
object BpeFlagship {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(500000L)
    val work = if (args.length > 1) args(1) else "/tmp/graft_bpe1g"
    val rt = Runtime(Runtime.session("graft-bpe-flagship"))
    val spark = rt.spark

    // ---- untimed setup: the DedupFlagship corpus, cached across runs.
    // The cache key includes nDocs — a rerun at a different size must
    // regenerate, not silently reuse the old corpus while reporting the
    // requested count (caught in review).
    val corpusDir = s"$work/corpus_$nDocs"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$corpusDir/_SUCCESS"))) {
      val t0 = System.nanoTime()
      DedupFlagship.genCorpus(spark, corpusDir, nDocs)
      println(f"setup: corpus generated in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val docs = spark.read.parquet(corpusDir)
    val bytes = docs.agg(sum("n_chars")).head().getLong(0)


    val Timed(words, tWc, _) = rt.stage("word_count") {
      val w = Materialize.stage(Tokenizer.initWords(docs))
      w.count() // the stage is eager, but pin the row count for the report
      w
    }
    val nTypes = words.count()
    val nTokens = words.agg(sum("freq")).head().getLong(0)

    val Timed(st, tLoop, _) = rt.stage("merge_loop") {
      val s = Tokenizer.learnBpeFrom(words, Tokenizer.Rounds)
      s.merges.count() // force the last round's argmax
      s
    }
    val merges = st.merges.orderBy("rank").collect()
      .map(r => s"${r.getString(2).stripPrefix("(").stripSuffix(")")}:${r.getLong(3)}")

    val Timed(encoded, tEnc, _) = rt.stage("encode") {
      val counts = st.vocab.select(col("word"),
        size(regexp_extract_all(col("sym"), lit("\\([^)]*\\)"), lit(0)))
          .cast("long").as("n_sym"))
      docs.select(col("doc_id"), explode(operators.WordCount.tokenArray(docs)).as("word"))
        .join(broadcast(counts), "word")
        .agg(sum(col("n_sym")).as("n_symbols"), count(lit(1)).as("n_toks"))
        .head()
    }

    println(
      s"""{"metric":"bpe_1g","n_docs":$nDocs,"bytes":$bytes,""" +
      s""""n_tokens":$nTokens,"n_word_types":$nTypes,""" +
      s""""rounds":${Tokenizer.Rounds},""" +
      f""""word_count_sec":$tWc%.1f,"merge_loop_sec":$tLoop%.1f,"encode_sec":$tEnc%.1f,""" +
      s""""n_symbols":${encoded.getLong(0)},""" +
      s""""merges":"${merges.mkString(",")}"}""")
    spark.stop()
  }
}
