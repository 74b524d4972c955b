package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The distributed stage of byte-pair-encoding tokenizer training —
  * the "train your own tokenizer on the cleaned corpus" step of an
  * LLM data pipeline.
  *
  * Formulated the way Sennrich's reference trainer is: the corpus
  * collapses ONCE to a (word, count) vocabulary — the only stage that
  * touches corpus-scale data (one shuffle, map-side combined) — and
  * one merge round counts adjacent symbol pairs weighted by word
  * count. The merge loop itself (argmax → greedy rewrite → repeat)
  * runs over the collapsed vocabulary, which is bounded by DISTINCT
  * words, not corpus size.
  */
object Bpe {

  /** Corpus → (sym, n): whitespace words counted, symbols = the word's
    * characters joined by single spaces (the classic BPE working
    * representation). The one corpus-scale stage.
    */
  def vocab(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(concat_ws(" ", split(col("w"), "")).as("sym"), col("n"))

  /** Weighted adjacent-symbol-pair counts over a vocab table — the
    * distributed core of one merge round.
    */
  def pairCounts(vocabDf: DataFrame): DataFrame =
    vocabDf.select(col("n"), split(col("sym"), " ").as("cs"))
      .select(col("n"), explode(zip_with(
        slice(col("cs"), lit(1), size(col("cs")) - 1),
        slice(col("cs"), lit(2), size(col("cs")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("pair"))
      .groupBy("pair").agg(sum(col("n")).as("cnt"))
}
