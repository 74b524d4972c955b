package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The higher-order-function shingle formulation that the native
  * n-gram expressions are compared against in specs.
  */
object ShingleReference {

  /** Ordered word n-grams ("shingles") of width `n` (1-based positions,
    * empty when the doc has fewer than n words). Guarded so short docs
    * yield an empty array instead of a negative `sequence` range (which
    * would also trip ANSI-mode element_at bounds checks).
    */
  def wordShingles(text: Column, n: Int): Column = {
    val w = TextFunctions.words(text)
    when(size(w) >= n,
      transform(
        sequence(lit(1), size(w) - lit(n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(w, i + lit(k))): _*)))
      .otherwise(array().cast("array<string>"))
  }
}
