package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class CharNgramStatsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** The reference formulation the native expression replaces: a
    * substring comprehension over code-point windows (Spark's
    * `substring`/`char_length` are code-point based, matching DuckDB's
    * `substr`/`length`).
    */
  private def hofStats(c: String, n: Int) = expr(
    s"""struct(
      char_length($c) AS n_chars,
      CASE WHEN char_length($c) >= $n THEN char_length($c) - ${n - 1}
           ELSE 0 END AS n_grams,
      CASE WHEN char_length($c) >= $n THEN
        size(array_distinct(transform(
          sequence(1, char_length($c) - ${n - 1}),
          i -> substring($c, i, $n))))
      ELSE 0 END AS n_distinct)""")

  test("native expression ≡ interpreted HOF formulation on the corpus") {
    for (n <- Seq(3, 4)) {
      val docs = Tables.table(spark, sfDir, "documents")
      val native = docs.select(col("doc_id"),
        call_function("char_ngram_stats", col("text"), lit(n)).as("st"))
      val hof = docs.select(col("doc_id"), hofStats("text", n).as("st"))
      assert(native.count() > 0)
      assert(rowSet(native) == rowSet(hof),
        s"n=$n: native one-pass stats must equal the substring pipeline")
    }
  }

  test("edge cases: empty, shorter-than-n, all-same, unicode incl. non-BMP") {
    // "😀😀😀a" is 4 code points but 7 UTF-16 units — distinctness and
    // counts must be code-point windows, not char windows.
    val rows = Seq("", "abc", "aaaa", "aaaaaa", "abab", "việtngữ", "😀😀😀a")
    val d = df("text STRING", rows.map(Row(_)): _*)
    val native = d.select(col("text"),
      call_function("char_ngram_stats", col("text"), lit(4)).as("st"))
    val hof = d.select(col("text"), hofStats("text", 4).as("st"))
    assert(rowSet(native) == rowSet(hof))
    val m = native.collect().map(r => r.getString(0) -> r.getStruct(1)).toMap
    assert(m("").getInt(0) == 0 && m("").getInt(1) == 0 && m("").getInt(2) == 0)
    assert(m("abc").getInt(1) == 0, "3 chars < n=4 means no grams")
    assert(m("aaaaaa").getInt(1) == 3 && m("aaaaaa").getInt(2) == 1,
      "repetition collapses the distinct count")
    assert(m("😀😀😀a").getInt(0) == 4 && m("😀😀😀a").getInt(1) == 1,
      "surrogate pairs count as one code point")
  }

  test("interpreted eval ≡ codegen'd DataFrame result") {
    import graft.functions.expressions.CharNgramStats
    val text = "abcabcab"
    val evald = CharNgramStats(Literal(UTF8String.fromString(text)), 4)
      .eval(null).asInstanceOf[InternalRow]
    val viaDf = df("t STRING", Row(text))
      .select(call_function("char_ngram_stats", col("t"), lit(4)).as("st"))
      .head().getStruct(0)
    assert((evald.getInt(0), evald.getInt(1), evald.getInt(2)) ==
      ((viaDf.getInt(0), viaDf.getInt(1), viaDf.getInt(2))))
    // "abcabcab": 8 chars, 5 grams (abca bcab cabc abca bcab), 3 distinct.
    assert(evald.getInt(0) == 8 && evald.getInt(1) == 5 && evald.getInt(2) == 3)
  }

  test("stats extraction is zero-shuffle and stays in whole-stage codegen") {
    val docs = Tables.table(spark, sfDir, "documents")
    val plan = docs
      .select(call_function("char_ngram_stats", col("text"), lit(4)).as("st"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"native char ngram stats must not shuffle:\n$plan")
    assert(plan.contains("*(1)"),
      s"char_ngram_stats must stay inside whole-stage codegen:\n$plan")
  }

  test("callable from SQL; null text yields null; repetitive < prose ratio") {
    val r = spark.sql(
      "SELECT char_ngram_stats('abcdef', 4) AS st").head().getStruct(0)
    assert(r.getInt(0) == 6 && r.getInt(1) == 3 && r.getInt(2) == 3)
    assert(spark.sql("SELECT char_ngram_stats(CAST(NULL AS STRING), 4) AS st")
      .head().isNullAt(0))
    // The proxy must order repetitive junk below varied prose, the same
    // direction the deflate ratio orders them (TextFunctionsSpec pins
    // that for deflate_len).
    def ratio(s: String): Double = {
      val st = spark.sql(s"SELECT char_ngram_stats('$s', 4) AS st")
        .head().getStruct(0)
      st.getInt(2).toDouble / st.getInt(1)
    }
    val junk = "spam ham " * 40
    val prose = "the quick brown fox jumps over the lazy dog while " +
      "seventeen sly ravens plot quietly near an abandoned lighthouse " +
      "counting waves and naming each crest after forgotten kings"
    assert(ratio(junk.trim) < ratio(prose),
      "repetitive text must score a lower distinct-gram ratio than prose")
  }

  test("q180b bands a NULL text as 'short', matching the oracle's CASE") {
    // Regression: char_ngram_stats(NULL) is a null struct, so every
    // when() condition on total_g was null and the otherwise branch
    // banded a null body 'high' — while DuckDB's CASE folds length(NULL)
    // to total_g = 0 = 'short'. The gate fixture has no null texts, so
    // only this spec guards the divergence.
    val dir = tempDir("graft_q180b_null")
    df("doc_id BIGINT, lang STRING, text STRING",
      Row(Long.box(1), "en", "the quick brown fox jumps the fence"),
      Row(Long.box(2), "en", null),
      Row(Long.box(3), "en", "abc")) // shorter than the 4-gram window
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q180b_compressibility_proxy")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(out(("en", "short")) == 2L,
      s"null text and sub-window text must both band 'short', got $out")
    assert(out.values.sum == 3L, "every doc lands in exactly one band")
  }
}
