package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

class NgramStatsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** The reference formulation the native expression replaces. */
  private def hofStats(n: Int) = {
    val grams = graft.functions.ShingleReference.wordShingles(col("text"), n)
    struct(
      TextFunctions.tokenCountWs(col("text")).as("n_tokens"),
      size(grams).as("n_grams"),
      size(array_distinct(grams)).as("n_distinct"))
  }

  test("native expression ≡ interpreted HOF formulation on the corpus") {
    for (n <- Seq(2, 3)) {
      val docs = Tables.table(spark, sfDir, "documents")
      val native = docs.select(col("doc_id"),
        TextFunctions.ngramStats(col("text"), n).as("st"))
      val hof = docs.select(col("doc_id"), hofStats(n).as("st"))
      assert(native.count() > 0)
      assert(rowSet(native) == rowSet(hof),
        s"n=$n: native one-pass stats must equal the shingle pipeline")
    }
  }

  test("edge cases: empty text, single word, repeats, multi-space, unicode") {
    val rows = Seq("", "one", "a a a a", "x  y", "việt ngữ việt ngữ việt",
      "a b a b a b", "trailing space ")
    val d = df("text STRING", rows.map(Row(_)): _*)
    val native = d.select(col("text"), TextFunctions.ngramStats(col("text"), 2).as("st"))
    val hof = d.select(col("text"), hofStats(2).as("st"))
    assert(rowSet(native) == rowSet(hof))
    // Spot-check the semantics are the split(text,' ') ones: "x  y"
    // tokenizes to ["x", "", "y"] (3 tokens, 2 bigrams, both distinct).
    val m = native.collect().map(r => r.getString(0) -> r.getStruct(1)).toMap
    assert(m("x  y").getInt(0) == 3 && m("x  y").getInt(1) == 2 &&
      m("x  y").getInt(2) == 2)
    assert(m("a a a a").getInt(1) == 3 && m("a a a a").getInt(2) == 1)
    assert(m("").getInt(0) == 1 && m("").getInt(1) == 0 && m("").getInt(2) == 0)
  }

  test("interpreted eval ≡ codegen'd DataFrame result") {
    import graft.functions.expressions.NgramStats
    val text = "the quick brown the quick fox"
    val arr = new GenericArrayData(
      text.split(" ").map(UTF8String.fromString(_): AnyRef))
    val evald = NgramStats(Literal.create(arr, ArrayType(StringType)), 2)
      .eval(null).asInstanceOf[InternalRow]
    val viaDf = df("t STRING", Row(text))
      .select(TextFunctions.ngramStats(col("t"), 2).as("st"))
      .head().getStruct(0)
    assert((evald.getInt(0), evald.getInt(1), evald.getInt(2)) ==
      ((viaDf.getInt(0), viaDf.getInt(1), viaDf.getInt(2))))
    assert(evald.getInt(0) == 6 && evald.getInt(1) == 5 && evald.getInt(2) == 4)
  }

  test("stats extraction is zero-shuffle and stays in whole-stage codegen") {
    val docs = Tables.table(spark, sfDir, "documents")
    val plan = docs.select(TextFunctions.ngramStats(col("text"), 2).as("st"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"native ngram stats must not shuffle:\n$plan")
    assert(plan.contains("*(1)"),
      s"ngram_stats must stay inside whole-stage codegen:\n$plan")
  }

  test("expression is callable from SQL; null array and null element yield null") {
    val r = spark.sql(
      "SELECT ngram_stats(split('a b c', ' '), 2) AS st").head().getStruct(0)
    assert(r.getInt(0) == 3 && r.getInt(1) == 2 && r.getInt(2) == 2)
    assert(spark.sql("SELECT ngram_stats(CAST(NULL AS ARRAY<STRING>), 2) AS st")
      .head().isNullAt(0))
    assert(spark.sql("SELECT ngram_stats(array('a', NULL, 'b'), 2) AS st")
      .head().isNullAt(0))
    assert(spark.sql("SELECT ngram_stats(array('a', NULL), 3) AS st")
      .head().isNullAt(0), "short arrays must still null-check elements")
  }
}
