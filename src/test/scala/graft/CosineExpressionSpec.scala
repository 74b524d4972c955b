package graft

import graft.operators.Similarity
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class CosineExpressionSpec extends SparkSpec {

  private def vecs = df("vec_id BIGINT, a ARRAY<FLOAT>, b ARRAY<FLOAT>",
    Row(Long.box(1), Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)),
    Row(Long.box(2), Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f)),
    Row(Long.box(3), Seq(0.0f, 0.0f, 0.0f), Seq(1.0f, 1.0f, 1.0f)), // zero norm
    Row(Long.box(4), null, Seq(1.0f, 1.0f, 1.0f)),                  // null side
    Row(Long.box(5), Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f)))       // length mismatch

  test("native expression matches the HOF composition bit-for-bit") {
    val out = vecs.select(col("vec_id"),
        Similarity.cosineNative(col("a"), col("b")).as("native"),
        Similarity.cosine(col("a"), col("b")).as("hof"))
      .collect()
    out.foreach { r =>
      val n = if (r.isNullAt(1)) None else Some(r.getDouble(1))
      r.getLong(0) match {
        case 1L | 2L =>
          assert(n.contains(r.getDouble(2)), s"row ${r.getLong(0)}: native != hof")
        case 3L | 4L | 5L =>
          assert(n.isEmpty, s"row ${r.getLong(0)}: expected null")
      }
    }
  }

  test("dot_product native matches the HOF fold; zero vectors are valid") {
    val out = vecs.select(col("vec_id"),
        call_function("dot_product", col("a"), col("b")).as("native"),
        Similarity.dot(col("a"), col("b")).as("hof"))
      .collect()
    out.foreach { r =>
      val n = if (r.isNullAt(1)) None else Some(r.getDouble(1))
      r.getLong(0) match {
        case 1L | 2L | 3L => // zero-norm row 3 has a valid dot (0.0)
          assert(n.contains(r.getDouble(2)),
            s"row ${r.getLong(0)}: native $n != hof ${r.getDouble(2)}")
        case 4L => assert(n.isEmpty, "null side must yield null")
        case 5L =>
          // Length mismatch: the native expression refuses (null); the
          // HOF zip_with silently truncates — the native contract is
          // the SAFE one, which is why the operators use it.
          assert(n.isEmpty, "length mismatch must yield null")
      }
    }
  }

  test("expression is available from SQL and participates in codegen") {
    vecs.createOrReplaceTempView("v_cos")
    val viaSql = spark.sql(
      "SELECT vec_id, cosine_sim(a, b) AS c FROM v_cos WHERE vec_id = 1")
      .head().getDouble(1)
    assert(math.abs(viaSql - 32.0 / (math.sqrt(14) * math.sqrt(77))) < 1e-15)
    // Codegen check needs a real scan (a local relation collapses to
    // LocalTableScan before codegen applies).
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val plan = emb.select(
        Similarity.cosineNative(col("embedding"), col("embedding")).as("c"))
      .filter(col("c") > 0.5)
      .queryExecution.executedPlan.toString
    // The compact plan marks whole-stage-codegen stages with "*(n)".
    assert(plan.contains("*(1) Project [cosine_sim") ||
      plan.contains("*(1) Filter"),
      s"native cosine must stay inside whole-stage codegen:\n$plan")
  }
}
