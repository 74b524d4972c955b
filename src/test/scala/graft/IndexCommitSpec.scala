package graft

import graft.operators.IndexCommit

class IndexCommitSpec extends SparkSpec {

  private def index(root: String, schema: String) =
    IndexCommit.Index("test index", root, schema, Nil)(
      rebuildWith = Some("TestIndex.write"))

  test("a ledger whose footer lacks a declared column or types it differently fails loudly") {
    val root = tempDir("ledger_schema") + "/ix"
    val ix = index(root, "batch STRING, n BIGINT, k INT")
    IndexCommit.writeRow(spark, ix, "build", Seq[Any](3L, 4), overwrite = true)
    IndexCommit.writeRow(spark, ix, "b1", Seq[Any](2L, 4), overwrite = false)
    val ledger = IndexCommit.readLedger(spark, ix)
    assert(ledger.committed == Set("build", "b1") && ledger.sum("n") == 5L)

    // A declared column that no footer holds must not read as nulls.
    val lacks = intercept[IllegalStateException] {
      IndexCommit.readLedger(spark, index(root, "batch STRING, n BIGINT, k INT, m BIGINT"))
    }
    assert(lacks.getMessage.contains(ix.ledger) && lacks.getMessage.contains("lacks column m"))
    // Nor may a column typed differently be read through a conversion.
    val retyped = intercept[IllegalStateException] {
      IndexCommit.readLedger(spark, index(root, "batch STRING, n BIGINT, k BIGINT"))
    }
    assert(retyped.getMessage.contains(ix.ledger) && retyped.getMessage.contains("types k as int"))

    // A missing ledger still names the write face that rebuilds it.
    val missing = intercept[IllegalStateException] {
      IndexCommit.readLedger(spark, index(tempDir("ledger_none") + "/ix", ix.schema))
    }
    assert(missing.getMessage.contains("has no ledger at") &&
      missing.getMessage.contains("Rebuild it with TestIndex.write"))
  }

  test("payload reads keep the inferred schema and run no schema-inference job") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types.StructType
    val root = tempDir("payload") + "/ix"
    // Partition values that inference types as INT (`cluster`) and as
    // STRING (`batch`), and data columns of the IVF shapes.
    df("vec_id BIGINT, tag STRING, v ARRAY<FLOAT>, q ARRAY<TINYINT>, cluster INT",
        Row(Long.box(1), "a", Seq(1f, 0f), Seq(1.toByte), Int.box(0)),
        Row(Long.box(2), "b", Seq(0f, 1f), Seq(2.toByte), Int.box(1)))
      .withColumn("batch", lit("build"))
      .write.partitionBy("cluster", "batch").parquet(root)
    val inferred = spark.read.parquet(root)
    val (fromFooter, footerJobs) = jobsOf(IndexCommit.payload(spark, root))
    assert(footerJobs == 0, s"the footer read ran $footerJobs jobs")
    assert(fromFooter.schema == inferred.schema)
    assert(fromFooter.collect().toSet == inferred.collect().toSet)
    val declared = StructType.fromDDL("vec_id BIGINT, tag STRING, v ARRAY<FLOAT>, q ARRAY<TINYINT>")
    val (fromDecl, declJobs) = jobsOf(IndexCommit.payload(spark, root, Some(declared)))
    assert(declJobs == 0 && fromDecl.schema == inferred.schema)
    assert(IndexCommit.committedRows(spark, root, Set("b1"), Some(declared)).count() == 0)
    // A declared column that the files lack fails loudly, not as nulls.
    val lacks = intercept[IllegalStateException] {
      IndexCommit.payload(spark, root, Some(StructType.fromDDL("vec_id BIGINT, m INT")))
    }
    assert(lacks.getMessage.contains("lacks column m"))
  }
}
