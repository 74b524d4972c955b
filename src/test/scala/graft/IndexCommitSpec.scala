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
}
