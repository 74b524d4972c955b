package graft

import graft.sources.JsonlSource
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class JsonlSourceSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType)))

  private def lines(rows: String*) =
    df("line STRING", rows.map(Row(_)): _*)

  test("parseWithQuarantine: good rows parse, torn/mis-typed rows quarantine") {
    val out = JsonlSource.parseWithQuarantine(lines(
      """{"id":1,"name":"a"}""",
      """{"id":2,"name":"b"""",        // torn: unterminated string/object
      """{"id":"not a number","name":"c"}""", // type mismatch -> corrupt
      """{"id":4}""",                  // absent field: DATA, not corruption
      """not json at all"""),
      "line", schema)
      .collect().map(r => r.getString(0) ->
        (r.isNullAt(1), if (r.isNullAt(2)) null else r.getString(2),
          r.getBoolean(3))).toMap
    assert(out("""{"id":1,"name":"a"}""") == ((false, "a", false)))
    assert(out("""{"id":2,"name":"b"""")._3, "torn line must quarantine")
    assert(out("""{"id":"not a number","name":"c"}""")._3,
      "schema-incoercible field must quarantine")
    // absent field parses with a null field - schema relaxation, not
    // corruption (the loadAppend posture)
    assert(out("""{"id":4}""") == ((false, null, false)))
    assert(out("not json at all")._3)
  }

  test("blank / whitespace-only / literal-null lines quarantine, not all-null rows") {
    // from_json returns a NULL struct (no corrupt marker) for these —
    // the quarantine must catch the null parse, or they'd surface as
    // good rows with every field null.
    val out = JsonlSource.parseWithQuarantine(
      lines("", "   ", "null", """{"id":9,"name":"ok"}"""), "line", schema)
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(out("") && out("   ") && out("null"),
      "blank and null-literal lines must quarantine")
    assert(!out("""{"id":9,"name":"ok"}"""))
  }

  test("100%-corrupt input returns empty, never fails") {
    val out = JsonlSource.parseWithQuarantine(lines("oops", "{{{{"), "line", schema)
    assert(out.filter(!col("quarantined")).count() == 0)
    assert(out.count() == 2, "every corrupt line stays, flagged")
    // declaring the corrupt column in the caller schema is a loud error
    intercept[IllegalArgumentException] {
      JsonlSource.parseWithQuarantine(lines("x"), "line",
        schema.add("_corrupt_record", StringType))
    }
  }
}
