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

  test("ingest: one pass, good rows returned, raw bad lines quarantined") {
    val dir = tempDir("jsonl_src")
    val qdir = dir + "/quarantine"
    lines("""{"id":1,"name":"a"}""", """{"id":2""", """{"id":3,"name":"c"}""")
      .select(col("line").as("value"))
      .write.mode("overwrite").text(dir + "/in")
    val good = JsonlSource.ingest(spark, dir + "/in", schema, Some(qdir))
    assert(good.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // quarantine holds the raw torn line byte-for-byte
    val q = spark.read.text(qdir).collect().map(_.getString(0)).toSeq
    assert(q == Seq("""{"id":2"""))
    // a second ingest APPENDS to the quarantine (triage log, not state)
    JsonlSource.ingest(spark, dir + "/in", schema, Some(qdir))
    assert(spark.read.text(qdir).count() == 2)
  }

  test("100%-corrupt input returns empty, never fails") {
    val dir = tempDir("jsonl_bad")
    lines("oops", "{{{{").select(col("line").as("value"))
      .write.mode("overwrite").text(dir)
    assert(JsonlSource.ingest(spark, dir, schema).count() == 0)
    // declaring the corrupt column in the caller schema is a loud error
    intercept[IllegalArgumentException] {
      JsonlSource.parseWithQuarantine(lines("x"), "line",
        schema.add("_corrupt_record", StringType))
    }
  }
}
