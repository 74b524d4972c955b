package graft

import graft.sources.CsvSource
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class CsvSourceSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType)))

  private def lines(rows: String*) =
    df("line STRING", rows.map(Row(_)): _*)

  test("parseWithQuarantine: coercion failures, short rows, blanks quarantine") {
    val out = CsvSource.parseWithQuarantine(lines(
      "1,a",
      "x,b",        // id cannot coerce -> quarantine
      "3",          // short row: malformed for from_csv (positional format)
      "",           // blank line: null parse -> quarantine
      "4,d,extra"), // long row: extra tokens are malformed too
      "line", schema)
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(!out("1,a"))
    assert(out("x,b"), "type violation must quarantine")
    assert(out("3"), "short row must quarantine (no positional relaxation)")
    assert(out(""), "blank line must quarantine")
    assert(out("4,d,extra"), "over-length row must quarantine")
  }

  test("options pass through: custom separator") {
    val out = CsvSource.parseWithQuarantine(
      lines("7|seven"), "line", schema, Map("sep" -> "|"))
      .select("id", "name", "quarantined").head()
    assert(out.getLong(0) == 7L && out.getString(1) == "seven" &&
      !out.getBoolean(2))
    // the quarantine plumbing cannot be overridden into a failing mode
    val forced = CsvSource.parseWithQuarantine(
      lines("x,b"), "line", schema, Map("mode" -> "FAILFAST"))
      .select("quarantined").head()
    assert(forced.getBoolean(0))
  }
}
