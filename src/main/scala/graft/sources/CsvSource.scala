package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Delimited-text ingestion with malformed-record quarantine — the CSV
  * face of [[JsonlSource]]'s contract ("parse what parses, quarantine
  * the rest, lose nothing, fail never"), for the other interchange
  * format every data drop still contains. Same physical shape: the
  * file is read as TEXT (splittable, one pass) and parsed with
  * `from_csv` in PERMISSIVE mode carrying a corrupt-record column —
  * map-side, no shuffle — so the raw line stays a first-class column
  * and the quarantine write needs no second read.
  *
  * CSV corruption semantics differ from JSON's in one way that
  * matters: positional formats get NO absent-field relaxation. A
  * SHORT row (fewer columns than the schema) is malformed to
  * `from_csv` and QUARANTINES — unlike an absent JSON key, a missing
  * trailing CSV field is indistinguishable from a torn line. So do
  * over-length rows, fields that cannot be COERCED (a non-numeric
  * value in a numeric column), and blank lines (null parse result,
  * the [[JsonlSource]] rule). CsvSourceSpec and the q187 gate pin all
  * four.
  *
  * `options` passes through to the CSV parser (sep, quote, escape…);
  * the PERMISSIVE/corrupt-column plumbing is owned here and cannot be
  * overridden into a failing mode.
  */
object CsvSource {

  /** Parse a line column against `schema`, appending the parsed fields
    * and a `quarantined` flag; the raw line rides through untouched.
    */
  def parseWithQuarantine(lines: DataFrame, lineCol: String,
      schema: StructType,
      options: Map[String, String] = Map.empty): DataFrame = {
    require(!schema.fieldNames.contains(JsonlSource.CorruptCol),
      s"schema must not declare ${JsonlSource.CorruptCol} — the parser adds it")
    val withCorrupt = schema.add(JsonlSource.CorruptCol, StringType)
    val opts = options ++ Map("mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> JsonlSource.CorruptCol)
    JsonlSource.flagQuarantine(lines, schema,
        from_csv(col(lineCol), withCorrupt, opts))
      // from_csv parses a blank line to an all-null ROW (not the null
      // struct JSON gives), with no corrupt marker — catch it on the
      // raw line, or blanks would surface as good all-null records.
      .withColumn("quarantined",
        col("quarantined") || trim(col(lineCol)) === "")
  }
}
