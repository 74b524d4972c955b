package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Newline-delimited JSON ingestion with malformed-record quarantine —
  * the dominant interchange format of training-data pipelines, where a
  * 100 TB drop ALWAYS contains some torn/truncated/mis-typed lines and
  * the contract is "parse what parses, quarantine the rest, lose
  * nothing, fail never".
  *
  * Shape: the file is read as TEXT (splittable, one pass) and parsed
  * with `from_json` in PERMISSIVE mode carrying a corrupt-record
  * column — entirely map-side, whole-stage-codegen'd, no shuffle. This
  * deliberately avoids `spark.read.json`'s corrupt-column route, which
  * cannot be filtered on without caching the relation (Spark disallows
  * queries referencing only the internal corrupt column; SPARK-21610);
  * parsing from text keeps the raw line as a first-class column
  * instead, so the quarantine write needs no second read of the input.
  *
  * Quarantine semantics: a row is quarantined iff PERMISSIVE parsing
  * set the corrupt-record column — torn lines, malformed JSON, and
  * rows whose fields cannot be coerced to the declared schema. A
  * parseable line with absent fields is DATA (nulls), not corruption,
  * matching the schema-relaxation posture of the append path
  * ([[Storage.loadAppend]]).
  */
object JsonlSource {

  private[sources] val CorruptCol = "_corrupt_record"

  /** Shared quarantine core for line-oriented parsers ([[JsonlSource]]
    * and [[CsvSource]]): attach `parsedStruct` (a PERMISSIVE parse
    * carrying [[CorruptCol]]), project the schema fields, and flag.
    * Empty/whitespace-only lines (and JSON's literal `null`) make the
    * parser return a NULL STRUCT — not a corrupt-record marker — so
    * checking only the corrupt column would classify them as good rows
    * with all-null fields. A null parse result is quarantine too:
    * "parse what parses" means a row must actually parse to a record.
    */
  private[sources] def flagQuarantine(lines: DataFrame, schema: StructType,
      parsedStruct: org.apache.spark.sql.Column): DataFrame = {
    val parsed = lines.withColumn("__j", parsedStruct)
    val fields = schema.fieldNames.toSeq.map(f => col(s"__j.$f").as(f))
    parsed.select(
      (lines.columns.map(col).toSeq ++ fields :+
        (col("__j").isNull || col(s"__j.$CorruptCol").isNotNull)
          .as("quarantined")): _*)
  }

  /** Parse a line column against `schema`, appending the parsed fields
    * and a `quarantined` flag; the raw line column rides through
    * untouched. Map-side only.
    */
  def parseWithQuarantine(lines: DataFrame, lineCol: String,
      schema: StructType): DataFrame = {
    require(!schema.fieldNames.contains(CorruptCol),
      s"schema must not declare $CorruptCol — the parser adds it")
    val withCorrupt = schema.add(CorruptCol, StringType)
    val opts = Map("mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> CorruptCol)
    flagQuarantine(lines, schema, from_json(col(lineCol), withCorrupt, opts))
  }
}
