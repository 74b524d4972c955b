package graft.pipelines

import graft.functions.ColumnLib._
import graft.functions.JsonExtract
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingestion transform pipelines — the reference's four entity flows
  * re-expressed as pure `DataFrame => DataFrame` stages
  * (SURVEY.md §3 E1/E2; reference runner.py:106-146, 260-352).
  *
  * Input contract: a batch of raw API docs as a DataFrame. The paged
  * feeds parse with [[customerFeed]]/[[callFeed]], so object fields
  * arrive as JSON strings; a frame that `spark.read.json` inferred may
  * carry them as structs. Missing columns are tolerated everywhere —
  * the reference conjures absent columns as nulls (`df.get(col,
  * None)`), which here is [[graft.functions.ColumnLib.conformTo]].
  *
  * Scale notes: every stage is a narrow projection (no shuffle); the
  * only wide operation is call_log's in-batch dedup, a hash aggregate on
  * `_id`. At 100 TB these pipelines are scan→project→write with
  * map-side-only cost, partitioned on the derived civil date.
  */
object CallioIngest {

  /** Customer schema (reference bigquery_service.py:183-212): the
    * transformed batch and the `customer` table it merges into.
    */
  val customerTemplate: StructType = StructType(Seq(
    StructField("_id", StringType),
    StructField("assignedTime", LongType),
    StructField("createTime", LongType),
    StructField("updateTime", LongType),
    StructField("name", StringType),
    StructField("phone", StringType),
    StructField("user_id", StringType),
    StructField("user_name", StringType),
    StructField("user_group_id", StringType),
    StructField("tenant", StringType),
    StructField("row_hash", StringType),
    StructField("customField_0_val", StringType),
    StructField("NgayUpdate", DateType),
    StructField("NgayAssign", DateType)))

  /** Call-log schema (reference bigquery_service.py:110-143). */
  val callLogTemplate: StructType = StructType(Seq(
    StructField("_id", StringType),
    StructField("chargeTime", LongType),
    StructField("createTime", LongType),
    StructField("direction", StringType),
    StructField("fromNumber", StringType),
    StructField("toNumber", StringType),
    StructField("startTime", LongType),
    StructField("endTime", LongType),
    StructField("duration", LongType),
    StructField("billDuration", LongType),
    StructField("hangupCause", StringType),
    StructField("answerTime", DoubleType),
    StructField("fromUser__id", StringType),
    StructField("fromUser__name", StringType),
    StructField("fromGroup__id", StringType),
    StructField("NgayTao", DateType),
    StructField("tenant", StringType),
    StructField("row_hash", StringType)))

  /** Staff schema (reference bigquery_service.py:145-164). */
  val staffTemplate: StructType = StructType(Seq(
    StructField("_id", StringType), StructField("email", StringType),
    StructField("name", StringType), StructField("updateTime", LongType),
    StructField("createTime", LongType), StructField("group_id", StringType),
    StructField("tenant", StringType), StructField("row_hash", StringType)))

  /** Group schema (reference bigquery_service.py:166-181). */
  val groupTemplate: StructType = StructType(Seq(
    StructField("group_id", StringType), StructField("name", StringType),
    StructField("tenant", StringType), StructField("row_hash", StringType)))

  /** The raw customer-feed fields [[customerTransform]] reads, for the
    * paged source's parse. Declared STRING: every JSON token (number,
    * object, Python-repr string) parses to its text, which the
    * template's casts and the payload extractors accept.
    * `customField_0_val` is not declared: a declared field is a column
    * of every batch, and cf0 is derived only when the batch has none.
    */
  val customerFeed: StructType = strings("_id", "assignedTime", "createTime",
    "updateTime", "name", "phone", "user", "customFields")

  /** The raw call-feed fields [[callLogTransform]] reads, declared as
    * [[customerFeed]] is.
    */
  val callFeed: StructType = strings("_id", "chargeTime", "createTime",
    "direction", "fromNumber", "toNumber", "startTime", "endTime", "duration",
    "billDuration", "hangupCause", "answerTime", "fromUser", "fromGroup")

  private def strings(names: String*) =
    StructType(names.map(StructField(_, StringType)))

  private def has(df: DataFrame, c: String) = df.columns.contains(c)

  /** Payload columns arrive as JSON strings (the REST layer) or as
    * already-inferred structs (`spark.read.json`) — the pandas layer's
    * dict-or-string duality (reference utils.py:16-26). Normalize to a
    * JSON string so the extractors see one shape.
    */
  private def asJsonString(df: DataFrame, c: String) =
    if (df.schema(c).dataType == StringType) col(c) else to_json(col(c))

  /** Customer flow (reference runner.py:106-137): user extractions, cf0
    * derivation, 14-column template, tenant literal, UTC civil dates,
    * volatile-aware row hash.
    */
  def customerTransform(raw: DataFrame, tenant: String): DataFrame = {
    val withUser =
      if (has(raw, "user"))
        raw.withColumn("user_id", JsonExtract.userId(asJsonString(raw, "user")))
          .withColumn("user_name", JsonExtract.userName(asJsonString(raw, "user")))
          .withColumn("user_group_id", JsonExtract.userGroupId(asJsonString(raw, "user")))
      else raw
    val withCf =
      if (!has(withUser, "customField_0_val") && has(withUser, "customFields"))
        withUser.withColumn("customField_0_val",
          JsonExtract.customField0(asJsonString(withUser, "customFields")))
      else withUser
    val conformed = conformTo(withCf, customerTemplate)
      .withColumn("tenant", lit(tenant))
      .withColumn("NgayUpdate", civilDateUtc(col("updateTime")))
      .withColumn("NgayAssign", civilDateUtc(col("assignedTime")))
    conformed.withColumn("row_hash", rowHash(conformed))
  }

  /** Call-log flow (reference runner.py:264-302): in-batch `_id` dedup
    * (duplicate docs are identical payloads), column template, fromUser/
    * fromGroup flatten, UTC NgayTao, tenant, row hash.
    */
  def callLogTransform(raw: DataFrame, tenant: String): DataFrame = {
    // A null `_id` identifies nothing, so its rows are never collapsed,
    // as in a batch whose docs carry no `_id` field at all.
    val deduped =
      if (has(raw, "_id")) {
        val k = freeColumn(raw, "_k")
        raw.withColumn(k, coalesce(col("_id"),
            concat(lit("\u0000"), monotonically_increasing_id().cast(StringType))))
          .dropDuplicates(k).drop(k)
      } else raw
    val flat = deduped
      .withColumn("fromUser__id",
        if (has(raw, "fromUser")) JsonExtract.objField(asJsonString(deduped, "fromUser"), "_id")
        else lit(null).cast(StringType))
      .withColumn("fromUser__name",
        if (has(raw, "fromUser")) JsonExtract.objField(asJsonString(deduped, "fromUser"), "name")
        else lit(null).cast(StringType))
      .withColumn("fromGroup__id",
        if (has(raw, "fromGroup")) JsonExtract.objField(asJsonString(deduped, "fromGroup"), "_id")
        else lit(null).cast(StringType))
    val conformed = conformTo(flat, callLogTemplate)
      .withColumn("NgayTao", civilDateUtc(col("createTime")))
      .withColumn("tenant", lit(tenant))
    conformed.withColumn("row_hash", rowHash(conformed))
  }

  /** Staff snapshot flow (reference runner.py:318-336): fixed projection,
    * `group._id` flatten, tenant, row hash. The blank-name filter
    * (runner.py:374-375) applies at union time via [[staffNameFilter]].
    */
  def staffTransform(raw: DataFrame, tenant: String): DataFrame = {
    val withGroup =
      if (has(raw, "group"))
        raw.withColumn("group_id", JsonExtract.objField(asJsonString(raw, "group"), "_id"))
      else raw
    val conformed = conformTo(withGroup, staffTemplate)
      .withColumn("tenant", lit(tenant))
    conformed.withColumn("row_hash", rowHash(conformed))
  }

  /** Drop rows with null/blank staff name (reference runner.py:374-375). */
  def staffNameFilter(df: DataFrame): DataFrame =
    df.filter(col("name").isNotNull && trim(col("name")) =!= "")

  /** Group snapshot flow (reference runner.py:338-352): `group_id` =
    * `_id` else `id` cast to string, name, tenant, row hash — the
    * columns of [[groupTemplate]].
    */
  def groupTransform(raw: DataFrame, tenant: String): DataFrame = {
    val id = Seq("_id", "id").find(has(raw, _)).map(col).getOrElse(lit(null))
    val conformed = conformTo(raw.withColumn("group_id", id), groupTemplate)
      .withColumn("tenant", lit(tenant))
    conformed.withColumn("row_hash", rowHash(conformed))
  }

}
