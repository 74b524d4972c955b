package graft.pipelines

import graft.functions.ColumnLib._
import graft.functions.Classifiers
import graft.operators.Upsert
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The flagship analytical pipeline: the two-pass daily staff fact
  * refresh (SURVEY.md §3 E3; reference runner.py:589-874) as composable
  * DataFrame stages feeding the generic [[graft.operators.Upsert]].
  *
  * Inputs use the canonical ingest column names ([[CallioIngest]]):
  *  - callLog(createTime, startTime, endTime, billDuration, toNumber,
  *    fromUser__id, fromUser__name, fromGroup__id, NgayTao, tenant)
  *  - customer(_id, assignedTime, phone, customField_0_val, user_id,
  *    user_name, user_group_id, NgayUpdate, NgayAssign, tenant)
  *  - group(group_id, name)
  *
  * Scale design: `group` is a tiny dimension → always broadcast, and
  * the three group joins (J1, J2, J4) share one broadcast. The two MERGE
  * A aggregations shuffle once each on (Ngay, MaNV_id); the full-outer
  * metric join (J3) reuses that key. Their distinct counts are
  * `size(collect_set(..))`, which, like `countDistinct`, ignores nulls
  * but plans no `Expand` and so no second exchange. MERGE B is one
  * aggregate on (Ngay, MaNV_id), so one exchange. The phone join (J5)
  * is the only potentially skewed fact-to-fact join: one plain LEFT
  * join, since a null phone left-joins to nulls either way, and AQE's
  * skew split covers hot numbers and a hot null partition. Every scan
  * carries the trailing-window date predicate, which prunes
  * date-partitioned storage.
  */
object FactStaffDaily {

  /** The group dimension as `(g_gid, g_name)`, broadcast. The three
    * group joins take this one projection, so they share one broadcast.
    */
  private def groupNames(group: DataFrame): DataFrame =
    broadcast(group.select(col("group_id").cast(StringType).as("g_gid"), col("name").as("g_name")))

  /** `calls` CTE (runner.py:608-637): call metrics per (Ngay, MaNV_id).
    * The reporting layer derives `Ngay` from epoch millis in UTC+7
    * (reference runner.py:610, 641) — deliberately different from the
    * ingest layer's UTC dates (X-date duality, SURVEY.md §2.7 ⚠).
    */
  def callsAgg(callLog: DataFrame, group: DataFrame,
      dStart: Column, dEnd: Column, tenant: String): DataFrame = {
    val ringSeconds =
      greatest(
        safeDivide((col("endTime") - col("startTime")).cast(DoubleType), lit(1000.0))
          - col("billDuration").cast(DoubleType),
        lit(0.0))
    callLog
      .filter(col("tenant") === tenant && col("createTime").isNotNull &&
        col("NgayTao").between(dStart, dEnd))
      .join(groupNames(group), col("fromGroup__id").cast(StringType) === col("g_gid"), "left")
      .groupBy(civilDateVn7(col("createTime")).as("Ngay"),
        col("fromUser__id").cast(StringType).as("MaNV_id"))
      .agg(
        first(col("fromUser__name").cast(StringType), ignoreNulls = true).as("MaNV"),
        first(coalesce(col("g_name"), lit("Unassigned")), ignoreNulls = true).as("Team"),
        count(lit(1)).as("TongCuoc"),
        size(collect_set(col("toNumber"))).cast(LongType).as("SoSDT_Unique"),
        count_if(col("billDuration") > 0).as("SoCuoc_NoiMay"),
        count_if(col("billDuration") === 0).as("SoCuoc_KhongNoiMay"),
        exactSum(when(col("billDuration") > 0, col("billDuration").cast(DoubleType))
          .otherwise(lit(0.0))).as("TongThoiluongGoi_Giay"),
        exactSum(when(col("billDuration") === 0 && col("endTime").isNotNull &&
            col("startTime").isNotNull, ringSeconds)
          .otherwise(lit(0.0))).as("TongRungChuong_Giay"),
        max(col("createTime")).as("max_create_ms"))
      .withColumn("Tenant", lit(tenant))
  }

  /** `customer_in_range` TVF (external, runner.py:648-651 — body not in
    * the reference repo). Documented assumption (SURVEY.md §2.10):
    * customers whose NgayUpdate OR NgayAssign falls in the range.
    */
  def customerInRange(customer: DataFrame, dStart: Column, dEnd: Column): DataFrame =
    customer.filter(
      col("NgayUpdate").between(dStart, dEnd) ||
        col("NgayAssign").between(dStart, dEnd))

  /** `assigned` + `agg_assigned` CTEs (runner.py:639-669). */
  def assignedAgg(customer: DataFrame, group: DataFrame,
      dStart: Column, dEnd: Column, tenant: String): DataFrame = {
    val assigned = customerInRange(customer, dStart, dEnd)
      .filter(col("tenant") === tenant && col("assignedTime").isNotNull &&
        civilDateVn7(col("assignedTime")).between(dStart, dEnd))
      .groupBy(civilDateVn7(col("assignedTime")).as("Ngay"),
        col("user_id").cast(StringType).as("MaNV_id"))
      .agg(
        first(col("user_name").cast(StringType), ignoreNulls = true).as("MaNV"),
        first(col("user_group_id").cast(StringType), ignoreNulls = true).as("group_id"),
        size(collect_set(col("_id"))).cast(LongType).as("SoDataNhan"),
        max(col("assignedTime")).as("max_assigned_ms"))
    assigned
      .join(groupNames(group), col("group_id") === col("g_gid"), "left")
      .groupBy("Ngay", "MaNV_id")
      .agg(
        first(col("MaNV"), ignoreNulls = true).as("MaNV"),
        first(col("g_name"), ignoreNulls = true).as("Team"),
        max(col("SoDataNhan")).as("SoDataNhan"),
        max(col("max_assigned_ms")).as("max_assigned_ms"))
  }

  /** MERGE A source `S` (runner.py:672-695): calls ⟗ agg_assigned with
    * both-side coalesce and zero-defaulted metrics.
    */
  def mergeASource(callLog: DataFrame, customer: DataFrame, group: DataFrame,
      dStart: Column, dEnd: Column, tenant: String): DataFrame = {
    val c = callsAgg(callLog, group, dStart, dEnd, tenant).alias("c")
    val a = assignedAgg(customer, group, dStart, dEnd, tenant).alias("a")
    c.join(a, col("c.Ngay") === col("a.Ngay") &&
        col("c.MaNV_id") === col("a.MaNV_id"), "full_outer")
      .filter(coalesce(col("c.MaNV_id"), col("a.MaNV_id")).isNotNull)
      .select(
        coalesce(col("c.Ngay"), col("a.Ngay")).as("Ngay"),
        lit(tenant).as("Tenant"),
        coalesce(col("c.Team"), col("a.Team")).as("Team"),
        coalesce(col("c.MaNV_id"), col("a.MaNV_id")).as("MaNV_id"),
        coalesce(col("c.MaNV"), col("a.MaNV")).as("MaNV"),
        coalesce(col("c.TongCuoc"), lit(0L)).as("TongCuoc"),
        coalesce(col("c.SoSDT_Unique"), lit(0L)).as("SoSDT_Unique"),
        coalesce(col("c.SoCuoc_NoiMay"), lit(0L)).as("SoCuoc_NoiMay"),
        coalesce(col("c.SoCuoc_KhongNoiMay"), lit(0L)).as("SoCuoc_KhongNoiMay"),
        coalesce(col("c.TongThoiluongGoi_Giay"), lit(0.0)).as("TongThoiluongGoi_Giay"),
        coalesce(col("c.TongRungChuong_Giay"), lit(0.0)).as("TongRungChuong_Giay"),
        coalesce(col("a.SoDataNhan"), lit(0L)).as("SoDataNhan"),
        greatest(coalesce(col("c.max_create_ms"), lit(0L)), lit(0L)).as("max_create_ms"),
        coalesce(col("a.max_assigned_ms"), lit(0L)).as("max_assigned_ms"))
  }

  /** MERGE B source `S` (runner.py:743-849): per (Ngay, MaNV_id) of the
    * window's calls, the four status counters (runner.py:789-833: calls
    * joined to customer status strings on phone number and classified)
    * and the staff attributes (runner.py:743-787: the first name and
    * group of calls ∪ customers, group-enriched). One aggregate over the
    * phone-joined calls ∪ the window's customers computes both: a
    * customer row has a null status, so it adds to no counter, and a key
    * that no call has is dropped, as the reference's LEFT JOIN from the
    * pivot drops it. A null `MaNV_id` matched no staff row in that join,
    * so its Team and MaNV stay null. NOTE: here `Ngay` deliberately
    * reuses the ingest-layer UTC dates (`NgayTao`, `NgayAssign`/
    * `NgayUpdate`) — the reference's X-date inconsistency, preserved
    * (runner.py:745, 757 vs runner.py:610).
    */
  def mergeBSource(callLog: DataFrame, customer: DataFrame, group: DataFrame,
      dStart: Column, dEnd: Column, tenant: String): DataFrame = {
    val statuses = customer
      .filter(col("tenant") === tenant && col("NgayUpdate").between(dStart, dEnd))
      .select(col("phone").as("toNumber"),
        nullif(trim(col("customField_0_val").cast(StringType)), lit("")).as("TrangThaiXuLi"))
    val calls = callLog
      .filter(col("tenant") === tenant && col("NgayTao").between(dStart, dEnd))
      .join(statuses, Seq("toNumber"), "left")
      .select(col("NgayTao").as("Ngay"), col("fromUser__id").cast(StringType).as("MaNV_id"),
        col("TrangThaiXuLi"), col("fromUser__name").cast(StringType).as("MaNV"),
        col("fromGroup__id").cast(StringType).as("group_id"), lit(true).as("call"))
    val staff = customer
      .filter(col("tenant") === tenant &&
        (col("NgayAssign").between(dStart, dEnd) || col("NgayUpdate").between(dStart, dEnd)))
      .select(coalesce(col("NgayAssign"), col("NgayUpdate")).as("Ngay"),
        col("user_id").cast(StringType).as("MaNV_id"), lit(null).cast(StringType).as("TrangThaiXuLi"),
        col("user_name").cast(StringType).as("MaNV"),
        col("user_group_id").cast(StringType).as("group_id"), lit(null).cast(BooleanType).as("call"))
    val aggs = Classifiers.statusPivotAggs(col("TrangThaiXuLi")) ++ Seq(
      first(col("MaNV"), ignoreNulls = true).as("MaNV"),
      first(col("group_id"), ignoreNulls = true).as("group_id"), max(col("call")).as("call"))
    val known = col("MaNV_id").isNotNull
    calls.unionByName(staff).groupBy("Ngay", "MaNV_id").agg(aggs.head, aggs.tail: _*)
      .filter(col("call"))
      .join(groupNames(group), col("group_id") === col("g_gid"), "left")
      .select(col("Ngay"), lit(tenant).as("Tenant"),
        when(known, coalesce(col("g_name"), lit("Unassigned"))).as("Team"), col("MaNV_id"),
        when(known, col("MaNV")).as("MaNV"), col("SoSDT_KetBanZalo"), col("SoSDT_CoNhuCau"),
        col("SoSDT_TuChoi"), col("SoSDT_KhongNgheMay"))
  }

  /** Full fact schema (inferred from the two INSERT lists,
    * runner.py:718-728 + 865-871).
    */
  val factTemplate: StructType = StructType(Seq(
    StructField("Ngay", DateType), StructField("Tenant", StringType),
    StructField("Team", StringType), StructField("MaNV_id", StringType),
    StructField("MaNV", StringType),
    StructField("TongCuoc", LongType), StructField("SoSDT_Unique", LongType),
    StructField("SoCuoc_NoiMay", LongType), StructField("SoCuoc_KhongNoiMay", LongType),
    StructField("TongThoiluongGoi_Giay", DoubleType),
    StructField("TongRungChuong_Giay", DoubleType),
    StructField("SoDataNhan", LongType),
    StructField("max_create_ms", LongType), StructField("max_assigned_ms", LongType),
    StructField("SoSDT_KetBanZalo", LongType), StructField("SoSDT_CoNhuCau", LongType),
    StructField("SoSDT_TuChoi", LongType), StructField("SoSDT_KhongNgheMay", LongType)))

  /** MERGE A's WHEN MATCHED update list: every metric column is
    * overwritten from the source row.
    */
  val mergeAUpdates: Map[String, String] =
    Seq("Tenant", "Team", "MaNV", "TongCuoc", "SoSDT_Unique",
      "SoCuoc_NoiMay", "SoCuoc_KhongNoiMay", "TongThoiluongGoi_Giay",
      "TongRungChuong_Giay", "SoDataNhan", "max_create_ms", "max_assigned_ms")
      .map(c => c -> s"s.$c").toMap

  /** MERGE B's update list (runner.py:856-863): the four status
    * counters, with existing Team/MaNV preserved via IFNULL(T.x, S.x).
    */
  def mergeBUpdates(tenant: String): Map[String, String] = Map(
    "Tenant" -> s"'$tenant'",
    "Team" -> "coalesce(t.Team, s.Team)",
    "MaNV" -> "coalesce(t.MaNV, s.MaNV)",
    "SoSDT_KetBanZalo" -> "s.SoSDT_KetBanZalo",
    "SoSDT_CoNhuCau" -> "s.SoSDT_CoNhuCau",
    "SoSDT_TuChoi" -> "s.SoSDT_TuChoi",
    "SoSDT_KhongNgheMay" -> "s.SoSDT_KhongNgheMay")

  /** MERGE A's and MERGE B's sources, in that order, conformed to
    * [[factTemplate]].
    */
  def sources(callLog: DataFrame, customer: DataFrame, group: DataFrame,
      dStart: Column, dEnd: Column, tenant: String): Seq[DataFrame] =
    Seq(mergeASource(callLog, customer, group, dStart, dEnd, tenant),
      mergeBSource(callLog, customer, group, dStart, dEnd, tenant))
      .map(conformTo(_, factTemplate))

  /** The two sequential MERGEs (runner.py:589-874) of [[sources]] into
    * `target`, both keyed on (Ngay, MaNV_id). MERGE A upserts the full
    * metric row; MERGE B updates only the four status counters,
    * preserving existing Team/MaNV via IFNULL(T.x, S.x)
    * (runner.py:856-863). `pruneA` is MERGE A's target range: the
    * in-memory [[refresh]] passes `[dStart, dEnd]`, as the reference
    * does; the physical refresh (`BatchRunner.refreshReporting`) passes
    * none, because `Upsert.rewritePartitions` has already pruned the
    * target to the stated window `[dStart, dEnd + 1]` (DEVIATIONS.md 14).
    */
  def mergePair(target: DataFrame, sources: Seq[DataFrame],
      pruneA: Option[Column], tenant: String): DataFrame = {
    val Seq(srcA, srcB) = sources
    val keys = Seq("Ngay", "MaNV_id")
    val afterA = Upsert.upsert(target, srcA, keys,
      updateExprs = mergeAUpdates, targetPrune = pruneA)
    // NO targetPrune on MERGE B, deliberately: `Ngay` is a merge KEY and
    // every srcB row's Ngay lies inside [dStart, dEnd] by construction
    // (mergeBSource derives it from the range-filtered NgayTao), so an
    // out-of-range target row can never match — the reference's redundant
    // MERGE-ON range predicate (runner.py:852-854) is a no-op here. It
    // matters because upsert's prune evaluates the target lineage TWICE
    // (merge branch + passthrough branch): afterA is the whole MERGE A
    // pipeline, and pruning would run it twice per action. (MERGE A keeps
    // its prune: srcA's VN7-derived Ngay CAN fall outside the window, and
    // the reference's range predicate makes such rows insert rather than
    // update an out-of-range target row — observable semantics.)
    Upsert.upsert(afterA, srcB, keys, updateExprs = mergeBUpdates(tenant))
  }

  /** The in-memory refresh with the reference's semantics: [[mergePair]]
    * with MERGE A range-pruned on `Ngay` in [dStart, dEnd].
    */
  def refresh(target: DataFrame, callLog: DataFrame, customer: DataFrame,
      group: DataFrame, dStart: Column, dEnd: Column,
      tenant: String): DataFrame =
    mergePair(conformTo(target, factTemplate),
      sources(callLog, customer, group, dStart, dEnd, tenant),
      Some(col("Ngay").between(dStart, dEnd)), tenant)
}
