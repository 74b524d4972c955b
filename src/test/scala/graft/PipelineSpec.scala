package graft

import graft.functions.Classifiers
import graft.pipelines.{CallioIngest, FactStaffDaily}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  test("customerTransform: extraction, template conformance, UTC dates, hash") {
    val raw = df("_id STRING, updateTime BIGINT, assignedTime BIGINT, user STRING, customFields STRING, phone STRING",
      Row("c1", Long.box(1710090000000L), Long.box(1710000000000L),
        """{"_id":"u1","name":"Ann","group":{"_id":"g1"}}""",
        """[{"key":"tinh-trang-kh","val":"Bận"}]""", "0901"))
    val out = CallioIngest.customerTransform(raw, "PK")
    assert(out.columns.toSeq == CallioIngest.customerTemplate.fieldNames.toSeq)
    val r = out.head()
    assert(r.getAs[String]("user_id") == "u1")
    assert(r.getAs[String]("user_name") == "Ann")
    assert(r.getAs[String]("user_group_id") == "g1")
    assert(r.getAs[String]("customField_0_val") == "Bận")
    assert(r.getAs[String]("tenant") == "PK")
    // 2024-03-10T17:00Z → UTC date 2024-03-10 (ingest layer is UTC)
    assert(r.getAs[java.sql.Date]("NgayUpdate").toString == "2024-03-10")
    assert(r.getAs[String]("row_hash") != null)
    assert(r.getAs[String]("name") == null) // absent → typed null
  }

  test("callLogTransform: _id dedup, flatten, NgayTao") {
    val raw = df("_id STRING, createTime BIGINT, fromUser STRING, fromGroup STRING, billDuration BIGINT",
      Row("a", Long.box(1710090000000L), """{"_id":"u1","name":"Ann"}""",
        """{"_id":"g1"}""", Long.box(30L)),
      Row("a", Long.box(1710090000000L), """{"_id":"u1","name":"Ann"}""",
        """{"_id":"g1"}""", Long.box(30L)),
      Row("b", Long.box(1710090000001L), null, null, Long.box(0L)))
    val out = CallioIngest.callLogTransform(raw, "PK")
    assert(out.count() == 2)
    val a = out.filter(col("_id") === "a").head()
    assert(a.getAs[String]("fromUser__id") == "u1")
    assert(a.getAs[String]("fromUser__name") == "Ann")
    assert(a.getAs[String]("fromGroup__id") == "g1")
    assert(a.getAs[java.sql.Date]("NgayTao").toString == "2024-03-10")
  }

  test("staff/group transforms and the blank-name filter") {
    val staffRaw = df("_id STRING, name STRING, group STRING",
      Row("s1", "Ann", """{"_id":"g1"}"""), Row("s2", "  ", null),
      Row("s3", null, null))
    val staff = CallioIngest.staffNameFilter(
      CallioIngest.staffTransform(staffRaw, "PK"))
    assert(staff.count() == 1)
    assert(staff.head().getAs[String]("group_id") == "g1")

    val groupRaw = df("id STRING, name STRING", Row("7", "Team A"))
    val g = CallioIngest.groupTransform(groupRaw, "PK").head()
    assert(g.getAs[String]("group_id") == "7" && g.getAs[String]("name") == "Team A")
  }

  test("classifiers match diacritic and non-diacritic variants") {
    def check(s: String): (Boolean, Boolean, Boolean, Boolean) = {
      val r = df("s STRING", Row(s)).select(
        Classifiers.isKetBanZalo(col("s")), Classifiers.isCoNhuCau(col("s")),
        Classifiers.isTuChoi(col("s")), Classifiers.isKhongNgheMay(col("s"))).head()
      (r.getBoolean(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))
    }
    assert(check(" Kết bạn ZALO ") == (true, false, false, false))
    assert(check("co nhu cau") == (false, true, false, false))
    assert(check("suy nghĩ thêm") == (false, true, false, false))
    assert(check("khach chui nhan vien") == (false, false, true, false))
    assert(check("đã có thẻ") == (false, false, true, false))
    assert(check("THUÊ BAO") == (false, false, false, true))
    assert(check("Bận") == (false, false, false, true))
    assert(check("something else") == (false, false, false, false))
  }

  test("fact refresh: MERGE B preserves existing Team/MaNV and updates counters") {
    // Seed a target row for a (Ngay, MaNV_id) that MERGE A will rewrite
    // and MERGE B will partially update.
    val seeded = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(java.sql.Date.valueOf("2024-01-10"), "PK", "OldTeam", "1", "OldName",
          Long.box(99L), Long.box(99L), Long.box(99L), Long.box(99L),
          Double.box(9.9), Double.box(9.9), Long.box(99L),
          Long.box(1L), Long.box(1L),
          Long.box(7L), Long.box(7L), Long.box(7L), Long.box(7L))),
      FactStaffDaily.factTemplate)
    val callLog = df(
      "createTime BIGINT, startTime BIGINT, endTime BIGINT, billDuration BIGINT, " +
        "toNumber STRING, fromUser__id STRING, fromUser__name STRING, " +
        "fromGroup__id STRING, NgayTao DATE, tenant STRING",
      Row(Long.box(1704880800000L), Long.box(1704880800000L), // 2024-01-10 ~10:00Z
        Long.box(1704880830000L), Long.box(30L), "0901", "1", "NV1", "0",
        java.sql.Date.valueOf("2024-01-10"), "PK"))
    val customer = df(
      "_id STRING, assignedTime BIGINT, phone STRING, customField_0_val STRING, " +
        "user_id STRING, user_name STRING, user_group_id STRING, " +
        "NgayUpdate DATE, NgayAssign DATE, tenant STRING",
      Row("c1", Long.box(1704880800000L), "0901", "kết bạn zalo", "1", "NV1", "0",
        java.sql.Date.valueOf("2024-01-10"), java.sql.Date.valueOf("2024-01-10"), "PK"))
    val group = df("group_id STRING, name STRING", Row("0", "TeamZero"))
    val out = FactStaffDaily.refresh(seeded, callLog, customer, group,
      to_date(lit("2024-01-08")), to_date(lit("2024-01-14")), "PK")
    val r = out.filter(col("Ngay") === "2024-01-10" && col("MaNV_id") === "1").head()
    // MERGE A rewrote the metric columns (full update)
    assert(r.getAs[Long]("TongCuoc") == 1L)
    assert(r.getAs[String]("Team") == "TeamZero")
    // MERGE B updated the status counters; zalo status matched via phone
    assert(r.getAs[Long]("SoSDT_KetBanZalo") == 1L)
    assert(r.getAs[Long]("SoSDT_TuChoi") == 0L)
  }

  test("fact refresh is idempotent") {
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), FactStaffDaily.factTemplate)
    val callLog = graft.queries.PipelineOps.callLogAnalog(spark, "/root/testdata/sf0.001")
    val customer = graft.queries.PipelineOps.customerAnalog(spark, "/root/testdata/sf0.001")
    val group = graft.queries.PipelineOps.groupAnalog(spark, "/root/testdata/sf0.001")
    val lo = to_date(lit("2024-01-10")); val hi = to_date(lit("2024-01-17"))
    val once = FactStaffDaily.refresh(empty, callLog, customer, group, lo, hi, "PK")
    val twice = FactStaffDaily.refresh(once, callLog, customer, group, lo, hi, "PK")
    assert(rowSet(once) == rowSet(twice))
  }
}
