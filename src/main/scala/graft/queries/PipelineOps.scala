package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.JsonExtract
import graft.pipelines.FactStaffDaily
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-pipeline parity battery: JSON payload extraction (P3-P6,
  * P13) and the full two-pass fact refresh (E3) driven end-to-end over
  * analog tables synthesized deterministically from the fixture data —
  * the same construction is stated in both engines, so the oracle checks
  * the *pipeline semantics* (extraction fallback chains, tz duality,
  * classifier regexes, merge behavior), not the synthesis.
  */
object PipelineOps {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  // ---- analog input tables for the fact refresh -----------------------
  // call_log analog from `events`; customer analog from `customer`;
  // group analog from `region`. All derived columns are functionally
  // dependent on the grouping keys so ANY_VALUE/first is deterministic
  // in both engines.

  private[graft] def callLogAnalog(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      unix_millis(col("ts")).as("createTime"),
      unix_millis(col("ts")).as("startTime"),
      (unix_millis(col("ts")) + floor(col("value") * 1000).cast(LongType)).as("endTime"),
      when(col("value") >= 100, floor(col("value")).cast(LongType))
        .otherwise(lit(0L)).as("billDuration"),
      concat(lit("09"), (col("event_id") % 211).cast(StringType)).as("toNumber"),
      col("user_id").cast(StringType).as("fromUser__id"),
      concat(lit("NV"), col("user_id").cast(StringType)).as("fromUser__name"),
      (col("user_id") % 7).cast(StringType).as("fromGroup__id"),
      to_date(col("ts")).as("NgayTao"),
      lit("PK").as("tenant"))

  private[graft] def customerAnalog(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .withColumn("NgayUpdate",
        date_add(to_date(lit("2024-01-01")), (col("c_custkey") % 30).cast(IntegerType)))
      .withColumn("NgayAssign",
        date_add(to_date(lit("2024-01-01")), (col("c_custkey") % 35).cast(IntegerType)))
      .select(
        col("c_custkey").cast(StringType).as("_id"),
        concat(lit("09"), (col("c_custkey") % 211).cast(StringType)).as("phone"),
        (unix_date(col("NgayAssign")).cast(LongType) * 86400000L +
          (col("c_custkey") % 24) * 3600000L).as("assignedTime"),
        (col("c_custkey") % 150).cast(StringType).as("user_id"),
        concat(lit("NV"), (col("c_custkey") % 150).cast(StringType)).as("user_name"),
        ((col("c_custkey") % 150) % 7).cast(StringType).as("user_group_id"),
        when(col("c_custkey") % 8 === 0, "Kết bạn Zalo")
          .when(col("c_custkey") % 8 === 1, "Có nhu cầu")
          .when(col("c_custkey") % 8 === 2, "suy nghĩ thêm")
          .when(col("c_custkey") % 8 === 3, "không nhu cầu")
          .when(col("c_custkey") % 8 === 4, "đã có thẻ")
          .when(col("c_custkey") % 8 === 5, "khách không tương tác")
          .when(col("c_custkey") % 8 === 6, "không nghe máy")
          .otherwise("Bận").as("customField_0_val"),
        col("NgayUpdate"), col("NgayAssign"),
        lit("PK").as("tenant"))

  private[graft] def groupAnalog(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "region").select(
      col("r_regionkey").cast(StringType).as("group_id"),
      col("r_name").as("name"))

  /** Shared status-label construction CASE, stated once for the oracle. */
  private val statusCaseSql = """CASE c_custkey % 8
           WHEN 0 THEN 'Kết bạn Zalo' WHEN 1 THEN 'Có nhu cầu'
           WHEN 2 THEN 'suy nghĩ thêm' WHEN 3 THEN 'không nhu cầu'
           WHEN 4 THEN 'đã có thẻ' WHEN 5 THEN 'khách không tương tác'
           WHEN 6 THEN 'không nghe máy' ELSE 'Bận' END"""

  val defs: Seq[QueryDef] = Seq(

    // ---- P6/P13: customFields cf0 extraction, all fallback branches ----
    // (reference utils.py:104-155). The JSON is constructed per-row to
    // exercise: val branch, key normalization + value branch, values
    // list with trim/dedup/" | " join, no-match → null, and Python-repr
    // input with text branch + None literal.
    QueryDef("q18_cf0_extract",
      (s, dir) => {
        val k = col("p_partkey")
        val cf = when(k % 5 === 0, format_string(
            """[{"key":"tinh-trang-kh","val":"%s"},{"key":"x","val":"zz"}]""",
            col("p_brand")))
          .when(k % 5 === 1, format_string(
            """[{"key":" Tinh-Trang-KH ","value":"%s"}]""", col("p_brand")))
          .when(k % 5 === 2, format_string(
            """[{"key":"tinh-trang-kh","values":["%s"," %s ","%s",""]}]""",
            col("p_brand"), col("p_type"), col("p_brand")))
          .when(k % 5 === 3, lit("""[{"key":"other","val":"zz"}]"""))
          .otherwise(format_string(
            """[{'key': 'tinh-trang-kh', 'text': '%s', 'name': None}]""",
            col("p_brand")))
        t(s, dir, "part")
          .select(k, JsonExtract.customField0(cf).as("cf0"))
          .orderBy("p_partkey")
      },
      Some("""
        SELECT p_partkey,
               CASE p_partkey % 5
                 WHEN 0 THEN p_brand
                 WHEN 1 THEN p_brand
                 WHEN 2 THEN p_brand || ' | ' || p_type
                 WHEN 3 THEN NULL
                 ELSE p_brand END AS cf0
        FROM part ORDER BY p_partkey""")),

    // ---- P3-P5/P13: user object extraction with shape tolerance --------
    // (reference utils.py:158-203): strict JSON with object group,
    // id-variant keys, Python-repr with scalar group, null payload.
    QueryDef("q19_user_extract",
      (s, dir) => {
        val k = col("c_custkey")
        val user = when(k % 4 === 0, format_string(
            """{"_id":"u%s","name":"%s","group":{"_id":"g%s"}}""",
            k, col("c_name"), col("c_nationkey")))
          .when(k % 4 === 1, format_string(
            """{"id":"u%s","name":"%s","group":{"id":"g%s"}}""",
            k, col("c_name"), col("c_nationkey")))
          .when(k % 4 === 2, format_string(
            """{'_id': 'u%s', 'name': '%s', 'group': 'g%s'}""",
            k, col("c_name"), col("c_nationkey")))
          .otherwise(lit(null).cast(StringType))
        t(s, dir, "customer")
          .select(k,
            JsonExtract.userId(user).as("uid"),
            JsonExtract.userName(user).as("uname"),
            JsonExtract.userGroupId(user).as("gid"))
          .orderBy("c_custkey")
      },
      Some("""
        SELECT c_custkey,
               CASE WHEN c_custkey % 4 = 3 THEN NULL
                    ELSE 'u' || CAST(c_custkey AS VARCHAR) END AS uid,
               CASE WHEN c_custkey % 4 = 3 THEN NULL ELSE c_name END AS uname,
               CASE WHEN c_custkey % 4 = 3 THEN NULL
                    ELSE 'g' || CAST(c_nationkey AS VARCHAR) END AS gid
        FROM customer ORDER BY c_custkey""")),

    // ---- E3: the full two-pass fact refresh (MERGE A + MERGE B) --------
    // (reference runner.py:589-874) against an empty target over a
    // 2024-01-10..17 window — exercises the VN+7 reporting dates vs UTC
    // dim dates (X-date), broadcast dim joins, full-outer metric join,
    // phone-join row multiplication, the four Vietnamese classifiers,
    // and MERGE B's partial-column-update insert/update split.
    QueryDef("q60_fact_staff_daily",
      (s, dir) => {
        val empty = s.createDataFrame(
          java.util.Collections.emptyList[Row](), FactStaffDaily.factTemplate)
        FactStaffDaily.refresh(empty,
            callLogAnalog(s, dir), customerAnalog(s, dir), groupAnalog(s, dir),
            to_date(lit("2024-01-10")), to_date(lit("2024-01-17")))
          .orderBy("Ngay", "MaNV_id")
      },
      Some(s"""
        WITH cl AS (
          SELECT epoch_ms(ts) AS createTime, epoch_ms(ts) AS startTime,
                 epoch_ms(ts) + CAST(floor(value*1000) AS BIGINT) AS endTime,
                 CASE WHEN value >= 100 THEN CAST(floor(value) AS BIGINT)
                      ELSE 0 END AS billDuration,
                 '09' || CAST(event_id % 211 AS VARCHAR) AS toNumber,
                 CAST(user_id AS VARCHAR) AS fromUser__id,
                 'NV' || CAST(user_id AS VARCHAR) AS fromUser__name,
                 CAST(user_id % 7 AS VARCHAR) AS fromGroup__id,
                 CAST(ts AS DATE) AS NgayTao
          FROM events),
        cu AS (
          SELECT CAST(c_custkey AS VARCHAR) AS _id,
                 '09' || CAST(c_custkey % 211 AS VARCHAR) AS phone,
                 epoch_ms(CAST(DATE '2024-01-01' + CAST(c_custkey % 35 AS INT) AS TIMESTAMP))
                   + (c_custkey % 24) * 3600000 AS assignedTime,
                 CAST(c_custkey % 150 AS VARCHAR) AS user_id,
                 'NV' || CAST(c_custkey % 150 AS VARCHAR) AS user_name,
                 CAST((c_custkey % 150) % 7 AS VARCHAR) AS user_group_id,
                 $statusCaseSql AS customField_0_val,
                 DATE '2024-01-01' + CAST(c_custkey % 30 AS INT) AS NgayUpdate,
                 DATE '2024-01-01' + CAST(c_custkey % 35 AS INT) AS NgayAssign
          FROM customer),
        g AS (SELECT CAST(r_regionkey AS VARCHAR) AS group_id, r_name AS name FROM region),
        calls AS (
          SELECT CAST(make_timestamp(createTime*1000) + INTERVAL 7 HOUR AS DATE) AS Ngay,
                 fromUser__id AS MaNV_id,
                 any_value(fromUser__name) AS MaNV,
                 any_value(COALESCE(g.name, 'Unassigned')) AS Team,
                 count(*) AS TongCuoc,
                 count(DISTINCT toNumber) AS SoSDT_Unique,
                 SUM(CASE WHEN billDuration > 0 THEN 1 ELSE 0 END) AS SoCuoc_NoiMay,
                 SUM(CASE WHEN billDuration = 0 THEN 1 ELSE 0 END) AS SoCuoc_KhongNoiMay,
                 CAST(SUM(CAST(CASE WHEN billDuration > 0
                     THEN CAST(billDuration AS DOUBLE) ELSE 0 END AS DECIMAL(28,6)))
                   AS DOUBLE) AS TongThoiluongGoi_Giay,
                 CAST(SUM(CAST(CASE WHEN billDuration = 0 AND endTime IS NOT NULL
                       AND startTime IS NOT NULL
                     THEN GREATEST(CAST(endTime - startTime AS DOUBLE)/1000.0
                       - CAST(billDuration AS DOUBLE), 0) ELSE 0 END AS DECIMAL(28,6)))
                   AS DOUBLE) AS TongRungChuong_Giay,
                 max(createTime) AS max_create_ms
          FROM cl LEFT JOIN g ON cl.fromGroup__id = g.group_id
          WHERE createTime IS NOT NULL
            AND NgayTao BETWEEN DATE '2024-01-10' AND DATE '2024-01-17'
          GROUP BY 1,2),
        assigned AS (
          SELECT CAST(make_timestamp(assignedTime*1000) + INTERVAL 7 HOUR AS DATE) AS Ngay,
                 user_id AS MaNV_id,
                 any_value(user_name) AS MaNV,
                 any_value(user_group_id) AS group_id,
                 count(DISTINCT _id) AS SoDataNhan,
                 max(assignedTime) AS max_assigned_ms
          FROM cu
          WHERE (NgayUpdate BETWEEN DATE '2024-01-10' AND DATE '2024-01-17'
                 OR NgayAssign BETWEEN DATE '2024-01-10' AND DATE '2024-01-17')
            AND assignedTime IS NOT NULL
            AND CAST(make_timestamp(assignedTime*1000) + INTERVAL 7 HOUR AS DATE)
                BETWEEN DATE '2024-01-10' AND DATE '2024-01-17'
          GROUP BY 1,2),
        agg_assigned AS (
          SELECT a.Ngay, a.MaNV_id, any_value(a.MaNV) AS MaNV,
                 any_value(g.name) AS Team,
                 max(a.SoDataNhan) AS SoDataNhan,
                 max(a.max_assigned_ms) AS max_assigned_ms
          FROM assigned a LEFT JOIN g ON a.group_id = g.group_id
          GROUP BY 1,2),
        sa AS (
          SELECT COALESCE(c.Ngay, s.Ngay) AS Ngay,
                 COALESCE(c.Team, s.Team) AS Team,
                 COALESCE(c.MaNV_id, s.MaNV_id) AS MaNV_id,
                 COALESCE(c.MaNV, s.MaNV) AS MaNV,
                 COALESCE(c.TongCuoc, 0) AS TongCuoc,
                 COALESCE(c.SoSDT_Unique, 0) AS SoSDT_Unique,
                 COALESCE(c.SoCuoc_NoiMay, 0) AS SoCuoc_NoiMay,
                 COALESCE(c.SoCuoc_KhongNoiMay, 0) AS SoCuoc_KhongNoiMay,
                 COALESCE(c.TongThoiluongGoi_Giay, 0) AS TongThoiluongGoi_Giay,
                 COALESCE(c.TongRungChuong_Giay, 0) AS TongRungChuong_Giay,
                 COALESCE(s.SoDataNhan, 0) AS SoDataNhan,
                 GREATEST(COALESCE(c.max_create_ms, 0), 0) AS max_create_ms,
                 COALESCE(s.max_assigned_ms, 0) AS max_assigned_ms
          FROM calls c FULL OUTER JOIN agg_assigned s
            ON c.Ngay = s.Ngay AND c.MaNV_id = s.MaNV_id
          WHERE COALESCE(c.MaNV_id, s.MaNV_id) IS NOT NULL),
        sfc AS (
          SELECT NgayTao AS Ngay, fromUser__id AS MaNV_id,
                 any_value(fromUser__name) AS MaNV, any_value(fromGroup__id) AS group_id
          FROM cl WHERE NgayTao BETWEEN DATE '2024-01-10' AND DATE '2024-01-17'
          GROUP BY 1,2),
        sfu AS (
          SELECT COALESCE(NgayAssign, NgayUpdate) AS Ngay, user_id AS MaNV_id,
                 any_value(user_name) AS MaNV, any_value(user_group_id) AS group_id
          FROM cu
          WHERE (NgayAssign BETWEEN DATE '2024-01-10' AND DATE '2024-01-17')
             OR (NgayUpdate BETWEEN DATE '2024-01-10' AND DATE '2024-01-17')
          GROUP BY 1,2),
        s1 AS (
          SELECT Ngay, MaNV_id, any_value(MaNV) AS MaNV, any_value(group_id) AS group_id
          FROM (SELECT * FROM sfc UNION ALL SELECT * FROM sfu)
          GROUP BY 1,2),
        se AS (
          SELECT s1.Ngay, s1.MaNV_id, s1.MaNV, COALESCE(g.name, 'Unassigned') AS Team
          FROM s1 LEFT JOIN g ON s1.group_id = g.group_id),
        ca AS (
          SELECT NgayTao AS Ngay, fromUser__id AS MaNV_id, toNumber AS SDTKhach
          FROM cl WHERE NgayTao BETWEEN DATE '2024-01-10' AND DATE '2024-01-17'),
        cr AS (
          SELECT phone, NULLIF(TRIM(customField_0_val), '') AS st
          FROM cu WHERE NgayUpdate BETWEEN DATE '2024-01-10' AND DATE '2024-01-17'),
        sp AS (
          SELECT Ngay, MaNV_id,
                 SUM(CASE WHEN lower(trim(st)) LIKE '%zalo%' THEN 1 ELSE 0 END) AS SoSDT_KetBanZalo,
                 SUM(CASE WHEN lower(trim(st)) IN ('có nhu cầu','co nhu cau')
                       OR regexp_matches(lower(trim(st)), 'không đủ điều kiện|khong du dieu kien|suy nghĩ thêm|suy nghi them')
                     THEN 1 ELSE 0 END) AS SoSDT_CoNhuCau,
                 SUM(CASE WHEN regexp_matches(lower(trim(st)), 'không nhu cầu|khong nhu cau|không có nhu cầu|khong co nhu cau|khách chửi nhân viên|khach chui nhan vien|tắt máy ngang|tat may ngang|khách không tương tác|khach khong tuong tac|đã có thẻ|da co the')
                     THEN 1 ELSE 0 END) AS SoSDT_TuChoi,
                 SUM(CASE WHEN regexp_matches(lower(trim(st)), 'máy không nghe được|may khong nghe duoc|không nghe máy|khong nghe may|thuê bao|thue bao')
                       OR lower(trim(st)) IN ('bận','ban')
                     THEN 1 ELSE 0 END) AS SoSDT_KhongNgheMay
          FROM (SELECT ca.Ngay, ca.MaNV_id, cr.st
                FROM ca LEFT JOIN cr ON ca.SDTKhach = cr.phone)
          GROUP BY 1,2),
        sb AS (
          SELECT p.Ngay, se.Team AS Team, p.MaNV_id, se.MaNV AS MaNV,
                 p.SoSDT_KetBanZalo, p.SoSDT_CoNhuCau, p.SoSDT_TuChoi, p.SoSDT_KhongNgheMay
          FROM sp p LEFT JOIN se ON p.Ngay = se.Ngay AND p.MaNV_id = se.MaNV_id)
        SELECT COALESCE(a.Ngay, b.Ngay) AS Ngay,
               'PK' AS Tenant,
               COALESCE(a.Team, b.Team) AS Team,
               COALESCE(a.MaNV_id, b.MaNV_id) AS MaNV_id,
               COALESCE(a.MaNV, b.MaNV) AS MaNV,
               a.TongCuoc, a.SoSDT_Unique, a.SoCuoc_NoiMay, a.SoCuoc_KhongNoiMay,
               a.TongThoiluongGoi_Giay, a.TongRungChuong_Giay, a.SoDataNhan,
               a.max_create_ms, a.max_assigned_ms,
               b.SoSDT_KetBanZalo, b.SoSDT_CoNhuCau, b.SoSDT_TuChoi, b.SoSDT_KhongNgheMay
        FROM sa a FULL OUTER JOIN sb b
          ON a.Ngay = b.Ngay AND a.MaNV_id = b.MaNV_id
        ORDER BY 1, 4""")),

    // ---- JSONL ingest with malformed-record quarantine (q178) -----------
    // The q177/q133 pattern applied to the dominant training-data
    // interchange format: Spark renders documents as canonical JSONL
    // (format_string, not to_json — field order reconstructible in
    // SQL), TEARS every 53rd line (last 7 chars dropped → unterminated
    // object), writes genuine text files, and must ingest them back
    // through JsonlSource (text scan → from_json PERMISSIVE + corrupt
    // column, one map-side pass). Good rows surface parsed; torn rows
    // surface as quarantined raw lines. DuckDB regenerates both
    // populations from the id arithmetic and never reads a JSON file.
    QueryDef("q178_jsonl_quarantine",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
        val line = format_string(
          """{"doc_id":%d,"lang":"%s","n_chars":%d}""",
          col("doc_id"), col("lang"), col("n_chars"))
        val torn = when(pmod(col("doc_id"), lit(53)) === 0,
          substring(line, lit(1), (length(line) - lit(7)).cast("int")))
          .otherwise(line)
        val path = sys.props("java.io.tmpdir") +
          s"/graft_jsonl_q178_${java.lang.Integer.toHexString(dir.hashCode)}"
        docs.select(torn.as("value"))
          .write.mode("overwrite").text(path)
        val schema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("lang", StringType),
          StructField("n_chars", LongType)))
        val parsed = graft.sources.JsonlSource.parseWithQuarantine(
          s.read.text(path).withColumnRenamed("value", "line"),
          "line", schema)
        parsed.select(
            col("doc_id"), col("lang"), col("n_chars"),
            when(col("quarantined"), lit("quarantined")).otherwise(lit("ok"))
              .as("status"),
            when(col("quarantined"), col("line"))
              .otherwise(lit(null).cast("string")).as("raw"))
          .orderBy("doc_id", "raw")
      },
      Some("""
        WITH j AS (SELECT doc_id, lang, n_chars,
                          printf('{"doc_id":%d,"lang":"%s","n_chars":%d}',
                                 doc_id, lang, n_chars) AS line
                   FROM documents)
        SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
               CAST(n_chars AS BIGINT) AS n_chars,
               'ok' AS status, CAST(NULL AS VARCHAR) AS raw
        FROM j WHERE doc_id % 53 <> 0
        UNION ALL
        SELECT NULL, NULL, NULL, 'quarantined',
               substr(line, 1, CAST(length(line) - 7 AS INT))
        FROM j WHERE doc_id % 53 = 0
        ORDER BY doc_id, raw""")),

    // ---- CSV ingest with malformed-record quarantine (q187) -------------
    // q178's contract for the other interchange format, with CSV's
    // own corruption semantics pinned: a TYPE violation (every 53rd
    // row renders n_chars as 'x<n>', which cannot coerce to BIGINT)
    // quarantines, and so does a SHORT row (every 71st row drops its
    // trailing field) — positional formats get no absent-field
    // relaxation from `from_csv`, which marks under-length records
    // malformed, unlike JSON's named fields. DuckDB regenerates all
    // three populations from the id arithmetic and never reads a CSV
    // byte.
    QueryDef("q187_csv_quarantine",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
        val line = when(pmod(col("doc_id"), lit(53)) === 0,
            format_string("%d,%s,x%d",
              col("doc_id"), col("lang"), col("n_chars")))
          .when(pmod(col("doc_id"), lit(71)) === 0,
            format_string("%d,%s", col("doc_id"), col("lang")))
          .otherwise(format_string("%d,%s,%d",
            col("doc_id"), col("lang"), col("n_chars")))
        val path = sys.props("java.io.tmpdir") +
          s"/graft_csv_q187_${java.lang.Integer.toHexString(dir.hashCode)}"
        docs.select(line.as("value")).write.mode("overwrite").text(path)
        val schema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("lang", StringType),
          StructField("n_chars", LongType)))
        graft.sources.CsvSource.parseWithQuarantine(
            s.read.text(path).withColumnRenamed("value", "line"),
            "line", schema)
          // CSV PERMISSIVE keeps the fields that DID coerce on a
          // corrupt row (JSON nulls the whole struct); the contract
          // here is "a quarantined row exposes only its raw line", so
          // the typed fields are masked when quarantined.
          .select(
            when(!col("quarantined"), col("doc_id")).as("doc_id"),
            when(!col("quarantined"), col("lang")).as("lang"),
            when(!col("quarantined"), col("n_chars")).as("n_chars"),
            when(col("quarantined"), lit("quarantined")).otherwise(lit("ok"))
              .as("status"),
            when(col("quarantined"), col("line"))
              .otherwise(lit(null).cast("string")).as("raw"))
          .orderBy("doc_id", "raw")
      },
      Some("""
        SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
               CAST(n_chars AS BIGINT) AS n_chars,
               'ok' AS status, CAST(NULL AS VARCHAR) AS raw
        FROM documents WHERE doc_id % 53 <> 0 AND doc_id % 71 <> 0
        UNION ALL
        SELECT NULL, NULL, NULL, 'quarantined',
               printf('%d,%s,x%d', doc_id, lang, n_chars)
        FROM documents WHERE doc_id % 53 = 0
        UNION ALL
        SELECT NULL, NULL, NULL, 'quarantined',
               printf('%d,%s', doc_id, lang)
        FROM documents WHERE doc_id % 71 = 0 AND doc_id % 53 <> 0
        ORDER BY doc_id, raw""")),

    // ---- ORC export round-trip with pruned read-back (q179) -------------
    // Storage.exportAs writes the documents table as ORC with the same
    // layout discipline as the parquet path (partitionBy lang,
    // sortWithinPartitions doc_id for stripe min-max locality); the
    // gate reads it back through a lang-partition-pruned, doc_id-
    // filtered scan and aggregates. A hash match proves the format
    // round-trip loses nothing; StorageSpec pins that the ORC scan
    // actually receives the pushed filter and pruned partition (the
    // scan-efficiency half a result hash cannot see).
    QueryDef("q179_orc_roundtrip",
      (s, dir) => {
        val path = sys.props("java.io.tmpdir") +
          s"/graft_orc_q179_${java.lang.Integer.toHexString(dir.hashCode)}"
        graft.sources.Storage.exportAs(
          t(s, dir, "documents").select("doc_id", "lang", "n_chars", "source"),
          path, "orc", partitionCol = Some("lang"), clusterBy = Seq("doc_id"))
        graft.sources.Storage.readAs(s, path, "orc")
          .filter(col("doc_id") % 3 === 0)
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
          .orderBy("lang", "source")
      },
      Some("""
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS min_id, max(doc_id) AS max_id
        FROM documents WHERE doc_id % 3 = 0
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- forget pipeline end-to-end across every index family (q205) -----
    // The GDPR capstone, composing the erasure faces the round built:
    // build ALL THREE serving artifacts (BM25 postings, LSH band index,
    // IVF vector index), tombstone-delete the forget set from each
    // (q201/q202 and bandIndexDelete), compact, then MEASURE the
    // leftovers — n_leaked is counted by scanning the real post-compact
    // bytes for erased ids, and the oracle states the contract (exact
    // retained-row counts, zero leaks), so the hash match proves the
    // pipeline actually removed the data, not that the test assumed it.
    // Every count is a bounded driver-side aggregate; the builds and
    // compacts are the operators' own one-pass plans.
    QueryDef("q205_forget_e2e",
      (s, dir) => {
        import graft.operators.{Dedup, Similarity, TextIndex}
        // The three artifact pipelines are INDEPENDENT (own paths, own
        // locks) and each underfills the cluster on its own — submit
        // their jobs concurrently at every phase boundary (Spark
        // sessions accept jobs from multiple threads; this is the
        // driver-side analog of the fixed-N widening). Routed through
        // the gated fork so the concurrentSubtrees A/B covers it.
        def par[T](xs: (() => T)*): Seq[T] = {
          val hs = xs.map(f => graft.functions.ColumnLib.fork(s)(f()))
          graft.functions.ColumnLib.awaitAll(hs: _*)
          hs.map(_())
        }
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), col("label"))
        val badDocs = d.filter(col("doc_id") % 9 === 3).select("doc_id")
          .localCheckpoint(true) // two deletes + two leak scans read it
        val badVecs = e.filter(col("vec_id") % 9 === 3).select("vec_id")
          .localCheckpoint(true) // delete + leak scan read it
        val base = sys.props("java.io.tmpdir") +
          s"/graft_forget_q205_${java.lang.Integer.toHexString(dir.hashCode)}"
        val pText = base + "/text"; val pBand = base + "/band"
        val pIvf = base + "/ivf"
        val cents = Similarity.centroids(
            e.select(col("label").as("cluster"), col("embedding")),
            "cluster", "embedding")
          .localCheckpoint(true) // write + compact lineage
        par(
          () => TextIndex.write(d, "doc_id", "text", pText),
          () => Dedup.bandIndexWrite(d, "doc_id", "text", 4, 3, 2, pBand),
          () => Similarity.ivfWrite(e, "vec_id", "embedding", cents, pIvf))
        def rows(p: String): Long = s.read.parquet(p).count()
        val Seq(bT, bB, bV) =
          par(() => rows(pText), () => rows(pBand), () => rows(pIvf))
        val before = Map("text_index" -> bT, "band_index" -> bB,
          "vector_index" -> bV)
        par(
          () => TextIndex.delete(s, pText, badDocs, "gdpr1"),
          () => Dedup.bandIndexDelete(s, pBand, badDocs, "gdpr1"),
          () => Similarity.ivfDelete(s, pIvf, badVecs, "gdpr1"))
        par(
          () => TextIndex.compact(s, pText),
          () => Dedup.bandIndexCompact(s, pBand),
          () => Similarity.ivfCompact(s, pIvf))
        if (s.conf.get("spark.graft.fusedGateCounts", "true").toBoolean) {
          // The post-compact row and leak counts need no more driver
          // actions at all: fold each artifact's (n_after, n_leaked)
          // into ONE aggregate over its post-compact bytes — the leak
          // ids are unique, so a left join marks each index row at
          // most once and count(hit) ≡ the old semi-join count — and
          // return the UNION lazily, so the bench's single final
          // action computes all three scans as sibling stages of one
          // job instead of six serial driver actions (guide §1.5/§5 —
          // driver-gap overhead; profiled ~1-2 s of inter-job gaps).
          def after(artifact: String, p: String, idCol: String,
              bad: DataFrame, nBefore: Long): DataFrame =
            s.read.parquet(p)
              .join(bad.select(col(bad.columns.head).as(idCol),
                  lit(1).as("__hit")), Seq(idCol), "left")
              .agg(count(lit(1)).as("n_after"),
                coalesce(sum(col("__hit")), lit(0)).cast("long")
                  .as("n_leaked"))
              .select(lit(artifact).as("artifact"),
                lit(nBefore).as("n_before"), col("n_after"),
                col("n_leaked"))
          after("band_index", pBand, "doc_id", badDocs, before("band_index"))
            .unionByName(after("text_index", pText, "doc", badDocs,
              before("text_index")))
            .unionByName(after("vector_index", pIvf, "vec_id", badVecs,
              before("vector_index")))
            .orderBy("artifact")
        } else {
          def leak(p: String, idCol: String, bad: DataFrame): Long =
            s.read.parquet(p)
              .join(bad.select(col(bad.columns.head).as(idCol)),
                Seq(idCol), "left_semi")
              .count()
          val out = Seq(
            ("band_index", before("band_index"), rows(pBand),
              leak(pBand, "doc_id", badDocs)),
            ("text_index", before("text_index"), rows(pText),
              leak(pText, "doc", badDocs)),
            ("vector_index", before("vector_index"), rows(pIvf),
              leak(pIvf, "vec_id", badVecs)))
          s.createDataFrame(
              java.util.List.of(out.map(r => Row(r._1, r._2, r._3, r._4)): _*),
              StructType.fromDDL(
                "artifact STRING, n_before LONG, n_after LONG, n_leaked LONG"))
            .orderBy("artifact")
        }
      },
      Some("""
        WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        rd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
               WHERE doc_id % 9 <> 3),
        pt AS (SELECT DISTINCT doc_id, token FROM (
                 SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents)),
        tb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pt),
        ta AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pt
               WHERE doc_id % 9 <> 3),
        nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
        rv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
               WHERE vec_id % 9 <> 3)
        SELECT * FROM (
          SELECT 'band_index' AS artifact, 2 * nd.n AS n_before,
                 2 * rd.n AS n_after, CAST(0 AS BIGINT) AS n_leaked
          FROM nd, rd
          UNION ALL
          SELECT 'text_index', tb.n, ta.n, CAST(0 AS BIGINT) FROM tb, ta
          UNION ALL
          SELECT 'vector_index', nv.n, rv.n, CAST(0 AS BIGINT) FROM nv, rv)
        ORDER BY artifact""")),

    // ---- bucketed-table co-located join, round-trip gated (q209) ---------
    // The 100 TB layout lever (SURVEY §4): both fact tables written
    // bucketed on the join key, so the repeated fact-fact join runs
    // with NO exchange on either side (StorageSpec pins the
    // exchange-free plan; this gate pins the bucketed ROUND-TRIP's
    // correctness — every row lands in the right bucket and the
    // bucket-wise join loses and duplicates nothing). Sums accumulate
    // in DECIMAL (order-free) and surface rounded.
    QueryDef("q209_bucketed_join",
      (s, dir) => {
        import graft.sources.Storage
        Storage.writeBucketed(
          t(s, dir, "orders").select(col("o_orderkey"),
            col("o_orderpriority")),
          "graft_q209_orders", "o_orderkey", 8)
        Storage.writeBucketed(
          t(s, dir, "lineitem").select(col("l_orderkey").as("o_orderkey"),
            col("l_quantity")),
          "graft_q209_lineitem", "o_orderkey", 8)
        s.table("graft_q209_orders")
          .join(s.table("graft_q209_lineitem"), "o_orderkey")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_quantity").cast(DecimalType(38, 9)))
              .cast(DoubleType), 9).as("sum_qty"),
            min(col("o_orderkey")).as("min_ok"),
            max(col("o_orderkey")).as("max_ok"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
               round(CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,9)))
                          AS DOUBLE), 9) AS sum_qty,
               min(o.o_orderkey) AS min_ok, max(o.o_orderkey) AS max_ok
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1 ORDER BY 1""")))
}
