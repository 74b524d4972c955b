package graft

import graft.pipelines.BatchRunner
import graft.sources.FixtureSources
import org.apache.spark.sql.functions._

class BatchRunnerSpec extends SparkSpec {

  // Anchor: 2024-01-10T00:00:00Z; 120 docs → one every minute, 2 hours.
  private val T0 = 1704844800000L

  test("full E1/E2/snapshot/E3 cycle: ingest, merge, re-run, report") {
    val wh = java.nio.file.Files.createTempDirectory("runner_wh").toString
    val cfg = BatchRunner.Config(wh, tenants = Seq("PK"),
      sliceMs = 1800000L, pageSize = 13)
    val now1 = T0 + 120 * 60000L

    // --- run 1: cold start ---
    val r1 = new BatchRunner(spark, new FixtureSources.Paged(T0, 120, version = 1),
      new FixtureSources.Snapshots, cfg)
    r1.bootstrap()
    r1.runCustomer(now1)
    r1.runCall(now1)
    r1.runStaffGroup()

    val cust1 = spark.read.parquet(s"$wh/customer")
    assert(cust1.count() == 120)
    assert(cust1.filter(col("_id") === "c7").head().getAs[String]("name") == "cust 7 v1")
    assert(spark.read.parquet(s"$wh/call_log").count() == 120)
    assert(spark.read.parquet(s"$wh/staff").count() == 2) // blank name dropped
    assert(spark.read.parquet(s"$wh/group").count() == 3)
    assert(r1.checkpoints.getCheckpoint("customer", "PK").contains(T0 + 119 * 60000L))
    assert(r1.checkpoints.getCheckpoint("call_log", "PK").contains(T0 + 119 * 60000L))

    // --- run 2: fresh runner (warm from audit log), mutated re-served docs ---
    val now2 = now1 + 60 * 60000L
    val r2 = new BatchRunner(spark,
      new FixtureSources.Paged(T0, 180, version = 2), // 60 new + re-reads
      new FixtureSources.Snapshots, cfg)
    r2.bootstrap()
    assert(r2.checkpoints.getCheckpoint("customer", "PK").contains(T0 + 119 * 60000L),
      "checkpoint must survive via the audit log")
    r2.runCustomer(now2)
    r2.runCall(now2)

    val cust2 = spark.read.parquet(s"$wh/customer")
    assert(cust2.count() == 180, "no duplicates after overlap re-read + merge")
    // overlap window (3 min) re-read docs got the v2 update (newer updateTime wins)
    assert(cust2.filter(col("_id") === "c150").head().getAs[String]("name") == "cust 150 v2")
    assert(r2.checkpoints.getCheckpoint("customer", "PK").contains(T0 + 179 * 60000L))
    // call_log is append-only: 120 + 60 new (no overlap)
    assert(spark.read.parquet(s"$wh/call_log").count() == 180)

    // --- reporting refresh over the ingest window ---
    r2.refreshReporting(java.time.LocalDate.parse("2024-01-12"), windowDays = 7)
    val fact = spark.read.parquet(s"$wh/fact_staff_daily")
    assert(fact.count() > 0)
    val row = fact.filter(col("MaNV_id") === "u1").orderBy("Ngay").head()
    assert(row.getAs[String]("Team").startsWith("Team"))
    assert(row.getAs[Long]("TongCuoc") > 0)
    assert(!row.isNullAt(row.fieldIndex("SoSDT_KetBanZalo")))

    // --- audit trail recorded every stage ---
    val modes = spark.read.parquet(s"$wh/update_log")
      .select("mode").distinct().collect().map(_.getString(0)).toSet
    assert(Set("STAGED", "MERGED", "APPEND", "TRUNCATE").subsetOf(modes))

    // --- run 3: nothing new — overlap re-read merges idempotently,
    // call fetch yields zero docs and audits NOOP ---
    val r3 = new BatchRunner(spark,
      new FixtureSources.Paged(T0, 180, version = 3), new FixtureSources.Snapshots, cfg)
    r3.bootstrap()
    r3.runCustomer(now2)
    r3.runCall(now2)
    assert(spark.read.parquet(s"$wh/customer").count() == 180,
      "overlap re-read must not duplicate rows")
    assert(spark.read.parquet(s"$wh/call_log").count() == 180,
      "append-only feed with no new docs must append nothing")
    val noops = spark.read.parquet(s"$wh/update_log")
      .filter(col("mode") === "NOOP" && col("table_name") === "call_log")
    assert(noops.count() >= 1, "empty call fetch must audit NOOP")
  }

  test("runLoop: daemon catch-up drives the incremental batch end to end") {
    val wh = java.nio.file.Files.createTempDirectory("runner_loop").toString
    val cfg = BatchRunner.Config(wh, tenants = Seq("PK"),
      sliceMs = 1800000L, pageSize = 13)
    val r = new BatchRunner(spark, new FixtureSources.Paged(T0, 120, version = 1),
      new FixtureSources.Snapshots, cfg)
    r.bootstrap()
    r.runStaffGroup() // reporting refresh needs the group dimension
    // Boot "now" = fixture end time, inside a slot that never ran →
    // the daemon fires the batch immediately (catch-up), then parks in
    // the sleep branch; stop after two iterations (one run + one tick).
    val boot = java.time.Instant.ofEpochMilli(T0 + 120 * 60000L)
    var clock = boot
    var iters = 0
    val last = r.runLoop(
      lastRun = None,
      shouldStop = () => iters >= 2,
      sleep = s => clock = clock.plusSeconds(s),
      now = () => { iters += 1; clock })
    // The single catch-up batch landed both feeds at the boot instant,
    // and the post-job hook refreshed the reporting fact (reference
    // runner.py:925-931).
    assert(spark.read.parquet(s"$wh/customer").count() == 120)
    assert(spark.read.parquet(s"$wh/call_log").count() == 120)
    assert(spark.read.parquet(s"$wh/fact_staff_daily").count() > 0)
    assert(last.contains(boot))
  }

  test("refreshReporting prunes MERGE A to the source's Ngay range (DEVIATIONS.md 14)") {
    // Calls at 17:00-18:00 UTC on dEnd: NgayTao = dEnd is inside the
    // window, but the VN7 reporting date Ngay = dEnd + 1 is outside it.
    val dEnd = java.time.LocalDate.parse("2024-01-12")
    val t17 = T0 + 2 * 86400000L + 17 * 3600000L
    val wh = java.nio.file.Files.createTempDirectory("runner_vn7").toString
    val r = new BatchRunner(spark, new FixtureSources.Paged(t17, 60, version = 1),
      new FixtureSources.Snapshots, BatchRunner.Config(wh, tenants = Seq("PK"),
        sliceMs = 1800000L, pageSize = 13))
    r.bootstrap()
    r.runCustomer(t17 + 60 * 60000L)
    r.runCall(t17 + 60 * 60000L)
    r.runStaffGroup()
    val late = java.sql.Date.valueOf(dEnd.plusDays(1))
    def lateRows(fact: org.apache.spark.sql.DataFrame) =
      fact.filter(col("Ngay") === lit(late))
        .select("MaNV_id", "TongCuoc").collect()
        .map(row => row.getString(0) -> row.getLong(1)).toSeq.sorted

    // Engine: the target is pruned to srcA's own Ngay range, which
    // holds dEnd + 1, so a repeated refresh UPDATES the existing rows.
    r.refreshReporting(dEnd)
    r.refreshReporting(dEnd)
    val perStaff = (0 until 5).map(i => s"u$i" -> 12L)
    assert(lateRows(spark.read.parquet(s"$wh/fact_staff_daily")) == perStaff)

    // Reference semantics, kept by the in-memory FactStaffDaily.refresh:
    // MERGE A's target is pruned to [dStart, dEnd], the dEnd + 1 rows
    // cannot match, and the repeated refresh inserts duplicates.
    val callLog = spark.read.parquet(s"$wh/call_log")
    val customer = spark.read.parquet(s"$wh/customer")
    val group = spark.read.parquet(s"$wh/group").select("group_id", "name")
    val lo = to_date(lit(dEnd.minusDays(7).toString))
    val hi = to_date(lit(dEnd.toString))
    val empty = spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](),
      graft.pipelines.FactStaffDaily.factTemplate)
    val once = graft.pipelines.FactStaffDaily.refresh(
      empty, callLog, customer, group, lo, hi).localCheckpoint()
    val twice = graft.pipelines.FactStaffDaily.refresh(
      once, callLog, customer, group, lo, hi)
    assert(lateRows(once) == perStaff)
    assert(lateRows(twice) == (perStaff ++ perStaff).sorted)
  }
}
