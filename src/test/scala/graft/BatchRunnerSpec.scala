package graft

import graft.operators.Upsert
import graft.pipelines.{BatchRunner, FactStaffDaily}
import graft.sources.FixtureSources
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

class BatchRunnerSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  // Anchor: 2024-01-10T00:00:00Z; 120 docs → one every minute, 2 hours.
  private val T0 = 1704844800000L
  private val Day = 86400000L

  private def runner(wh: String, t: Long, n: Int, version: Int) =
    new BatchRunner(spark, new FixtureSources.Paged(t, n, version),
      new FixtureSources.Snapshots, BatchRunner.Config(wh, tenants = Seq("PK"),
        sliceMs = 1800000L, pageSize = 13))

  /** One ingest slot of `n` one-a-minute docs from `t`. */
  private def ingest(wh: String, t: Long, n: Int, version: Int): Unit = {
    val r = runner(wh, t, n, version)
    r.bootstrap()
    r.runCustomer(t + n * 60000L)
    r.runCall(t + n * 60000L)
  }

  /** A warehouse with calls and customers on 2024-01-10 and -11 (UTC)
    * and the group snapshot, but no fact table yet.
    */
  private def twoDayWarehouse(prefix: String): String = {
    val wh = tempDir(prefix)
    ingest(wh, T0, 60, 1)
    runner(wh, T0, 60, 1).runStaffGroup()
    ingest(wh, T0 + Day, 60, 2)
    wh
  }

  /** Adds calls at 17:00–18:00 UTC on 2024-01-12: `NgayTao` is -12, the
    * VN7 reporting date `Ngay` is -13 (DEVIATIONS.md 14).
    */
  private def lateCalls(wh: String): Unit =
    ingest(wh, T0 + 2 * Day + 17 * 3600000L, 60, 3)

  /** MERGE A's and MERGE B's sources for a refresh ending `dEnd`. */
  private def factSources(wh: String, dEnd: String): Seq[DataFrame] = {
    val d = java.time.LocalDate.parse(dEnd)
    FactStaffDaily.sources(spark.read.parquet(s"$wh/call_log"),
      spark.read.parquet(s"$wh/customer"),
      spark.read.parquet(s"$wh/group").select("group_id", "name"),
      to_date(lit(d.minusDays(7).toString)), to_date(lit(d.toString)), "PK")
  }

  private def ngayRange(src: DataFrame): (java.sql.Date, java.sql.Date) = {
    val r = src.agg(min("Ngay"), max("Ngay")).head()
    (r.getDate(0), r.getDate(1))
  }

  private def factRows(fact: DataFrame): Seq[String] =
    fact.select(FactStaffDaily.factTemplate.fieldNames.toSeq.map(col): _*)
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def table(wh: String): Seq[String] =
    factRows(spark.read.parquet(s"$wh/fact_staff_daily"))

  test("full E1/E2/snapshot/E3 cycle: ingest, merge, re-run, report") {
    val wh = tempDir("runner_wh")
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

  test("a slot and a refresh run a pinned number of Spark jobs") {
    // Every job does work: the fetch is one job that also carries the
    // result-window flag and the doc count, the customer merge takes the
    // fetched batch, the merge range rides the source's materialization,
    // and a refresh is one query from the table scans to the write.
    val wh = tempDir("runner_jobs")
    val r1 = runner(wh, T0, 60, 1)
    r1.bootstrap()
    val now1 = T0 + 60 * 60000L
    val (_, customerCold) = jobsOf(r1.runCustomer(now1))
    val (_, call) = jobsOf(r1.runCall(now1))
    val (_, staffFirst) = jobsOf(r1.runStaffGroup())
    val r2 = runner(wh, T0, 120, 2)
    r2.bootstrap()
    val now2 = T0 + 120 * 60000L
    val (_, customer) = jobsOf(r2.runCustomer(now2))
    val (_, callAgain) = jobsOf(r2.runCall(now2))
    val (_, staff) = jobsOf(r2.runStaffGroup())
    val dEnd = java.time.LocalDate.parse("2024-01-12")
    val (_, refreshFirst) = jobsOf(r2.refreshReporting(dEnd))
    val (_, refresh) = jobsOf(r2.refreshReporting(dEnd))
    assert(Seq(customerCold, customer, call, callAgain, staffFirst, staff,
      refreshFirst, refresh) == Seq(7, 9, 7, 7, 6, 7, 7, 9))
  }

  /** The queries `body` ran, each with the name of the action that ran
    * it, in the order they finished.
    */
  private def queriesOf(body: => Unit): Seq[(String, QueryExecution)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        seen.add((action, qe))
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit =
        seen.add((action, qe))
    }
    org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.toArray(Array.empty[(String, QueryExecution)]).toSeq
  }

  test("a later refresh is one write query with a pinned number of exchanges and scans") {
    val wh = twoDayWarehouse("runner_plan")
    val dEnd = java.time.LocalDate.parse("2024-01-12")
    runner(wh, T0, 60, 1).refreshReporting(dEnd)
    val queries = queriesOf(runner(wh, T0, 60, 1).refreshReporting(dEnd))
    // One write and nothing else: no `localCheckpoint`, no range query.
    assert(queries.map(_._1) == Seq("command"))
    val nodes = collectWithSubqueries(queries.head._2.executedPlan) { case n => n }
    val exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    val scans = nodes.collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.head.getName }.groupBy(identity).map { case (t, s) => t -> s.size }
    assert(exchanges <= 6, s"$exchanges shuffle exchanges")
    assert(scans("call_log") <= 2 && scans("customer") <= 3, s"scans per table: $scans")
  }

  /** Customer rows with their hash, each as one string, sorted. */
  private def customerRows(wh: String): Seq[String] =
    spark.read.parquet(s"$wh/customer")
      .select(graft.pipelines.CallioIngest.customerTemplate.fieldNames.toSeq.map(col): _*)
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def partitions(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten.filter(_.contains("=")).sorted

  test("a customer merge killed mid-swap, then the next slot of a restarted runner, equals the no-fault run") {
    // Slots of one doc a minute from 23:00 UTC on 2024-01-09: slot 1
    // fills NgayUpdate=2024-01-09, slot 2 re-serves its last minutes in
    // v2 and spans both days.
    val t = T0 - 3600000L
    def slotRunner(wh: String, version: Int) =
      new BatchRunner(spark, new FixtureSources.Paged(t, 180, version),
        new FixtureSources.Snapshots, BatchRunner.Config(wh, tenants = Seq("PK"),
          sliceMs = 1800000L, pageSize = 13))
    def slot(r: BatchRunner, k: Int): Unit = {
      r.bootstrap()
      r.runCustomer(t + k * 3600000L)
    }
    val wh = tempDir("runner_crash")
    val clean = tempDir("runner_crash_nofault")
    Seq(wh, clean).foreach(w => slot(slotRunner(w, 1), 1))
    slot(slotRunner(clean, 2), 2)
    slot(slotRunner(clean, 2), 3)

    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfault.impl", classOf[InterruptingFs].getName)
    val faulty = slotRunner("graftfault://" + wh, 2)
    InterruptingFs.failInstallOf = "NgayUpdate=2024-01-09"
    val ex = intercept[RuntimeException](slot(faulty, 2))
    assert(ex.getMessage.contains("simulated"))
    assert(InterruptingFs.failInstallOf == null, "the fault must have fired")
    assert(new java.io.File(s"$wh/customer.merge-bak/NgayUpdate=2024-01-09").exists())
    // Nothing committed: the checkpoint stays at slot 1's last doc and
    // the log holds slot 1's MERGED row only.
    val slot1Mark = Some(t + 59 * 60000L)
    assert(faulty.checkpoints.getCheckpoint("customer", "PK") == slot1Mark)
    assert(spark.read.parquet(s"$wh/update_log")
      .filter(col("mode") === "MERGED").count() == 1)

    // The restarted runner re-fetches from slot 1's checkpoint.
    slot(slotRunner("graftfault://" + wh, 2), 3)
    assert(customerRows(wh) == customerRows(clean))
    assert(customerRows(wh).size == 180)
    assert(partitions(s"$wh/customer") == partitions(s"$clean/customer"))
    def mark(w: String) = {
      val r = slotRunner(w, 2)
      r.bootstrap()
      r.checkpoints.getCheckpoint("customer", "PK")
    }
    assert(mark(wh) == mark(clean) && mark(wh).contains(t + 179 * 60000L))
    assert(!new java.io.File(s"$wh/customer.merge-tmp").exists() &&
      !new java.io.File(s"$wh/customer.merge-bak").exists())
  }

  test("two tenants merge as one window: a row in the gap between their ranges moves, not duplicates") {
    val h = 3600000L
    def at(day: Int, hour: Int) = T0 + (day - 10) * Day + hour * h
    // Slot 1: PK's doc on 2024-01-11; QN's b1 and b2 on -13, b3 on -15.
    val v1 = Map(
      "PK" -> Seq(("a1", at(11, 10), "a1 v1")),
      "QN" -> Seq(("b1", at(13, 10), "b1 v1"), ("b2", at(13, 11), "b2 v1"),
        ("b3", at(15, 9), "b3 v1")))
    // Slot 2: PK's range is -11 (a1 re-read in the overlap, a2 new), QN's
    // is -15 (b3 re-read, b1 updated): b1's old copy sits on -13, between
    // the two ranges, where b2 stays.
    val v2 = Map(
      "PK" -> Seq(("a1", at(11, 10), "a1 v1"), ("a2", at(11, 12), "a2 v1")),
      "QN" -> Seq(("b1", at(15, 12), "b1 v2"), ("b2", at(13, 11), "b2 v1"),
        ("b3", at(15, 9), "b3 v1")))
    val wh = tempDir("runner_tenants")
    def slot(docs: Map[String, Seq[(String, Long, String)]], now: Long) = {
      val r = new BatchRunner(spark, TenantDocs(docs), new FixtureSources.Snapshots,
        BatchRunner.Config(wh, tenants = Seq("PK", "QN")))
      r.bootstrap()
      r.runCustomer(now)
      r
    }
    slot(v1, at(16, 0))
    val r = slot(v2, at(17, 0))
    val rows = spark.read.parquet(s"$wh/customer")
      .select("tenant", "_id", "name", "updateTime", "NgayUpdate", "row_hash")
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted
    assert(rows == Seq(
      "PK|a1|a1 v1|1704967200000|2024-01-11|c5f6aca6c68790a26ce50e151b5dface",
      "PK|a2|a2 v1|1704974400000|2024-01-11|724086deca0d802a385bc353c895b7c1",
      "QN|b1|b1 v2|1705320000000|2024-01-15|6ea7e40710d60781bc165d85fa6b784a",
      "QN|b2|b2 v1|1705143600000|2024-01-13|7da4afc1c292092af3a1458b3cb2cb2f",
      "QN|b3|b3 v1|1705309200000|2024-01-15|ca119cbb988dd26df2523e965f6d90bd"))
    assert(partitions(s"$wh/customer") ==
      Seq("NgayUpdate=2024-01-11", "NgayUpdate=2024-01-13", "NgayUpdate=2024-01-15"))
    assert(Seq("PK", "QN").map(r.checkpoints.getCheckpoint("customer", _)) ==
      Seq(Some(at(11, 12)), Some(at(15, 12))))
    val log = spark.read.parquet(s"$wh/update_log")
      .select("tenant", "table_name", "mode", "rows_loaded", "max_updateTime")
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted
    assert(log == Seq(
      "PK|customer|MERGED|1|1704967200000", "PK|customer|MERGED|2|1704974400000",
      "PK|customer|STAGED|1|null", "PK|customer|STAGED|2|null",
      "QN|customer|MERGED|2|1705320000000", "QN|customer|MERGED|3|1705309200000",
      "QN|customer|STAGED|2|null", "QN|customer|STAGED|3|null"))
  }

  test("a row that moves out of the only row's partition leaves no stale copy") {
    val h = 3600000L
    def at(day: Int, hour: Int) = T0 + (day - 10) * Day + hour * h
    // The two-tenant slots without b2: b1 is alone on 2024-01-13, and
    // slot 2 moves it to -15, inside the hull of both tenants' ranges.
    val v1 = Map(
      "PK" -> Seq(("a1", at(11, 10), "a1 v1")),
      "QN" -> Seq(("b1", at(13, 10), "b1 v1"), ("b3", at(15, 9), "b3 v1")))
    val v2 = Map(
      "PK" -> Seq(("a1", at(11, 10), "a1 v1"), ("a2", at(11, 12), "a2 v1")),
      "QN" -> Seq(("b1", at(15, 12), "b1 v2"), ("b3", at(15, 9), "b3 v1")))
    val wh = tempDir("runner_moved")
    Seq((v1, at(16, 0)), (v2, at(17, 0))).foreach { case (docs, now) =>
      val r = new BatchRunner(spark, TenantDocs(docs), new FixtureSources.Snapshots,
        BatchRunner.Config(wh, tenants = Seq("PK", "QN")))
      r.bootstrap()
      r.runCustomer(now)
    }
    val rows = spark.read.parquet(s"$wh/customer")
      .select("tenant", "_id", "name", "NgayUpdate")
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted
    assert(rows == Seq("PK|a1|a1 v1|2024-01-11", "PK|a2|a2 v1|2024-01-11",
      "QN|b1|b1 v2|2024-01-15", "QN|b3|b3 v1|2024-01-15"))
    assert(partitions(s"$wh/customer") == Seq("NgayUpdate=2024-01-11", "NgayUpdate=2024-01-15"))
  }

  test("runLoop: daemon catch-up drives the incremental batch end to end") {
    val wh = tempDir("runner_loop")
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
    val wh = tempDir("runner_vn7")
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
      empty, callLog, customer, group, lo, hi, "PK").localCheckpoint()
    val twice = graft.pipelines.FactStaffDaily.refresh(
      once, callLog, customer, group, lo, hi, "PK")
    assert(lateRows(once) == perStaff)
    assert(lateRows(twice) == (perStaff ++ perStaff).sorted)
  }

  test("a refresh sequence equals MERGE A then MERGE B, each pruned to its source's Ngay range") {
    // The model is the pair of physical MERGEs the refresh used to run:
    // each source merged into the table pruned to its own Ngay range.
    val wh = twoDayWarehouse("runner_model")
    var model = spark.createDataFrame(java.util.List.of[Row](),
      FactStaffDaily.factTemplate)
    def step(dEnd: String): Unit = {
      val Seq(srcA, srcB) = factSources(wh, dEnd)
      def prune(src: DataFrame) = {
        val (lo, hi) = ngayRange(src)
        Some(col("Ngay").between(lit(lo), lit(hi)))
      }
      val afterA = Upsert.upsert(model, srcA, Seq("Ngay", "MaNV_id"),
        updateExprs = FactStaffDaily.mergeAUpdates, targetPrune = prune(srcA))
      model = Upsert.upsert(afterA, srcB, Seq("Ngay", "MaNV_id"),
        updateExprs = FactStaffDaily.mergeBUpdates("PK"),
        targetPrune = prune(srcB)).localCheckpoint()
      runner(wh, T0, 60, 1).refreshReporting(java.time.LocalDate.parse(dEnd))
      assert(table(wh) == factRows(model), s"after the refresh ending $dEnd")
    }
    step("2024-01-12") // first refresh: the fact table does not exist yet
    assert(table(wh).nonEmpty)
    step("2024-01-12") // repeated dEnd
    step("2024-01-11") // alternating dEnd
    step("2024-01-12")
    lateCalls(wh)
    step("2024-01-12") // 17:00–24:00 UTC calls land on Ngay = dEnd + 1
    step("2024-01-12")
    val late = spark.read.parquet(s"$wh/fact_staff_daily")
      .filter(col("Ngay") === lit(java.sql.Date.valueOf("2024-01-13")))
    assert(late.count() == 5 && late.select("MaNV_id").distinct().count() == 5)
  }

  test("one refresh rewrites its stated window, each partition once, under one lock") {
    val wh = twoDayWarehouse("runner_swap")
    runner(wh, T0, 60, 1).refreshReporting(java.time.LocalDate.parse("2024-01-12"))
    lateCalls(wh)
    val Seq(srcA, srcB) = factSources(wh, "2024-01-12")
    val ranges = Seq(ngayRange(srcA), ngayRange(srcB))
    assert(ranges(0) != ranges(1), "the late calls give MERGE A a wider range")
    // The window [dEnd - 7, dEnd + 1] holds both sources' Ngay ranges.
    val (lo, hi) = (java.sql.Date.valueOf("2024-01-05"), java.sql.Date.valueOf("2024-01-13"))
    assert(ranges.forall { case (a, b) => !a.before(lo) && !b.after(hi) })
    val expected = spark.read.parquet(s"$wh/fact_staff_daily").select("Ngay")
      .union(srcA.select("Ngay")).union(srcB.select("Ngay")).distinct()
      .collect().map(_.getDate(0))
      .filter(d => !d.before(lo) && !d.after(hi))
      .map(d => s"Ngay=$d").toSeq.sorted
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfault.impl", classOf[InterruptingFs].getName)
    InterruptingFs.installs.clear()
    InterruptingFs.lockReleases.set(0)
    runner("graftfault://" + wh, T0, 60, 1)
      .refreshReporting(java.time.LocalDate.parse("2024-01-12"))
    val installs = InterruptingFs.installs.toArray.toSeq.map(_.toString)
    assert(installs.sorted == expected)
    assert(InterruptingFs.lockReleases.get() == 1)
  }

  test("a refresh whose window has no calls and no customers leaves fact_staff_daily's files untouched") {
    val wh = twoDayWarehouse("runner_quiet")
    val dEnd = java.time.LocalDate.parse("2024-01-12")
    runner(wh, T0, 60, 1).refreshReporting(dEnd)
    def files = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File(s"$wh/fact_staff_daily"), null, true)
      .toArray.map(_.toString).toSeq.sorted
    val before = (files, table(wh))
    assert(before._1.exists(_.endsWith(".parquet")))
    // The window holds every partition of the table, but tenant QN has
    // no call and no customer: nothing reaches the write, so nothing is
    // swapped.
    runner(wh, T0, 60, 1).refreshReporting(dEnd, tenant = "QN")
    assert((files, table(wh)) == before)
    assert(!new java.io.File(s"$wh/fact_staff_daily.merge-tmp").exists())
  }

  test("a refresh killed mid-swap, then re-run, equals the no-fault table") {
    val wh = twoDayWarehouse("runner_kill")
    runner(wh, T0, 60, 1).refreshReporting(java.time.LocalDate.parse("2024-01-12"))
    lateCalls(wh)
    val clean = tempDir("runner_nofault")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(wh), new java.io.File(clean))
    runner(clean, T0, 60, 1).refreshReporting(java.time.LocalDate.parse("2024-01-12"))

    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfault.impl", classOf[InterruptingFs].getName)
    val faulty = runner("graftfault://" + wh, T0, 60, 1)
    InterruptingFs.failInstallOf = "Ngay=2024-01-11"
    val ex = intercept[RuntimeException] {
      faulty.refreshReporting(java.time.LocalDate.parse("2024-01-12"))
    }
    assert(ex.getMessage.contains("simulated"))
    assert(InterruptingFs.failInstallOf == null, "the fault must have fired")
    // Killed between displace and install: the old copy sits in the backup.
    assert(!new java.io.File(s"$wh/fact_staff_daily/Ngay=2024-01-11").exists() &&
      new java.io.File(s"$wh/fact_staff_daily.merge-bak/Ngay=2024-01-11").exists())
    faulty.refreshReporting(java.time.LocalDate.parse("2024-01-12"))
    assert(table(wh) == table(clean))
    assert(!new java.io.File(s"$wh/fact_staff_daily.merge-tmp").exists() &&
      !new java.io.File(s"$wh/fact_staff_daily.merge-bak").exists())
  }
}

/** A customer feed of given `(_id, updateTime, name)` docs per tenant,
  * paged newest first like the Callio API; the call feed is empty.
  */
final case class TenantDocs(docs: Map[String, Seq[(String, Long, String)]])
    extends graft.sources.PagedSource.DocFetcher {
  override def fetchPage(entity: String, tenant: String, timeField: String,
      fromMs: Long, toMs: Long, page: Int,
      pageSize: Int): graft.sources.PagedSource.Page = {
    val window = (if (entity == "customer") docs.getOrElse(tenant, Nil) else Nil)
      .filter { case (_, ts, _) => ts >= fromMs && ts < toMs }
      .sortBy(-_._2)
      .map { case (id, ts, name) =>
        s"""{"_id":"$id","updateTime":$ts,"name":"$name",""" +
          s""""user":{"_id":"u1","name":"NV1","group":{"_id":"g1"}},"assignedTime":$ts}"""
      }
    val start = (page - 1) * pageSize
    graft.sources.PagedSource.Page(window.slice(start, start + pageSize),
      hasNextPage = start + pageSize < window.size)
  }
}
