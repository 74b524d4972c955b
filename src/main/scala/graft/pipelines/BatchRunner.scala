package graft.pipelines

import graft.incremental.{CheckpointStore, Scheduler, UpdateLogBuffer}
import graft.operators.Upsert
import graft.sources.{PagedSource, Storage}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** End-to-end batch orchestration — the reference's job runners
  * re-expressed over the engine's own layers (SURVEY.md §3 E1/E2 and
  * the staff/group snapshot flow; reference runner.py:55-145, 215-313,
  * 355-415, 523-563).
  *
  * Wiring per run:
  *   checkpoint → cutoff arithmetic → [[PagedSource]] fetch →
  *   [[CallioIngest]] transform → window merge of the fetched batch
  *   ([[Upsert]]) or append ([[Storage]]) → checkpoint commit → audit
  *   rows.
  *
  * Commit ordering follows the reference exactly (SURVEY.md §2.9 I4):
  * the customer checkpoint advances only after the MERGE succeeds
  * (exactly-once via the hash-guarded upsert); the call_log checkpoint
  * advances right after the append and only forward (at-least-once —
  * a crash between append and checkpoint can re-append rows, deduped
  * only in-batch; same documented caveat as the reference).
  */
final class BatchRunner(
    spark: SparkSession,
    fetcher: PagedSource.DocFetcher,
    snapshots: BatchRunner.SnapshotFetcher,
    cfg: BatchRunner.Config) {

  private def p(table: String) = s"${cfg.warehouseDir}/$table"

  /** A warehouse table, read in the schema its writer declares. */
  private def read(table: String, schema: StructType) =
    Storage.read(spark, p(table), schema)

  val audit = new UpdateLogBuffer(spark, p("update_log"))
  val checkpoints = new CheckpointStore(spark, p("update_log"))

  /** Warm the checkpoint cache from the audit log. Tables need no DDL
    * bootstrap — the first partitioned write declares each layout.
    */
  def bootstrap(): Unit = checkpoints.warm()

  /** E1: incremental customer pull + windowed MERGE for all tenants
    * (reference runner.py:523-563 + 55-146 + 148-210). The merge takes
    * the fetched batch itself: the reference stages it only because a
    * BigQuery MERGE needs a table as its source (DEVIATIONS.md 16).
    */
  def runCustomer(nowMs: Long): Unit = {
    val fetched = cfg.tenants.flatMap { tenant =>
      val ck = checkpoints.getCheckpoint("customer", tenant)
      val cutoff = Scheduler.cutoffMs(ck, nowMs, cfg.overlapMs, cfg.daysIfEmpty)
      val res = PagedSource.fetchDescUntil(spark, fetcher, "customer", tenant,
        "updateTime", CallioIngest.customerFeed, cutoff, nowMs, cfg.sliceMs,
        cfg.minSliceMs, cfg.pageSize, cfg.limitRecords)
      // The result-window flag means a refused slice may have been
      // dropped — an auditable data-loss signal (reference logs a
      // warning at runner.py:95-104), never silently swallowed.
      if (res.hitResultWindowLimit)
        audit.add(tenant, "customer", 0, None, "RESULT_WINDOW_LIMIT")
      // The fetch job counted the docs: the NOOP decision runs no job.
      if (res.fetched == 0) {
        audit.add(tenant, "customer", 0, None, "NOOP"); None
      } else {
        // The row count and the watermark ride the merge's own jobs.
        val stats = Observation()
        Some((tenant, stats, CallioIngest.customerTransform(res.docs, tenant)
          .observe(stats, count(lit(1)).as("rows"), max(col("updateTime")).as("maxUpdate"))))
      }
    }
    if (fetched.nonEmpty) {
      // One source keeps the target range at the hull of every tenant's
      // NgayUpdate, the reference's single global window
      // (runner.py:540-542); rows without a NgayUpdate lie in no window.
      val batch = fetched.map(_._3).reduce(_.unionByName(_))
        .filter(col("NgayUpdate").isNotNull)
      Upsert.applyToPartitionedParquet(spark, p("customer"), batch,
        keys = Seq("tenant", "_id"), partitionCol = "NgayUpdate",
        sourceOrder = Seq(expr("try_cast(updateTime as long)").desc_nulls_last),
        // Guard replicated literally from the customer MERGE
        // (runner.py:177-181) — OR-joined, unlike the staff merge's
        // AND-joined guard in upsertAuto (runner.py:450-455).
        updateCond = Some("t.row_hash IS NULL OR t.row_hash != s.row_hash OR " +
          "try_cast(s.updateTime as long) >= try_cast(t.updateTime as long) OR " +
          "t.updateTime IS NULL"))
      fetched.foreach { case (tenant, stats, _) =>
        val rows = stats.get("rows").asInstanceOf[Long]
        audit.add(tenant, "customer", rows, None, "STAGED")
        Option(stats.get("maxUpdate")).map(_.asInstanceOf[Long]).foreach { mu =>
          checkpoints.setCheckpoint("customer", tenant, mu)
          audit.add(tenant, "customer", rows, Some(mu), "MERGED")
        }
      }
    }
    audit.flush()
  }

  /** E2: append-only call_log pull (reference runner.py:215-313) — no
    * overlap, direct append, forward-only checkpoint.
    */
  def runCall(nowMs: Long): Unit = {
    cfg.tenants.foreach { tenant =>
      val ck = checkpoints.getCheckpoint("call_log", tenant)
      val cutoff = Scheduler.cutoffMs(ck, nowMs, overlapMs = 0L, cfg.daysIfEmpty)
      val res = PagedSource.fetchDescUntil(spark, fetcher, "call", tenant,
        "createTime", CallioIngest.callFeed, cutoff, nowMs, cfg.sliceMs,
        cfg.minSliceMs, cfg.pageSize, cfg.limitRecords)
      if (res.hitResultWindowLimit)
        audit.add(tenant, "call_log", 0, None, "RESULT_WINDOW_LIMIT")
      if (res.fetched == 0) audit.add(tenant, "call_log", 0, None, "NOOP")
      else {
        val out = CallioIngest.callLogTransform(res.docs, tenant)
        val (rows, stats) = Storage.loadAppendObserving(out, p("call_log"),
          Seq(max(col("createTime")).as("maxCreate")),
          partitionCol = Some("NgayTao"), clusterBy = Seq("tenant"))
        // An empty transform output has no watermark: the checkpoint
        // stays where it was.
        Option(stats("maxCreate")).foreach(mc =>
          checkpoints.advanceCheckpoint("call_log", tenant, mc.asInstanceOf[Long]))
        audit.add(tenant, "call_log", rows,
          checkpoints.getCheckpoint("call_log", tenant), "APPEND")
      }
    }
    audit.flush()
  }

  /** Loop mode (reference runner.py:937-965): drive the incremental
    * customer + call batches once per schedule slot, with boot-time
    * missed-slot catch-up and error backoff, via the
    * [[graft.incremental.Daemon]] tick loop, then — like the reference's
    * post-job hook (runner.py:925-931) — refresh the reporting fact for
    * the slot's VN7 civil date. The refresh is BEST-EFFORT, exactly as
    * the reference wraps it (runner.py:925-931 try/except): a reporting
    * failure is logged and must never fail — let alone re-run — an
    * ingest that already committed. Per-table checkpoints still advance
    * inside the batches themselves; the returned instant is the last
    * successful whole-batch run, for the caller to persist and feed
    * back as `lastRun` on restart.
    *
    * `staffGroupSchedule` (reference `SCHEDULER_STAFF_GROUP_TIME_UTC`,
    * default the first run slot, config.py:170-175): when set, the
    * staff/group snapshot runs once per ITS slot, tracked separately
    * from the customer/call slots (reference run_tick keeps three
    * next-due cursors, runner.py:910-923). The check rides the main
    * tick loop, so a staff slot strictly between main slots fires at
    * the next main tick — at most one main-slot period late, exact for
    * the reference's default (staff slot = first main slot). Cold
    * start = immediate snapshot, like the reference's boot plan when
    * staff never ran.
    */
  def runLoop(schedule: Seq[java.time.LocalTime] = Scheduler.defaultRunTimes,
      lastRun: Option[java.time.Instant] = None,
      shouldStop: () => Boolean = () => false,
      sleep: Long => Unit = s => Thread.sleep(s * 1000L),
      now: () => java.time.Instant = () => java.time.Instant.now(),
      reporting: Boolean = true,
      staffGroupSchedule: Option[Seq[java.time.LocalTime]] = None)
      : Option[java.time.Instant] = {
    var staffLast: Option[java.time.Instant] = None
    graft.incremental.Daemon.run(
      graft.incremental.Daemon.Config(schedule), lastRun, now, sleep,
      shouldStop, { at =>
        val ms = at.toEpochMilli
        runCustomer(ms)
        runCall(ms)
        staffGroupSchedule.foreach { sg =>
          if (!Scheduler.ranInCurrentSlot(staffLast, at, sg)) {
            runStaffGroup()
            staffLast = Some(at)
          }
        }
        if (reporting)
          try refreshReporting(
            at.atZone(java.time.ZoneOffset.ofHours(7)).toLocalDate)
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"reporting refresh failed (ingest already committed): " +
                s"${e.getMessage}")
          }
      })._2
  }

  /** Staff + group snapshots (reference runner.py:355-415): the staff
    * snapshot is schema-adaptively merged on (tenant, name); group is a
    * truncate-replace snapshot.
    */
  def runStaffGroup(): Unit = {
    val staffAll = cfg.tenants.map(t =>
      CallioIngest.staffTransform(snapshots.fetchAll(spark, "staff", t), t))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val staff = CallioIngest.staffNameFilter(staffAll)
    if (!staff.isEmpty) {
      // A missing staff table merges as an empty one: the first snapshot
      // takes the same latest-wins path as every later one.
      val current =
        if (Storage.exists(spark, p("staff"))) read("staff", CallioIngest.staffTemplate)
        else staff.limit(0)
      val stats = Observation()
      Storage.loadTruncate(Upsert.upsertAuto(current,
        staff.observe(stats, count(lit(1)).as("rows")), keys = Seq("tenant", "name")),
        p("staff"))
      val rows = stats.get("rows").asInstanceOf[Long]
      audit.add("ALL", "staff", rows, None, "STAGED")
      audit.add("ALL", "staff", rows, None, "MERGED")
    } else audit.add("ALL", "staff", 0, None, "NOOP")

    val groupAll = cfg.tenants.map(t =>
      CallioIngest.groupTransform(snapshots.fetchAll(spark, "group", t), t))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    if (!groupAll.isEmpty) {
      val rows = Storage.loadTruncate(groupAll, p("group"))
      audit.add("ALL", "group", rows, None, "TRUNCATE")
    } else audit.add("ALL", "group", 0, None, "NOOP")
    audit.flush()
  }

  /** E3: the MERGE A → MERGE B pair into the date-partitioned fact
    * table over a trailing window ending today-VN7 (reference
    * runner.py:589-595), as ONE Spark query from the table scans to the
    * temp write and one swap. The target is pruned to the stated window
    * `[dStart, dEnd + 1]`, which holds every source row's `Ngay`, and
    * each partition is written once (DEVIATIONS.md 7 and 14).
    */
  def refreshReporting(dEnd: java.time.LocalDate,
      windowDays: Int = 7, tenant: String = "PK"): Unit = {
    val dStart = dEnd.minusDays(windowDays.toLong)
    val (lo, hi) = (to_date(lit(dStart.toString)), to_date(lit(dEnd.toString)))
    val group = read("group", CallioIngest.groupTemplate).select("group_id", "name")
    val sources = FactStaffDaily.sources(read("call_log", CallioIngest.callLogTemplate),
      read("customer", CallioIngest.customerTemplate), group, lo, hi, tenant)
    Upsert.rewritePartitions(spark, p("fact_staff_daily"), sources, "Ngay")(
      srcs => Some(Upsert.Scope(srcs, dStart, dEnd.plusDays(1))))(
      FactStaffDaily.mergePair(_, _, pruneA = None, tenant))
  }
}

object BatchRunner {

  /** Operational defaults mirror the reference config (SURVEY.md §6). */
  final case class Config(
      warehouseDir: String,
      tenants: Seq[String],
      overlapMs: Long = 180000L,
      daysIfEmpty: Int = 30,
      sliceMs: Long = 86400000L,
      minSliceMs: Long = 3600000L,
      pageSize: Int = 500,
      limitRecords: Option[Int] = None)

  /** Full-snapshot endpoints (staff/group, reference api.py:326-385):
    * unlike the paged incremental feeds these return everything at once.
    */
  trait SnapshotFetcher extends Serializable {
    def fetchAll(spark: SparkSession, entity: String, tenant: String): DataFrame
  }
}
