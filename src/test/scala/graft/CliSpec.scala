package graft

import graft.sources.FixtureSources
import org.apache.spark.sql.functions._

/** The operator CLI (reference `python -m callio_etl`, __main__.py:11-34)
  * driven end-to-end with injected env + fixture transports: arg/env
  * contract, a full once-mode run, and a daemon catch-up tick.
  */
class CliSpec extends SparkSpec {

  // Anchor: 2024-01-10T00:00:00Z; one doc per minute (FixtureSources).
  private val T0 = 1704844800000L

  private def env(wh: String) = Map(
    "GRAFT_WAREHOUSE_DIR" -> wh,
    "CALLIO_ACCOUNTS_JSON" ->
      """[{"tenant":"PK","email":"u@example.test","password":"pw"}]""",
    "API_TIME_SLICE_MS" -> "1800000")

  test("argument and env contract: defaults, rejects, exit codes") {
    assert(Cli.parseArgs(Nil) == Cli.Args("once", "all"))
    assert(Cli.parseArgs(Seq("--mode", "daemon")) == Cli.Args("daemon", "all"))
    assert(Cli.parseArgs(Seq("--job", "customer", "--mode", "once")) ==
      Cli.Args("once", "customer"))
    intercept[IllegalArgumentException](Cli.parseArgs(Seq("--job", "bogus")))
    intercept[IllegalArgumentException](Cli.parseArgs(Seq("--frobnicate")))
    // Bad usage and bad config are exit 2, loudly, before any work.
    assert(Cli.run(Seq("--frobnicate"), Map.empty, spark) == 2)
    assert(Cli.run(Nil, Map("CALLIO_ACCOUNTS_JSON" -> "[]"), spark) == 2,
      "missing GRAFT_WAREHOUSE_DIR must be a config error")
    assert(Cli.run(Nil, Map("GRAFT_WAREHOUSE_DIR" -> "/tmp/x"), spark) == 2,
      "missing credentials must be a config error")
    // Schedule parsing: explicit slots win, junk rejected.
    assert(Cli.schedule(Map("SCHEDULER_RUN_TIMES_UTC" -> "02:30, 11:00")) ==
      Seq(java.time.LocalTime.of(2, 30), java.time.LocalTime.of(11, 0)))
    assert(Cli.schedule(Map.empty) ==
      graft.incremental.Scheduler.defaultRunTimes)
    intercept[RuntimeException](
      Cli.schedule(Map("SCHEDULER_RUN_TIMES_UTC" -> "2:30pm")))
  }

  test("once mode: all jobs + reporting land through injected fixtures") {
    val wh = tempDir("cli_once")
    val at = java.time.Instant.ofEpochMilli(T0 + 120 * 60000L)
    val code = Cli.run(Seq("--mode", "once", "--job", "all"), env(wh), spark,
      fetcher = Some(new FixtureSources.Paged(T0, 120, version = 1)),
      snapshots = Some(new FixtureSources.Snapshots),
      now = () => at)
    assert(code == 0)
    assert(spark.read.parquet(s"$wh/customer").count() == 120)
    assert(spark.read.parquet(s"$wh/call_log").count() == 120)
    assert(spark.read.parquet(s"$wh/staff").count() == 2)
    assert(spark.read.parquet(s"$wh/group").count() == 3)
    assert(spark.read.parquet(s"$wh/fact_staff_daily").count() > 0,
      "once-mode must run the post-job reporting refresh")
    // --job report alone: repair surface over the already-ingested data.
    assert(Cli.run(Seq("--job", "report"), env(wh), spark,
      fetcher = Some(new FixtureSources.Paged(T0, 120, version = 1)),
      snapshots = Some(new FixtureSources.Snapshots),
      now = () => at) == 0)
    // Single-job surface: only the named job runs (customer ingested,
    // no call_log) in a fresh warehouse.
    val wh2 = tempDir("cli_job")
    assert(Cli.run(Seq("--job", "customer"), env(wh2), spark,
      fetcher = Some(new FixtureSources.Paged(T0, 60, version = 1)),
      snapshots = Some(new FixtureSources.Snapshots),
      now = () => at) == 0)
    assert(spark.read.parquet(s"$wh2/customer").count() == 60)
    assert(!new java.io.File(s"$wh2/call_log").exists(),
      "--job customer must not run the call job")
  }

  test("once mode skips a staff/group snapshot already completed in the slot") {
    // Reference runner.py:986-999: once-mode re-invocations inside one
    // staff/group slot must not re-pull the snapshot. Real wall clock
    // here: the audit log's updated_at and the slot boundary must be
    // on the same clock for the guard to be meaningful.
    val wh = tempDir("cli_skip")
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val counting = new graft.pipelines.BatchRunner.SnapshotFetcher {
      private val inner = new FixtureSources.Snapshots
      override def fetchAll(s: org.apache.spark.sql.SparkSession,
          entity: String, tenant: String) = {
        calls.incrementAndGet(); inner.fetchAll(s, entity, tenant)
      }
    }
    def runOnce(): Int = Cli.run(Seq("--job", "staffgroup"), env(wh), spark,
      fetcher = Some(new FixtureSources.Paged(T0, 10, version = 1)),
      snapshots = Some(counting),
      now = () => java.time.Instant.now())
    assert(runOnce() == 0)
    val after1 = calls.get()
    assert(after1 > 0, "fresh warehouse: the snapshot must run")
    assert(runOnce() == 0)
    assert(calls.get() == after1,
      "second once-run in the same slot must skip the snapshot")
  }

  test("daemon mode: cold start fires a catch-up tick, then sleeps between slots") {
    val wh = tempDir("cli_daemon")
    val at = java.time.Instant.ofEpochMilli(T0 + 120 * 60000L)
    var polls = 0
    var slept = 0L
    val code = Cli.run(Seq("--mode", "daemon"), env(wh), spark,
      fetcher = Some(new FixtureSources.Paged(T0, 120, version = 1)),
      snapshots = Some(new FixtureSources.Snapshots),
      now = () => at,
      sleep = s => slept += s,
      shouldStop = () => { polls += 1; polls > 3 })
    assert(code == 0)
    // The cold-start catch-up ran the incremental jobs, the staff/group
    // snapshot (its own slot, cold start = immediate), and reporting...
    assert(spark.read.parquet(s"$wh/customer").count() == 120)
    assert(spark.read.parquet(s"$wh/call_log").count() == 120)
    assert(spark.read.parquet(s"$wh/staff").count() == 2)
    assert(spark.read.parquet(s"$wh/group").count() == 3)
    assert(spark.read.parquet(s"$wh/fact_staff_daily").count() > 0)
    // ...and subsequent iterations slept toward the next slot instead
    // of re-running inside the same slot.
    assert(slept > 0, "post-run iterations must sleep, not spin")
    assert(spark.read.parquet(s"$wh/update_log")
      .filter(col("mode") === "APPEND").count() == 1,
      "exactly one call append: the slot must not re-fire")
  }
}
