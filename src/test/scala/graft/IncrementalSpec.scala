package graft

import graft.incremental.{CheckpointStore, Scheduler, UpdateLogBuffer}
import java.time.{Instant, LocalTime}

class IncrementalSpec extends SparkSpec {

  test("update log buffer flushes once; checkpoint store warms from it") {
    val dir = tempDir("updlog") + "/log"
    val buf = new UpdateLogBuffer(spark, dir)
    buf.add("t1", "customer", 10, Some(1000L), "STAGED")
    buf.add("t1", "customer", 10, Some(2000L), "MERGED")
    buf.add("t2", "call_log", 5, Some(1500L), "APPEND")
    buf.add("t1", "staff", 0, None, "NOOP")
    assert(buf.pendingCount == 4)
    buf.flush()
    assert(buf.pendingCount == 0)
    buf.flush() // empty flush is a no-op

    val ck = new CheckpointStore(spark, dir)
    ck.warm()
    assert(ck.getCheckpoint("customer", "t1").contains(2000L))
    assert(ck.getCheckpoint("Call-Log", "t2").contains(1500L)) // name normalization
    assert(ck.getCheckpoint("staff", "t1").isEmpty)            // NULL max stays absent
    assert(ck.getLastRunAny("customer").isDefined)
  }

  test("checkpoint advance is forward-only") {
    val ck = new CheckpointStore(spark, "/nonexistent")
    ck.warm() // missing path is fine
    ck.advanceCheckpoint("call_log", "t1", 100L)
    ck.advanceCheckpoint("call_log", "t1", 50L)  // must not regress
    assert(ck.getCheckpoint("call_log", "t1").contains(100L))
    ck.advanceCheckpoint("call_log", "t1", 200L)
    assert(ck.getCheckpoint("call_log", "t1").contains(200L))
  }

  test("scheduler slot arithmetic (next / previous-or-current / ran-in-slot)") {
    val sched = Seq(LocalTime.of(2, 30), LocalTime.of(11, 0), LocalTime.of(6, 0))
    val t0500 = Instant.parse("2024-03-10T05:00:00Z")
    assert(Scheduler.nextScheduled(t0500, sched) ==
      Instant.parse("2024-03-10T06:00:00Z"))
    assert(Scheduler.previousOrCurrentScheduled(t0500, sched) ==
      Instant.parse("2024-03-10T02:30:00Z"))
    // after the last slot of the day → next is tomorrow's first
    val t2300 = Instant.parse("2024-03-10T23:00:00Z")
    assert(Scheduler.nextScheduled(t2300, sched) ==
      Instant.parse("2024-03-11T02:30:00Z"))
    // before the first slot → previous is yesterday's last
    val t0100 = Instant.parse("2024-03-10T01:00:00Z")
    assert(Scheduler.previousOrCurrentScheduled(t0100, sched) ==
      Instant.parse("2024-03-09T11:00:00Z"))
    // exact slot boundary counts as current
    val t0230 = Instant.parse("2024-03-10T02:30:00Z")
    assert(Scheduler.previousOrCurrentScheduled(t0230, sched) == t0230)

    assert(!Scheduler.ranInCurrentSlot(None, t0500, sched))
    assert(Scheduler.ranInCurrentSlot(
      Some(Instant.parse("2024-03-10T03:00:00Z")), t0500, sched))
    assert(!Scheduler.ranInCurrentSlot(
      Some(Instant.parse("2024-03-10T02:00:00Z")), t0500, sched))
  }

  test("cutoff arithmetic: overlap, append-only, cold start") {
    val now = 1_710_000_000_000L
    assert(Scheduler.cutoffMs(Some(1000L), now, overlapMs = 180000L, daysIfEmpty = 30) ==
      1000L - 180000L)
    assert(Scheduler.cutoffMs(Some(1000L), now, overlapMs = 0L, daysIfEmpty = 30) == 1000L)
    assert(Scheduler.cutoffMs(None, now, overlapMs = 180000L, daysIfEmpty = 30) ==
      now - 30L * 86400000L)
  }
}
