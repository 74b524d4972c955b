package perfbench

import java.time.LocalDate
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import graft.pipelines.BatchRunner
import graft.sources.{ApiConfig, HttpSnapshotFetcher}
import graft.sources.PagedSource.{DocFetcher, Page, ResultWindowTooLarge}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Fetch-side counters. Slice tasks run in this JVM (local mode), so a
  * JVM-global object sees every page fetch the program makes.
  */
object FetchCounters {
  val pages = new AtomicLong
  val refusals = new AtomicLong
  val fetchNs = new AtomicLong
  def snapshot: Map[String, Long] = Map("fetch.pages" -> pages.get,
    "fetch.refusals" -> refusals.get, "fetch.ns" -> fetchNs.get)
}

/** Wrapper around the fetcher the program is given: counts and times
  * every page fetch, refused ones included. It sits outside the
  * production composition, so a rejected token and its re-login are part
  * of the one fetch they delay.
  */
final class CountingFetcher(inner: DocFetcher) extends DocFetcher {
  override def fetchPage(entity: String, tenant: String, timeField: String,
      fromMs: Long, toMs: Long, page: Int, pageSize: Int): Page = {
    val t = System.nanoTime()
    try inner.fetchPage(entity, tenant, timeField, fromMs, toMs, page, pageSize)
    catch {
      case e: ResultWindowTooLarge => FetchCounters.refusals.incrementAndGet(); throw e
    } finally {
      FetchCounters.pages.incrementAndGet()
      FetchCounters.fetchNs.addAndGet(System.nanoTime() - t)
    }
  }
}

object Api {
  /** The API configuration `graft.Cli` loads from the environment, with
    * its defaults, pointing at the stub with one account per tenant.
    */
  def config(base: String, tenants: Seq[String]): ApiConfig.Api = ApiConfig.Api(base,
    timeoutSec = 90, pageSize = Stub.PageSize, timeSliceMs = Universe.Day,
    minSliceMs = 3600000L,
    accounts = tenants.map(t => ApiConfig.Account(t, s"$t@callio.test", "secret")))
}

/** Plain-Scala model of what the ingest path must leave behind: the
  * customer table (per partition, with the partition-pruned MERGE's
  * semantics), call_log counts, checkpoints, and the stub traffic each
  * fetch causes.
  */
final class IngestModel(u: Universe) {
  import Universe.Day
  private val overlapMs = 180000L

  val ckCust = mutable.Map.empty[String, Long]
  val ckCall = mutable.Map.empty[String, Long]
  val callRows = mutable.Map.empty[String, Long].withDefaultValue(0L)
  // partition date -> (tenant, id) -> version
  val table = mutable.Map.empty[LocalDate, mutable.Map[(String, String), Int]]
  var requests = 0L
  var refusals = 0L

  /** Delta of one fetch cycle. */
  final case class Delta(fetched: Long, useful: Long, customersChanged: Long)

  private def tenants = u.shape.tenants

  /** Stub-side requests and refusals for one slice holding `n` docs. */
  private def traffic(n: Int): Unit = {
    val p = Stub.PageSize; val d = Stub.WindowPages
    var r = n
    var more = true
    while (more) {
      val pages = math.max(1, math.min(d, (r + p - 1) / p))
      requests += pages
      if (r > d * p) { requests += 1; refusals += 1; r -= d * p }
      else more = false
    }
  }

  private def fetchTraffic(times: Seq[Long], cutoff: Long, now: Long): Unit =
    graft.sources.PagedSource.planSlices(cutoff, now, Day).foreach { case (lo, hi) =>
      traffic(times.count(t => t >= lo && t < hi))
    }

  /** Apply one `runCustomer(now)` + `runCall(now)` cycle. */
  def cycle(now: Long): Delta = {
    val latest = u.customers.iterator.filter(_.ts < now)
      .foldLeft(Map.empty[(String, String), Cust])((m, c) =>
        if (m.get((c.tenant, c.id)).exists(_.ts > c.ts)) m
        else m.updated((c.tenant, c.id), c))
    var fetched = 0L
    var useful = 0L
    val staged = tenants.flatMap { t =>
      val cutoff = ckCust.get(t).map(_ - overlapMs).getOrElse(now - 30 * Day)
      val mine = latest.values.filter(_.tenant == t).toSeq
      fetchTraffic(mine.map(_.ts).filter(_ >= cutoff), cutoff, now)
      val got = mine.filter(_.ts > cutoff)
      if (got.nonEmpty) ckCust(t) = got.map(_.ts).max
      got
    }
    staged.foreach { c =>
      val before = table.valuesIterator.flatMap(_.get((c.tenant, c.id))).maxOption
      if (!before.contains(c.version)) useful += 1
    }
    fetched += staged.size
    val customersChanged = useful
    merge(staged)
    tenants.foreach { t =>
      val cutoff = ckCall.getOrElse(t, now - 30 * Day)
      val mine = u.calls.iterator.filter(c => c.tenant == t && c.ts < now).map(_.ts).toSeq
      fetchTraffic(mine.filter(_ >= cutoff), cutoff, now)
      val got = mine.filter(_ > cutoff)
      if (got.nonEmpty) ckCall(t) = got.max
      callRows(t) += got.size
      fetched += got.size
      useful += got.size
    }
    Delta(fetched, useful, customersChanged)
  }

  /** Upsert.applyToPartitionedParquet over [lo, hi] of the staged dates:
    * matched rows in range move to the staged row's partition, rows
    * outside the range stay, and a partition in range that the merge
    * leaves empty is not replaced.
    */
  private def merge(staged: Seq[Cust]): Unit = if (staged.nonEmpty) {
    val lo = staged.map(_.day).min
    val hi = staged.map(_.day).max
    val keys = staged.map(c => (c.tenant, c.id)).toSet
    val inRange = table.keys.filter(d => !d.isBefore(lo) && !d.isAfter(hi)).toSeq
    val next = mutable.Map.empty[LocalDate, mutable.Map[(String, String), Int]]
    inRange.foreach { d =>
      table(d).foreach { case (k, v) =>
        if (!keys(k)) next.getOrElseUpdate(d, mutable.Map.empty)(k) = v
      }
    }
    staged.foreach(c =>
      next.getOrElseUpdate(c.day, mutable.Map.empty)((c.tenant, c.id)) = c.version)
    next.foreach { case (d, rows) => table(d) = rows }
  }

  def customerRows(t: String): Long =
    table.valuesIterator.map(_.keysIterator.count(_._1 == t).toLong).sum

}

/** `slots`: steady-state ingest, one schedule slot per op. Set-up is
  * the 30-day cold-start backfill plus the staff/group snapshot, through
  * a [[BatchRunner]] wired to the stub the way `graft.Cli` wires the
  * HTTP transports (`ApiConfig.Api`'s dispatching fetcher and snapshot
  * configs). Each op is `runCustomer(now)` then `runCall(now)`.
  */
final class SlotsWorkload(seed: Long, nproc: Int, val warmOps: Int, val timedOps: Int)
    extends Workload {
  val universe = Universe.slots(seed, warmOps + timedOps)
  private var stub: ApiStub = _
  private var runner: BatchRunner = _
  private var model: IngestModel = _
  private var spark: SparkSession = _
  private var wh: String = _
  private var counts0 = Map.empty[String, Long]

  /** Stub-side and fetch-side traffic counters, for the per-op deltas. */
  override def counters: Map[String, Long] = if (stub == null) Map.empty else
    FetchCounters.snapshot ++ Map("stub.requests" -> stub.pageRequests.get,
      "stub.unauthorized" -> stub.unauthorized.get, "stub.refusals" -> stub.refusals.get,
      "stub.logins" -> stub.logins.get)

  def setup(s: SparkSession, dir: String, rec: Option[Recorder]): Unit = {
    spark = s
    wh = s"$dir/warehouse"
    stub = new ApiStub(universe, math.min(nproc, 4))
    model = new IngestModel(universe)
    val u = universe
    val api = Api.config(stub.baseUrl, u.shape.tenants)
    // As graft.Cli's runnerConfig maps the API settings.
    val cfg = BatchRunner.Config(wh, u.shape.tenants, sliceMs = api.timeSliceMs,
      minSliceMs = api.minSliceMs, pageSize = api.pageSize)
    def mk() = new BatchRunner(spark, new CountingFetcher(api.dispatchingFetcher),
      new HttpSnapshotFetcher(api.httpConfigFor), cfg)
    stub.advance(u.now0)
    runner = mk()
    phase("bootstrap")(runner.bootstrap())
    phase("customer")(runner.runCustomer(u.now0))
    phase("call")(runner.runCall(u.now0))
    phase("staffgroup")(runner.runStaffGroup())
    // A restarted daemon warms its checkpoints from the audit log.
    runner = mk()
    phase("warm")(Trace.span(rec, "incremental.warm")(runner.bootstrap()))
    model.cycle(u.now0)
    counts0 = counters
  }

  def prepare(i: Int): Unit = stub.advance(universe.slotTimes(i))

  def op(i: Int, rec: Option[Recorder]): Unit = {
    val now = universe.slotTimes(i)
    Trace.span(rec, "pipelines.customer")(runner.runCustomer(now))
    Trace.span(rec, "pipelines.call")(runner.runCall(now))
  }

  def after(i: Int): OpCheck = {
    val d = model.cycle(universe.slotTimes(i))
    OpCheck(items = d.fetched.toDouble, useful = d.useful.toDouble,
      mergedUseful = d.customersChanged.toDouble)
  }

  private def countsByTenant(table: String): Map[String, Long] =
    spark.read.parquet(s"$wh/$table").groupBy("tenant").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Final-state and traffic checks against the model. */
  def finish(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, msg: => String): Unit = if (!ok) errs += msg
    val ops = (warmOps + timedOps).toLong
    val tenants = universe.shape.tenants
    // Stub-side counts against the fetch-side ones: every 401 costs one
    // extra request and one re-login...
    val now = counters
    def d(k: String) = now(k) - counts0(k)
    check(d("stub.requests") == d("fetch.pages") + d("stub.unauthorized"),
      s"stub saw ${d("stub.requests")} page requests, the fetcher made ${d("fetch.pages")} " +
        s"page fetches and ${d("stub.unauthorized")} were rejected")
    check(d("stub.logins") == d("stub.unauthorized"),
      s"${d("stub.unauthorized")} 401s but ${d("stub.logins")} re-logins")
    check(d("stub.refusals") == d("fetch.refusals"), "stub and fetcher disagree on refusals")
    // ...and against the model, set-up included.
    check(d("stub.unauthorized") == tenants.size * ops,
      s"expected one 401 per tenant per op, saw ${d("stub.unauthorized")}")
    check(stub.snapshots.get == 2L * tenants.size,
      s"${stub.snapshots.get} snapshot requests, expected ${2 * tenants.size}")
    check(stub.logins.get == tenants.size * (1 + ops),
      s"${stub.logins.get} logins, expected ${tenants.size * (1 + ops)}")
    check(stub.refusals.get == model.refusals,
      s"${stub.refusals.get} refusals, model ${model.refusals}")
    check(FetchCounters.pages.get == model.requests,
      s"${FetchCounters.pages.get} page fetches, model ${model.requests}")
    check(stub.pageRequests.get == model.requests + stub.unauthorized.get,
      s"${stub.pageRequests.get} page requests, model ${model.requests} + 401s")
    val cust = countsByTenant("customer")
    val calls = countsByTenant("call_log")
    val ck = new graft.incremental.CheckpointStore(spark, s"$wh/update_log")
    ck.warm()
    tenants.foreach { t =>
      check(cust.getOrElse(t, 0L) == model.customerRows(t),
        s"$t customer rows ${cust.getOrElse(t, 0L)}, model ${model.customerRows(t)}")
      check(calls.getOrElse(t, 0L) == model.callRows(t),
        s"$t call_log rows ${calls.getOrElse(t, 0L)}, model ${model.callRows(t)}")
      check(ck.getCheckpoint("customer", t) == model.ckCust.get(t),
        s"$t customer checkpoint ${ck.getCheckpoint("customer", t)}, model ${model.ckCust.get(t)}")
      check(ck.getCheckpoint("call_log", t) == model.ckCall.get(t),
        s"$t call_log checkpoint ${ck.getCheckpoint("call_log", t)}, model ${model.ckCall.get(t)}")
    }
    val dups = spark.read.parquet(s"$wh/customer")
      .groupBy("NgayUpdate", "tenant", "_id").count().filter(col("count") > 1).count()
    check(dups == 0, s"$dups duplicate (tenant, _id) within a partition")
    errs.toSeq
  }

  override def close(): Unit = if (stub != null) stub.stop()
}
