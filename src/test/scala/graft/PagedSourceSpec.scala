package graft

import graft.sources.PagedSource
import graft.sources.PagedSource.{DocFetcher, Page, ResultWindowTooLarge}
import org.apache.spark.sql.types.StructType

/** Fixture fetcher over a fixed doc universe: one doc per minute in
  * [t0, t0+n). Serves descending pages within [from, to). Optionally
  * refuses windows wider than `windowLimitMs` (result-window limit).
  * Top-level (not nested in the suite) so Spark can serialize it.
  */
class FixtureFetcher(t0: Long, n: Int,
    windowLimitMs: Long = Long.MaxValue,
    duplicateEvery: Int = 0) extends DocFetcher {
  private def allDocs: Seq[(Long, String)] =
    (0 until n).map { i =>
      val ts = t0 + i * 60000L
      val id = if (duplicateEvery > 0 && i % duplicateEvery == 0) "dup" else s"d$i"
      ts -> s"""{"_id":"$id","updateTime":$ts,"v":$i}"""
    }
  override def fetchPage(entity: String, tenant: String, timeField: String,
      fromMs: Long, toMs: Long, page: Int, pageSize: Int): Page = {
    if (toMs - fromMs > windowLimitMs) throw new ResultWindowTooLarge
    val window = allDocs.filter { case (ts, _) => ts >= fromMs && ts < toMs }
      .sortBy(-_._1).map(_._2)
    val start = (page - 1) * pageSize
    Page(window.slice(start, start + pageSize),
      hasNextPage = start + pageSize < window.size)
  }
}

/** Serves one page then refuses every subsequent fetch — the pathological
  * backend that used to trap the recovery loop (re-requesting the same
  * narrowed window forever).
  */
class PoisonFetcher(t0: Long) extends DocFetcher {
  private var calls = 0
  override def fetchPage(entity: String, tenant: String, timeField: String,
      fromMs: Long, toMs: Long, page: Int, pageSize: Int): Page = {
    calls += 1
    if (calls == 1)
      Page(Seq(
        s"""{"_id":"a","updateTime":${t0 + 300000}}""",
        s"""{"_id":"b","updateTime":${t0 + 240000}}"""), hasNextPage = true)
    else throw new ResultWindowTooLarge
  }
}

/** Records every page request of `inner` under `key`. The log lives in
  * the companion object: the slice tasks run on deserialized copies of
  * the fetcher, in this JVM.
  */
class CountingFetcher(key: String, inner: DocFetcher) extends DocFetcher {
  override def fetchPage(entity: String, tenant: String, timeField: String,
      fromMs: Long, toMs: Long, page: Int, pageSize: Int): Page = {
    CountingFetcher.requests.add(s"$key $fromMs $toMs $page")
    inner.fetchPage(entity, tenant, timeField, fromMs, toMs, page, pageSize)
  }
}

object CountingFetcher {
  val requests = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def of(key: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    requests.asScala.filter(_.startsWith(key + " ")).toSeq
  }
}

class PagedSourceSpec extends SparkSpec {

  private val T0 = 1700000000000L // arbitrary epoch anchor
  private val feed = StructType.fromDDL("_id STRING, updateTime BIGINT, v BIGINT")

  test("slice planner splits [cutoff, now) newest-first") {
    val slices = PagedSource.planSlices(0L, 10L, 4L)
    assert(slices == Seq((6L, 10L), (2L, 6L), (0L, 2L)))
    assert(PagedSource.planSlices(5L, 5L, 4L).isEmpty)
  }

  test("fetch returns all docs in the window, sorted desc, paged") {
    val f = new FixtureFetcher(T0, 120) // 2 hours of docs
    val res = PagedSource.fetchDescUntil(spark, f, "customer", "t1",
      "updateTime", feed, cutoffMs = T0 - 1, nowMs = T0 + 120 * 60000L,
      sliceMs = 3600000L, pageSize = 7)
    val rows = res.docs.collect()
    assert(rows.length == 120)
    val times = rows.map(_.getAs[Long]("updateTime"))
    assert(times.toSeq == times.sortBy(-_).toSeq, "must be sorted desc")
    assert(!res.hitResultWindowLimit)
  }

  test("cutoff bounds the fetch; limit takes newest N") {
    val f = new FixtureFetcher(T0, 120)
    val res = PagedSource.fetchDescUntil(spark, f, "customer", "t1",
      "updateTime", feed, cutoffMs = T0 + 60 * 60000L - 1, nowMs = T0 + 120 * 60000L,
      sliceMs = 3600000L, pageSize = 10, limitRecords = Some(10))
    val times = res.docs.collect().map(_.getAs[Long]("updateTime"))
    assert(times.length == 10)
    assert(times.min == T0 + 110 * 60000L, "limit keeps the newest docs")
  }

  test("result-window refusal triggers binary split and still fetches everything") {
    // Fetcher refuses any window wider than 30 min → every 1h slice must
    // be split once before it serves.
    val f = new FixtureFetcher(T0, 60, windowLimitMs = 1800000L)
    val res = PagedSource.fetchDescUntil(spark, f, "customer", "t1",
      "updateTime", feed, cutoffMs = T0 - 1, nowMs = T0 + 60 * 60000L,
      sliceMs = 3600000L, minSliceMs = 600000L, pageSize = 50)
    assert(res.docs.count() == 60)
    assert(res.hitResultWindowLimit)
  }

  test("unsplittable refused slice is dropped, not fatal") {
    // Refuse everything (limit 0): slices split down to minSliceMs then drop.
    val f = new FixtureFetcher(T0, 10, windowLimitMs = 0L)
    val res = PagedSource.fetchDescUntil(spark, f, "customer", "t1",
      "updateTime", feed, cutoffMs = T0 - 1, nowMs = T0 + 10 * 60000L,
      sliceMs = 600000L, minSliceMs = 300000L, pageSize = 10)
    assert(res.docs.isEmpty)
    assert(res.hitResultWindowLimit)
  }

  test("persistent refusal after partial progress terminates, keeps fetched docs") {
    val res = PagedSource.fetchDescUntil(spark, new PoisonFetcher(T0),
      "customer", "t1", "updateTime", feed,
      cutoffMs = T0 - 1, nowMs = T0 + 600000L,
      sliceMs = 600000L, minSliceMs = 150000L, pageSize = 2)
    assert(res.hitResultWindowLimit)
    assert(res.docs.count() == 2, "docs fetched before the refusals must survive")
  }

  test("duplicate _ids collapse first-occurrence-wins (newest slice)") {
    val f = new FixtureFetcher(T0, 100, duplicateEvery = 10) // ids 0,10,…,90 share "dup"
    val res = PagedSource.fetchDescUntil(spark, f, "customer", "t1",
      "updateTime", feed, cutoffMs = T0 - 1, nowMs = T0 + 100 * 60000L,
      sliceMs = 1200000L, pageSize = 9)
    val rows = res.docs.collect()
    assert(rows.length == 91) // 90 unique + 1 winning "dup"
    val dup = rows.filter(_.getAs[String]("_id") == "dup")
    assert(dup.length == 1)
    assert(dup.head.getAs[Long]("v") == 90L,
      "newest duplicate (first occurrence in desc order) must win")
  }

  test("a fetch is one Spark job, and reports its flag and doc count on it") {
    val (res, jobs) = jobsOf(PagedSource.fetchDescUntil(spark,
      new FixtureFetcher(T0, 60, windowLimitMs = 1800000L), "customer", "t1",
      "updateTime", feed, cutoffMs = T0 - 1, nowMs = T0 + 60 * 60000L,
      sliceMs = 3600000L, minSliceMs = 600000L, pageSize = 50))
    assert(jobs == 1)
    assert(res.hitResultWindowLimit && res.fetched == 60)
    // The only slice is refused and cannot split: it is dropped, and the
    // one job still reports the flag.
    val (dropped, dropJobs) = jobsOf(PagedSource.fetchDescUntil(spark,
      new FixtureFetcher(T0, 10, windowLimitMs = 0L), "customer", "t1",
      "updateTime", feed, cutoffMs = T0 - 1, nowMs = T0 + 10 * 60000L,
      sliceMs = 600000L, minSliceMs = 600000L, pageSize = 10))
    assert(dropJobs == 1)
    assert(dropped.hitResultWindowLimit && dropped.fetched == 0)
    assert(dropped.docs.collect().isEmpty)
  }

  test("each page is requested once per fetch, whatever the actions on its docs") {
    val f = new CountingFetcher("once", new FixtureFetcher(T0, 120))
    val res = PagedSource.fetchDescUntil(spark, f, "customer", "t1",
      "updateTime", feed, cutoffMs = T0 - 1, nowMs = T0 + 120 * 60000L,
      sliceMs = 3600000L, pageSize = 7)
    assert(res.docs.count() == 120 && res.docs.collect().length == 120)
    val requests = CountingFetcher.of("once")
    // Two one-hour slices of 60 docs, 9 pages of 7 each, and the empty
    // slice [cutoff, T0), one page.
    assert(requests.size == 19 && requests.distinct.size == 19)
  }

  test("RetryingFetcher: 401 triggers one refresh + same-page retry; dead auth propagates") {
    import graft.sources.PagedSource.{AuthExpired, RetryingFetcher}
    // Expires the token every other call; succeeds after a refresh.
    class Flaky(failures: Int) extends DocFetcher {
      var calls = 0
      var remainingFailures = failures
      override def fetchPage(entity: String, tenant: String, timeField: String,
          fromMs: Long, toMs: Long, page: Int, pageSize: Int): Page = {
        calls += 1
        if (remainingFailures > 0) { remainingFailures -= 1; throw new AuthExpired }
        Page(Seq(s"""{"_id":"p$page"}"""), hasNextPage = false)
      }
    }
    var refreshes = 0
    val inner = new Flaky(failures = 1)
    val f = new RetryingFetcher(inner, () => refreshes += 1)
    val page = f.fetchPage("customer", "t1", "updateTime", 0L, 1L, 3, 10)
    assert(page.docs == Seq("""{"_id":"p3"}"""), "retry must re-request the SAME page")
    assert(refreshes == 1 && inner.calls == 2)
    // Refresh that doesn't fix auth: propagate after maxRetries.
    val dead = new RetryingFetcher(new Flaky(failures = 5), () => refreshes += 1)
    intercept[AuthExpired] {
      dead.fetchPage("customer", "t1", "updateTime", 0L, 1L, 1, 10)
    }
    // ResultWindowTooLarge is protocol signal, never retried as auth.
    var rwRefreshes = 0
    val rw = new RetryingFetcher(new PoisonFetcher(T0), () => rwRefreshes += 1)
    rw.fetchPage("c", "t", "updateTime", 0L, 1L, 1, 10) // first call OK
    intercept[ResultWindowTooLarge] {
      rw.fetchPage("c", "t", "updateTime", 0L, 1L, 2, 10)
    }
    assert(rwRefreshes == 0)
  }
}
