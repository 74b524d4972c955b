package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructType}

/** Adaptive paged incremental source (SURVEY.md §2.1 S3-S6; reference
  * api.py:86-324). The reference fetches descending-time pages from a
  * REST endpoint, slice by slice, serially. Here the same protocol is a
  * Spark batch source: the driver plans one task per time slice and
  * executors fetch their slice's pages in parallel — the reference's
  * serial loop parallelized by its own slice planner (api.py:219-230).
  *
  * The transport is behind [[DocFetcher]] so tests (and this offline
  * container) inject fixture data; a production impl wraps
  * java.net.http with the token cache + 401-retry (api.py:43-69,
  * 137-148), which is a transport concern, not an engine one.
  *
  * Semantics preserved from the reference:
  *  - slice planning: [cutoff, now] split into `sliceMs` windows,
  *    processed newest-first (api.py:219-230);
  *  - per-slice descending pages until a doc's time field reaches the
  *    cutoff or the API reports no next page (api.py:190-212);
  *  - result-window recovery (api.py:278-307): if the API refuses the
  *    page depth, advance the slice end below the oldest doc seen so
  *    far, else binary-split the slice down to `minSliceMs`; an
  *    unsplittable slice is dropped and surfaced via the
  *    `hit_result_window_limit` flag;
  *  - first-occurrence-wins dedup on `_id` across slices/pages
  *    (api.py:231-257) — newest slice wins, preserved by ordering on
  *    (slice, page, position);
  *  - global sort by the time field descending + head-N
  *    (api.py:311-313), which Spark executes as top-k; the sort is
  *    numeric whatever type the feed declares the field.
  *
  * A fetch is one Spark job, the slice tasks' own: each task also adds
  * its `hit_result_window_limit` flag and its doc count to accumulators,
  * as the reference's loop returns its docs and its flag together
  * (api.py:230-313). The dedup, the parse and the sort run inside the
  * caller's action. The docs parse with `from_json` and the feed schema
  * the caller declares (for the Callio feeds,
  * `CallioIngest.customerFeed`/`callFeed`): no job infers a schema from
  * the fetched docs, and a field the declaration does not name is not
  * read (DEVIATIONS.md §15).
  */
object PagedSource {

  /** One fetched page. `docs` are raw JSON documents. */
  final case class Page(docs: Seq[String], hasNextPage: Boolean)

  /** Thrown by fetchers when the backend refuses the page window —
    * the "Result window is too large" HTTP 400 (api.py:170-181).
    */
  final class ResultWindowTooLarge extends RuntimeException("result window too large")

  /** Thrown by fetchers when the backend rejects the auth token —
    * the HTTP 401 that triggers re-login (api.py:137-148).
    */
  final class AuthExpired extends RuntimeException("auth token expired")

  /** Transport abstraction: fetch one descending-time page of `entity`
    * docs with `fromMs <= timeField < toMs`.
    */
  trait DocFetcher extends Serializable {
    def fetchPage(entity: String, tenant: String, timeField: String,
        fromMs: Long, toMs: Long, page: Int, pageSize: Int): Page
  }

  /** 401-retry decorator (S6, reference api.py:137-148): on
    * [[AuthExpired]], invalidate the cached token via `refreshAuth` and
    * retry the SAME page, at most `maxRetries` times per call; a retry
    * that fails again propagates (the reference re-raises after one
    * re-login, never loops on a dead credential). Composes over any
    * transport; runs inside the executor-side slice task, so the token
    * refresh is per-executor — exactly where a per-JVM token cache
    * lives. [[ResultWindowTooLarge]] passes through untouched: it is
    * recovery-protocol signal, not an auth failure.
    */
  final class RetryingFetcher(inner: DocFetcher, refreshAuth: () => Unit,
      maxRetries: Int = 1) extends DocFetcher {
    require(maxRetries >= 1, "retrying fetcher needs at least one retry")
    override def fetchPage(entity: String, tenant: String, timeField: String,
        fromMs: Long, toMs: Long, page: Int, pageSize: Int): Page = {
      var attempt = 0
      while (true) {
        try return inner.fetchPage(entity, tenant, timeField, fromMs, toMs,
          page, pageSize)
        catch {
          case e: AuthExpired =>
            if (attempt >= maxRetries) throw e
            attempt += 1
            refreshAuth()
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }

  final case class FetchedDoc(sliceIdx: Int, page: Int, pos: Int, doc: String)

  /** `fetched` counts the docs the slice tasks kept, before the `_id`
    * dedup, so it is 0 exactly when `docs` is empty. A retried task adds
    * its docs again: read it as `> 0`, not as a row count.
    */
  final case class FetchResult(docs: DataFrame, fetched: Long,
      hitResultWindowLimit: Boolean)

  /** Plan [cutoff, now) into newest-first slices (api.py:219-230). */
  def planSlices(cutoffMs: Long, nowMs: Long, sliceMs: Long): Seq[(Long, Long)] = {
    require(sliceMs > 0)
    val starts = Iterator.iterate(nowMs)(_ - sliceMs)
      .takeWhile(_ > cutoffMs).toSeq
    starts.map(end => (math.max(cutoffMs, end - sliceMs), end))
  }

  /** Fetch one slice with the adaptive recovery loop. Local to one
    * executor task; returns docs tagged with (page-order) position plus
    * whether the result-window limit was hit.
    */
  private[sources] def fetchSlice(fetcher: DocFetcher, entity: String,
      tenant: String, timeField: String, cutoffMs: Long,
      slice: (Long, Long), minSliceMs: Long, pageSize: Int,
      maxPagesPerSlice: Int): (Seq[(Int, Int, String)], Boolean) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var hitLimit = false
    // A doc's time for the cutoff check is its `"<timeField>": <millis>`;
    // a doc without one reads as 0, at or below any cutoff.
    val tsPattern = java.util.regex.Pattern.compile(
      "\"" + java.util.regex.Pattern.quote(timeField) + "\"\\s*:\\s*(\\d+)")
    // Work stack of pending sub-slices (newest-first), mutated by the
    // result-window recovery strategy.
    val stack = scala.collection.mutable.Stack[(Long, Long)](slice)
    var pageCounter = 0
    while (stack.nonEmpty) {
      var (from, to) = stack.pop()
      var page = 1
      var done = false
      var oldestSeen = Long.MaxValue
      while (!done && pageCounter < maxPagesPerSlice) {
        try {
          val res = fetcher.fetchPage(entity, tenant, timeField, from, to, page, pageSize)
          // Docs at-or-below the cutoff are excluded, not just a stop
          // signal (api.py:190-196 skips them before breaking).
          var reachedCutoff = false
          res.docs.zipWithIndex.foreach { case (d, i) =>
            val m = tsPattern.matcher(d)
            val ts = if (m.find()) m.group(1).toLong else 0L
            if (ts > cutoffMs) {
              out += ((pageCounter, i, d))
              if (ts < oldestSeen) oldestSeen = ts
            } else reachedCutoff = true
          }
          done = !res.hasNextPage || reachedCutoff || res.docs.isEmpty
          page += 1
          pageCounter += 1
        } catch {
          case _: ResultWindowTooLarge =>
            hitLimit = true
            pageCounter += 1 // refusals count against the bound too
            if (oldestSeen != Long.MaxValue && oldestSeen < to) {
              // Progress made since the last refusal: continue below the
              // oldest doc seen. `to` is EXCLUSIVE in the fetch contract,
              // so the new end is oldestSeen itself (the reference's -1
              // fits its inclusive-end ranges). `oldestSeen < to` makes
              // the window strictly narrower each time — a refusal with
              // no new docs falls through to split/drop, never loops.
              // Residual caveat shared with the reference: unfetched
              // docs tied AT oldestSeen are lost (hitLimit flags it).
              to = oldestSeen
              page = 1
            } else if (to - from > minSliceMs) {
              // binary split (api.py:294-300), newest half first
              val mid = from + (to - from) / 2
              stack.push((from, mid))
              stack.push((mid, to))
              done = true
            } else {
              // unsplittable: warn + drop (api.py:301-307)
              done = true
            }
        }
      }
    }
    (out.toSeq, hitLimit)
  }

  /** The full incremental fetch: slice plan → parallel slice tasks →
    * first-wins `_id` dedup → JSON parse with the `feed` schema → desc
    * sort + limit.
    */
  def fetchDescUntil(spark: SparkSession, fetcher: DocFetcher, entity: String,
      tenant: String, timeField: String, feed: StructType,
      cutoffMs: Long, nowMs: Long,
      sliceMs: Long = 86400000L, minSliceMs: Long = 3600000L,
      pageSize: Int = 500, limitRecords: Option[Int] = None,
      maxPagesPerSlice: Int = 10000): FetchResult = {
    import spark.implicits._
    val slices = planSlices(cutoffMs, nowMs, sliceMs).zipWithIndex
    val sc = spark.sparkContext
    // The slice tasks report the result-window flag and their doc count
    // on the fetch job itself, so a slice dropped whole still reports
    // the flag and no second job inspects the docs. A retried task adds
    // twice; both are read only as > 0.
    val refused = sc.longAccumulator
    val kept = sc.longAccumulator
    val fetched = sc.parallelize(slices, math.max(1, slices.size))
      .flatMap { case ((from, to), idx) =>
        val (docs, hit) = fetchSlice(fetcher, entity, tenant, timeField,
          cutoffMs, (from, to), minSliceMs, pageSize, maxPagesPerSlice)
        if (hit) refused.add(1)
        kept.add(docs.size)
        docs.map { case (pg, pos, d) => FetchedDoc(idx, pg, pos, d) }
      }
    // Materialize ONCE and cut lineage: every fetchPage call is a live
    // network request, so downstream actions (dedup, the caller's own)
    // must never re-trigger the fetch. localCheckpoint blocks are
    // released by the ContextCleaner when unreferenced — unlike
    // cache(), repeated daemon-style runs don't accumulate.
    val materialized = spark.createDataset(fetched).localCheckpoint(true)

    // First-occurrence-wins dedup (api.py:238-257): newest slice first,
    // then page order. Fallback dedup key mirrors `f"{ts}:{len}"`.
    val tagged = materialized.toDF()
      .withColumn("_dedup_key", coalesce(
        get_json_object(col("doc"), "$._id"),
        concat_ws(":", get_json_object(col("doc"), s"$$.$timeField"),
          length(col("doc")).cast("string"))))
    val first = graft.functions.ColumnLib.latestWins(tagged,
      keys = Seq("_dedup_key"),
      ordering = Seq(col("sliceIdx").asc, col("page").asc, col("pos").asc))

    val sorted = first.select(from_json(col("doc"), feed).as("d")).select("d.*")
      .orderBy(col(timeField).cast(DoubleType).desc_nulls_last)
    val limited = limitRecords.map(sorted.limit).getOrElse(sorted)
    FetchResult(limited, kept.sum, refused.sum > 0)
  }
}
