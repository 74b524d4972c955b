package graft

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.sources.{HttpDocFetcher, PagedSource}
import graft.sources.PagedSource.{AuthExpired, ResultWindowTooLarge}
import org.apache.spark.sql.types.StructType

/** Local stub of the reference REST backend (api.py protocol): login
  * issues sequential tokens, pages serve a fixed one-doc-per-minute
  * universe with INCLUSIVE from/to (the wire contract the reference's
  * slice planner steps around with -1), tokens can be limited to K uses
  * (to force 401s), and windows wider than `windowLimitMs` are refused
  * with the reference's 400 body. Network-free: binds 127.0.0.1 on an
  * ephemeral port.
  */
class CallioStub(t0: Long, nDocs: Int,
    tokenUses: Int = Int.MaxValue,
    windowLimitMs: Long = Long.MaxValue,
    flakyFirst: Int = 0,
    flakyEvery: Int = 0) {

  // First `flakyFirst` page requests answer 500 (transient backend
  // blip), then the stub behaves. `flakyEvery` = N > 0 additionally
  // 500s every Nth page request FOREVER — the recurring-burst soak
  // knob (a retry is a new request, so bursts are 1 deep).
  private val flakyLeft = new AtomicInteger(flakyFirst)

  val loginCount = new AtomicInteger(0)
  val pageRequests = new AtomicInteger(0)
  private val tokenUsesLeft =
    new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(Executors.newFixedThreadPool(8))

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os: OutputStream = ex.getResponseBody
    os.write(bytes); os.close()
  }

  server.createContext("/auth/login", (ex: HttpExchange) => {
    val tok = s"tok-${loginCount.incrementAndGet()}"
    tokenUsesLeft.put(tok, new AtomicInteger(tokenUses))
    respond(ex, 200, s"""{"token":"$tok"}""")
  })

  private def pageContext(path: String, docJson: (Int, Long) => String)
      : Unit = {
    server.createContext(path, (ex: HttpExchange) => {
      val reqNo = pageRequests.incrementAndGet()
      if (flakyLeft.getAndDecrement() > 0) respond(ex, 500, "backend blip")
      else if (flakyEvery > 0 && reqNo % flakyEvery == 0)
        respond(ex, 500, "recurring backend blip")
      else {
      val tok = Option(ex.getRequestHeaders.getFirst("token")).getOrElse("")
      val uses = tokenUsesLeft.get(tok)
      if (uses == null || uses.decrementAndGet() < 0) respond(ex, 401, "unauthorized")
      else {
        val q = Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
          .filter(_.contains("=")).map { kv =>
            val Array(k, v) = kv.split("=", 2); k -> v
          }.toMap
        val from = q("from").toLong
        val to = q("to").toLong // INCLUSIVE, like the reference API
        val page = q("page").toInt
        val pageSize = q("pageSize").toInt
        if (to - from + 1 > windowLimitMs)
          respond(ex, 400, "Result window is too large for this index")
        else {
          val window = (0 until nDocs).map(i => t0 + i * 60000L)
            .filter(ts => ts >= from && ts <= to).sortBy(-_)
          val slice = window.slice((page - 1) * pageSize, page * pageSize)
          val docs = slice.map { ts =>
            val i = ((ts - t0) / 60000L).toInt
            docJson(i, ts)
          }
          val hasNext = page * pageSize < window.size
          respond(ex, 200,
            s"""{"docs":[${docs.mkString(",")}],"hasNextPage":$hasNext,"totalDocs":${window.size}}""")
        }
      }
      }
    })
    ()
  }

  // Full-snapshot endpoints (reference api.py:326-385): staff under
  // /user returns a {"docs":[...]} envelope; group under /user-group
  // returns a BARE top-level array — both payload shapes the reference
  // tolerates, so the client must too. Same token/401 discipline as
  // the paged contexts.
  val staffRequests = new AtomicInteger(0)
  private def snapshotContext(path: String, body: String): Unit = {
    server.createContext(path, (ex: HttpExchange) => {
      staffRequests.incrementAndGet()
      val tok = Option(ex.getRequestHeaders.getFirst("token")).getOrElse("")
      val uses = tokenUsesLeft.get(tok)
      if (uses == null || uses.decrementAndGet() < 0)
        respond(ex, 401, "unauthorized")
      else respond(ex, 200, body)
    })
    ()
  }
  snapshotContext("/user",
    """{"docs":[
      {"_id":"u0","name":"NV0","group":{"_id":"g0"},"updateTime":1},
      {"_id":"u1","name":"NV1","group":{"_id":"g1"},"updateTime":1},
      {"_id":"u2","name":"  ","updateTime":1}]}""")
  snapshotContext("/user-group",
    """[{"_id":"g0","name":"Team 0"},{"_id":"g1","name":"Team 1"}]""")

  pageContext("/customer",
    (i, ts) => s"""{"_id":"d$i","updateTime":$ts,"v":$i}""")
  pageContext("/call",
    (i, ts) => s"""{"_id":"call$i","createTime":$ts,"startTime":$ts,""" +
      s""""endTime":${ts + 30000},"billDuration":${if (i % 3 == 0) 0 else 25},""" +
      s""""toNumber":"09${i % 50}",""" +
      s""""fromUser":{"_id":"u${i % 5}","name":"NV${i % 5}"},""" +
      s""""fromGroup":{"_id":"g${i % 3}"}}""")

  server.start()
  def baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = server.stop(0)
}

class HttpDocFetcherSpec extends SparkSpec {

  private val T0 = 1700000000000L
  private val feed = StructType.fromDDL("_id STRING, updateTime BIGINT, v BIGINT")

  private def withStub[A](stub: CallioStub)(f: CallioStub => A): A =
    try f(stub)
    finally { stub.stop(); HttpDocFetcher.clearTokenCache() }

  private def cfgFor(stub: CallioStub) =
    HttpDocFetcher.Config(stub.baseUrl, "u@example.test", "pw")

  test("end-to-end: real client through fetchDescUntil — paged, sorted, deduped") {
    withStub(new CallioStub(T0, 120)) { stub =>
      HttpDocFetcher.clearTokenCache()
      val fetcher = HttpDocFetcher.retrying(cfgFor(stub), "t1")
      val res = PagedSource.fetchDescUntil(spark, fetcher, "customer", "t1",
        "updateTime", feed, cutoffMs = T0 - 1, nowMs = T0 + 120 * 60000L,
        sliceMs = 3600000L, pageSize = 7)
      val rows = res.docs.collect()
      assert(rows.length == 120)
      val times = rows.map(_.getAs[Long]("updateTime"))
      assert(times.toSeq == times.sortBy(-_).toSeq, "must be sorted desc")
      assert(!res.hitResultWindowLimit)
      // One token per JVM, not per page or per slice task: the cache's
      // single-flight login absorbs the parallel slice tasks' race.
      assert(stub.loginCount.get() == 1,
        s"token must be cached across pages, saw ${stub.loginCount.get()} logins")
      assert(stub.pageRequests.get() >= 18, "every page goes over the wire")
    }
  }

  test("token cache: TTL expiry re-logins; fresh token within TTL is reused") {
    withStub(new CallioStub(T0, 10)) { stub =>
      var now = 1000L
      val f = new HttpDocFetcher(cfgFor(stub), clock = () => now)
      f.fetchPage("customer", "t1", "updateTime", T0, T0 + 600000L, 1, 5)
      f.fetchPage("customer", "t1", "updateTime", T0, T0 + 600000L, 2, 5)
      assert(stub.loginCount.get() == 1, "second page rides the cached token")
      now += 26 * 60 * 1000L // past the 25-min TTL
      f.fetchPage("customer", "t1", "updateTime", T0, T0 + 600000L, 1, 5)
      assert(stub.loginCount.get() == 2, "expired token must force re-login")
    }
  }

  test("401: bare client raises AuthExpired; retrying client re-logins and succeeds") {
    withStub(new CallioStub(T0, 20, tokenUses = 2)) { stub =>
      HttpDocFetcher.clearTokenCache()
      val bare = new HttpDocFetcher(cfgFor(stub))
      val p1 = bare.fetchPage("customer", "t1", "updateTime", T0, T0 + 1200000L, 1, 5)
      assert(p1.docs.size == 5 && p1.hasNextPage)
      bare.fetchPage("customer", "t1", "updateTime", T0, T0 + 1200000L, 2, 5)
      intercept[AuthExpired] { // third use of tok-1 → server 401s
        bare.fetchPage("customer", "t1", "updateTime", T0, T0 + 1200000L, 3, 5)
      }
      // The decorated client retries the SAME page on a fresh login.
      val retrying = HttpDocFetcher.retrying(cfgFor(stub), "t1")
      val p3 = retrying.fetchPage("customer", "t1", "updateTime", T0, T0 + 1200000L, 3, 5)
      assert(p3.docs.size == 5, "refresh-once retry must deliver the page")
      assert(stub.loginCount.get() == 2)
    }
  }

  test("400 'Result window is too large' → typed signal → recovery fetches all") {
    // Server refuses windows wider than 30 min; slices are 1 h, so every
    // slice must binary-split once before it fits.
    withStub(new CallioStub(T0, 120, windowLimitMs = 1800000L)) { stub =>
      HttpDocFetcher.clearTokenCache()
      val bare = new HttpDocFetcher(cfgFor(stub))
      intercept[ResultWindowTooLarge] {
        bare.fetchPage("customer", "t1", "updateTime", T0, T0 + 3600000L, 1, 50)
      }
      val fetcher = HttpDocFetcher.retrying(cfgFor(stub), "t1")
      val res = PagedSource.fetchDescUntil(spark, fetcher, "customer", "t1",
        "updateTime", feed, cutoffMs = T0 - 1, nowMs = T0 + 120 * 60000L,
        sliceMs = 3600000L, minSliceMs = 600000L, pageSize = 50)
      assert(res.docs.count() == 120, "split recovery must still fetch everything")
      assert(res.hitResultWindowLimit, "the limit flag must surface")
    }
  }

  test("production wiring end-to-end: env config → HTTP client → PagedStream tick → merged table") {
    // The full deployable chain, network-free: ApiConfig wires tenant
    // credentials from the (injected) env into the retrying HTTP
    // client, PagedStream.tick fetches over real HTTP from the stub,
    // spools, and drains through AvailableNow into the upsert target.
    withStub(new CallioStub(T0, 60)) { stub =>
      HttpDocFetcher.clearTokenCache()
      val cfg = graft.sources.ApiConfig.fromEnv(Map(
        "CALLIO_API_BASE_URL" -> stub.baseUrl,
        "API_TIMEOUT" -> "10",
        "CALLIO_ACCOUNTS_JSON" ->
          """[{"tenant":"t1","email":"u@example.test","password":"pw"}]"""))
      val dir = java.nio.file.Paths.get(tempDir("http_stream"))
      import org.apache.spark.sql.functions._
      def transform(docs: org.apache.spark.sql.DataFrame) =
        docs.select(col("_id"), col("updateTime"), col("v"),
          date_format((col("updateTime") / 1000).cast("timestamp"),
            "yyyy-MM-dd").as("d"))
      val r = graft.streaming.PagedStream.tick(spark,
        cfg.fetcherFor("t1"),
        entity = "customer", tenant = "t1", timeField = "updateTime",
        cutoffMs = T0 - 1, nowMs = T0 + 60 * 60000L, feed = feed,
        transform = transform,
        spoolDir = dir.resolve("spool").toString,
        targetPath = dir.resolve("customer").toString,
        keys = Seq("_id"), partitionCol = "d",
        checkpointDir = dir.resolve("ck").toString,
        sliceMs = 1800000L, pageSize = cfg.pageSize)
      assert(r.stagedRows == 60 && !r.hitResultWindowLimit)
      val t = spark.read.parquet(dir.resolve("customer").toString)
      assert(t.count() == 60, "all fetched docs must land in the target")
      assert(stub.loginCount.get() == 1, "one login for the whole tick")
    }
  }

  test("transient 5xx: bounded backoff-retry absorbs blips; retries=0 surfaces them") {
    // Two consecutive 500s, then healthy: the default client (3
    // retries, small backoff here) must deliver the page — local mode
    // runs task-max-failures=1, so without transport-level absorption
    // one blip on one page kills the whole fetch.
    withStub(new CallioStub(T0, 10, flakyFirst = 2)) { stub =>
      HttpDocFetcher.clearTokenCache()
      val resilient = new HttpDocFetcher(
        cfgFor(stub).copy(retryBackoffMs = 10))
      val p = resilient.fetchPage("customer", "t1", "updateTime",
        T0, T0 + 600000L, 1, 5)
      assert(p.docs.size == 5, "retry must absorb the transient 500s")
      assert(stub.pageRequests.get() == 3, "two blips + one success")
    }
    withStub(new CallioStub(T0, 10, flakyFirst = 1)) { stub =>
      HttpDocFetcher.clearTokenCache()
      val fragile = new HttpDocFetcher(
        cfgFor(stub).copy(maxTransientRetries = 0))
      val e = intercept[RuntimeException] {
        fragile.fetchPage("customer", "t1", "updateTime",
          T0, T0 + 600000L, 1, 5)
      }
      assert(e.getMessage.contains("500"), "retries=0 must surface the 5xx")
    }
  }

  test("wire boundary: engine's half-open [from, to) maps to the API's inclusive to") {
    withStub(new CallioStub(T0, 3)) { stub =>
      HttpDocFetcher.clearTokenCache()
      val bare = new HttpDocFetcher(cfgFor(stub))
      // Engine window [T0, T0+60000): must return ONLY the T0 doc even
      // though the server treats `to` inclusively.
      val p = bare.fetchPage("customer", "t1", "updateTime", T0, T0 + 60000L, 1, 10)
      assert(p.docs.size == 1 && p.docs.head.contains(s""""updateTime":$T0"""))
    }
  }

  test("snapshot client: docs envelope AND bare array; 401 refresh-once; transforms compose") {
    withStub(new CallioStub(T0, 10, tokenUses = 1)) { stub =>
      HttpDocFetcher.clearTokenCache()
      val snaps = new graft.sources.HttpSnapshotFetcher(
        _ => cfgFor(stub))
      // staff: {"docs": [...]} envelope → rows with a nested group
      // struct that staffTransform's asJsonString flattens.
      val staff = graft.pipelines.CallioIngest.staffNameFilter(
        graft.pipelines.CallioIngest.staffTransform(
          snaps.fetchAll(spark, "staff", "PK"), "PK"))
      val staffRows = staff.collect()
        .map(r => r.getAs[String]("_id") -> r.getAs[String]("group_id")).toMap
      assert(staffRows == Map("u0" -> "g0", "u1" -> "g1"),
        s"blank-name u2 filtered, group._id flattened; got $staffRows")
      // group: BARE top-level array payload (the reference's other
      // shape) → groupTransform rows. tokenUses=1 means this second
      // fetch arrives with a dead token: the client must refresh-once
      // inline and succeed.
      val group = graft.pipelines.CallioIngest.groupTransform(
        snaps.fetchAll(spark, "group", "PK"), "PK")
      assert(group.collect().map(_.getAs[String]("group_id")).toSet ==
        Set("g0", "g1"))
      assert(stub.loginCount.get() >= 2,
        "the dead token must force an inline re-login")
      // unknown entity fails loudly, never a silent empty frame
      intercept[IllegalArgumentException] {
        snaps.fetchAll(spark, "bogus", "PK")
      }
    }
  }

  test("daemon soak: 3 ticks through a flaky transport — 5xx bursts, 401 storms, window refusals") {
    // The full production loop (BatchRunner.runLoop over the HTTP
    // transport) against a stub that misbehaves CONTINUOUSLY: every 7th
    // page request 500s (absorbed by the bounded transport retry),
    // tokens die after 5 uses (constant 401 storm → refresh-once
    // retries), and any window wider than 20 min is refused with the
    // reference's 400 body (every 30-min slice must split-recover).
    // After three simulated slots the warehouse must look exactly as if
    // the transport had been healthy: no duplicate ids, monotone
    // checkpoints, and an audit trail that RECORDS the refusals.
    // tokenUses = 60: tokens keep dying all run long (≥5 forced
    // re-logins) but 60 exceeds the ~32 requests that can interleave
    // between one task's refresh and its retry, so the refresh-ONCE
    // contract always heals a 401 within the attempt — every tick
    // succeeds first try and the warehouse counts are exact. (A storm
    // harsher than the refresh-once budget fails the task, and the
    // daemon's in-slot retry heals THAT — DaemonSpec's covered path.)
    val soakT0 = 1704844800000L // 2024-01-10T00:00:00Z; 1 doc/minute
    withStub(new CallioStub(soakT0, 300, tokenUses = 60,
        windowLimitMs = 20 * 60000L, flakyEvery = 7)) { stub =>
      HttpDocFetcher.clearTokenCache()
      val wh = tempDir("soak_wh")
      val cfg = graft.pipelines.BatchRunner.Config(wh, tenants = Seq("PK"),
        daysIfEmpty = 1, sliceMs = 1800000L, minSliceMs = 300000L,
        pageSize = 10)
      // retries = 8: with parallel slice tasks sharing one global
      // request counter, an every-7th-request 500 can land on ONE
      // task's retries several times in a row (observed 4-deep) — the
      // deeper budget makes transport-level absorption deterministic,
      // so every tick succeeds on its FIRST attempt and the warehouse
      // counts below are exact. (Daemon-level in-slot retry after a
      // transport give-up is DaemonSpec's covered path.)
      val fetcher = HttpDocFetcher.retrying(
        cfgFor(stub).copy(retryBackoffMs = 10, maxTransientRetries = 8), "PK")
      val runner = new graft.pipelines.BatchRunner(spark, fetcher,
        new graft.sources.FixtureSources.Snapshots, cfg)
      runner.bootstrap()
      // Simulated clock: boot 02:00 (cold catch-up tick), slots at
      // 02:30 and 04:00 → exactly 3 ticks, then stop.
      var simNow = soakT0 + 2 * 3600000L
      val stopAt = soakT0 + 4 * 3600000L + 600000L
      val last = runner.runLoop(
        schedule = Seq(java.time.LocalTime.of(2, 30),
          java.time.LocalTime.of(4, 0)),
        lastRun = None,
        shouldStop = () => simNow >= stopAt,
        sleep = s => simNow += s * 1000L,
        now = () => java.time.Instant.ofEpochMilli(simNow),
        reporting = false)
      assert(last.contains(java.time.Instant.ofEpochMilli(
        soakT0 + 4 * 3600000L)), s"last successful run must be the 04:00 slot, got $last")
      // No duplicate ids after 401/5xx/window recovery, across 3 ticks.
      val cust = spark.read.parquet(s"$wh/customer")
      assert(cust.count() == 240 &&
        cust.select("_id").distinct().count() == 240,
        "customer: every doc before 04:00 exactly once")
      val calls = spark.read.parquet(s"$wh/call_log")
      assert(calls.count() == 240 &&
        calls.select("_id").distinct().count() == 240,
        "call_log: every doc before 04:00 exactly once")
      // Checkpoints are monotone and land on the last ingested minute.
      val ckEnd = soakT0 + 239 * 60000L
      assert(runner.checkpoints.getCheckpoint("customer", "PK").contains(ckEnd))
      assert(runner.checkpoints.getCheckpoint("call_log", "PK").contains(ckEnd))
      // The audit log recorded the lifecycle AND the refusals: 3 call
      // appends (one per tick), 3 customer merges, and the result-window
      // flag surfaced as rows, never swallowed.
      val modes = spark.read.parquet(s"$wh/update_log")
        .groupBy("mode").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(modes.getOrElse("APPEND", 0L) == 3L, s"modes: $modes")
      assert(modes.getOrElse("MERGED", 0L) == 3L, s"modes: $modes")
      assert(modes.getOrElse("RESULT_WINDOW_LIMIT", 0L) > 0L,
        s"window refusals must be audited, got $modes")
      // The 401 storm really happened (and was healed): many re-logins.
      assert(stub.loginCount.get() > 3,
        s"token storm must force re-logins, saw ${stub.loginCount.get()}")
    }
  }
}
