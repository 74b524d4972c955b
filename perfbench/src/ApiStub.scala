package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process stand-in for the Callio REST API, serving a [[Universe]]
  * as of a simulated clock.
  *
  * Documents are rendered once, when the universe is generated; a page
  * request only slices a pre-sorted array and joins the strings, so the
  * stub's own cost stays small and the same in every run.
  *
  * Faults are keyed on request content, never on arrival order:
  *  - a token names the epoch it was issued in; [[advance]] starts a new
  *    epoch, so the first page request of each tenant in an op presents
  *    a stale token and gets one 401 (then one re-login);
  *  - a page deeper than [[Stub.WindowPages]] is refused with the API's
  *    "Result window is too large" 400.
  */
final class ApiStub(u: Universe, threads: Int) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)

  @volatile private var epoch = 0
  // (tenant, entity) -> (times descending, docs in the same order)
  @volatile private var visible = Map.empty[(String, String), (Array[Long], Array[String])]

  val pageRequests = new AtomicLong
  val unauthorized = new AtomicLong
  val refusals = new AtomicLong
  val logins = new AtomicLong
  val snapshots = new AtomicLong

  def baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Show the API as of `nowMs` and start a new token epoch. */
  def advance(nowMs: Long): Unit = {
    epoch += 1
    val cust = u.customers.iterator.filter(_.ts < nowMs)
      .foldLeft(Map.empty[String, Cust])((m, c) =>
        if (m.get(c.id).exists(_.ts > c.ts)) m else m.updated(c.id, c))
      .values.groupBy(_.tenant)
      .map { case (t, cs) =>
        val s = cs.toArray.sortBy(-_.ts)
        (t, "customer") -> (s.map(_.ts), s.map(_.json))
      }
    val call = u.calls.iterator.filter(_.ts < nowMs).toArray.groupBy(_.tenant)
      .map { case (t, cs) =>
        val s = cs.sortBy(-_.ts)
        (t, "call") -> (s.map(_.ts), s.map(_.json))
      }
    visible = cust ++ call
  }

  private def reply(ex: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, b.length.toLong)
    val os = ex.getResponseBody
    try os.write(b) finally os.close()
  }

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).toSeq.flatMap(_.split('&'))
      .map { kv =>
        val i = kv.indexOf('=')
        java.net.URLDecoder.decode(kv.take(i), UTF_8) ->
          java.net.URLDecoder.decode(kv.drop(i + 1), UTF_8)
      }.toMap

  /** Tenant named by a token issued in the current epoch, else None. */
  private def authorized(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("token")).map(_.split('|'))
      .collect { case Array(t, e) if e.toInt == epoch => t }

  server.setExecutor(pool)
  server.createContext("/auth/login", (ex: HttpExchange) => {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val tenant = "\"email\"\\s*:\\s*\"([^@\"]+)@".r.findFirstMatchIn(body)
      .map(_.group(1)).getOrElse("")
    logins.incrementAndGet()
    reply(ex, 200, s"""{"token":"$tenant|$epoch"}""")
  })
  for (entity <- Seq("customer", "call")) server.createContext(s"/$entity",
    (ex: HttpExchange) => {
      pageRequests.incrementAndGet()
      authorized(ex) match {
        case None =>
          unauthorized.incrementAndGet()
          reply(ex, 401, """{"message":"Unauthorized"}""")
        case Some(tenant) =>
          val p = params(ex)
          val page = p("page").toInt
          val size = p("pageSize").toInt
          if (page > Stub.WindowPages) {
            refusals.incrementAndGet()
            reply(ex, 400, """{"message":"Result window is too large"}""")
          } else {
            val (ts, docs) = visible.getOrElse((tenant, entity),
              (Array.empty[Long], Array.empty[String]))
            val hi = firstAtOrBelow(ts, p("to").toLong)
            val lo = firstAtOrBelow(ts, p("from").toLong - 1)
            val start = hi + (page - 1) * size
            val end = math.min(lo, start + size)
            val out = if (start < end) docs.slice(start, end) else Array.empty[String]
            reply(ex, 200, out.mkString("""{"docs":[""", ",",
              s"""],"hasNextPage":${end < lo}}"""))
          }
      }
    })
  for ((path, render) <- Seq[(String, String => Seq[String])](
      "/user" -> u.staffDocs, "/user-group" -> u.groupDocs))
    server.createContext(path, (ex: HttpExchange) => {
      snapshots.incrementAndGet()
      authorized(ex) match {
        case None =>
          unauthorized.incrementAndGet()
          reply(ex, 401, """{"message":"Unauthorized"}""")
        case Some(tenant) =>
          reply(ex, 200, render(tenant).mkString("""{"docs":[""", ",", "]}"))
      }
    })
  server.start()

  /** Index of the first entry of descending `ts` that is <= `bound`. */
  private def firstAtOrBelow(ts: Array[Long], bound: Long): Int = {
    var lo = 0; var hi = ts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ts(mid) > bound) lo = mid + 1 else hi = mid
    }
    lo
  }

  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

object Stub {
  /** Deepest page the stub serves (result window = 2 x 500 docs). */
  val WindowPages = 2
  val PageSize = 500
}
