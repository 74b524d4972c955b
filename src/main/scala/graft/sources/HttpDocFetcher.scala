package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import java.time.Duration
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.sources.PagedSource.{AuthExpired, DocFetcher, Page, ResultWindowTooLarge}

/** Production HTTP transport for [[PagedSource]] — the deployable
  * ingest edge the engine's protocol logic plugs into (reference
  * api.py:43-212; the slicing/recovery/dedup protocol itself lives in
  * [[PagedSource]], transport-agnostic).
  *
  * Reference behaviors carried:
  *  - login: `POST {base}/auth/login` with `{"email","password"}`,
  *    token from the response's `token` field (api.py:71-81);
  *  - per-tenant token cache with a 25-minute TTL (api.py:43-69). The
  *    cache is JVM-global (companion object), so every slice task on an
  *    executor shares one login per tenant — the per-executor cache the
  *    [[PagedSource.RetryingFetcher]] scaladoc calls for;
  *  - page GET: `GET {base}/{entity}` with header `token`, params
  *    `page`, `pageSize`, `sort={timeField}DESC`, `from`, `to`
  *    (api.py:155-166), request timeout 90 s (config.py:31);
  *  - 401 → invalidate the cached token and raise [[AuthExpired]]; the
  *    refresh-once retry loop is [[PagedSource.RetryingFetcher]]
  *    composed via [[HttpDocFetcher.retrying]] (api.py:137-148 does
  *    both inline; here the retry policy stays the shared decorator);
  *  - 400 whose body contains "Result window is too large" →
  *    [[ResultWindowTooLarge]], the recovery-protocol signal
  *    (api.py:170-181); any other non-2xx raises.
  *
  * Boundary note: the engine's `fetchPage` contract is half-open
  * (`fromMs <= t < toMs`, see [[DocFetcher]]); the reference API's
  * `from`/`to` params are both inclusive (its slice planner steps
  * `cursor_end = cursor_start - 1`, api.py:223-228). The client sends
  * `to = toMs - 1` so the wire request covers exactly the engine's
  * half-open window.
  *
  * The class is Serializable (it ships into slice tasks); the
  * HttpClient and credentials config travel as plain fields, the
  * client is rebuilt lazily per JVM.
  */
object HttpDocFetcher {

  /** @param baseUrl    API root, e.g. https://host (no trailing slash)
    * @param email      login credential
    * @param password   login credential
    * @param timeoutSec per-request timeout (reference default 90 s)
    * @param tokenTtlMs cached-token lifetime (reference: 25 min)
    * @param maxTransientRetries retries per request on 5xx / IO errors
    *                   (exponential backoff); 0 disables. Local mode
    *                   runs with task-max-failures = 1, so one blip on
    *                   one page would otherwise kill the whole fetch —
    *                   the transport absorbs transience, the task
    *                   scheduler handles real failures.
    * @param retryBackoffMs first backoff step (doubles per attempt)
    */
  final case class Config(baseUrl: String, email: String, password: String,
      timeoutSec: Int = 90, tokenTtlMs: Long = 25L * 60 * 1000,
      maxTransientRetries: Int = 3, retryBackoffMs: Long = 500)
      extends Serializable

  /** JVM-global token cache: (baseUrl, tenant) → (token, expiresAtMs).
    * Global so concurrent slice tasks in one executor share a login.
    */
  private val tokens = new ConcurrentHashMap[(String, String), (String, Long)]()

  private[graft] def invalidate(baseUrl: String, tenant: String): Unit =
    tokens.remove((baseUrl, tenant))

  /** Test hook: drop every cached token (fresh-JVM conditions). */
  private[graft] def clearTokenCache(): Unit = tokens.clear()

  /** The production composition: HTTP transport + the shared 401
    * refresh-once retry decorator. Refresh = invalidate the cached
    * token; the next fetch re-logins (the reference's `force=True`
    * path, api.py:139-143).
    */
  def retrying(cfg: Config, tenant: String): DocFetcher =
    new PagedSource.RetryingFetcher(
      new HttpDocFetcher(cfg),
      () => invalidate(cfg.baseUrl, tenant))

  /** The elements of a JSON array, one compact JSON string per doc; a
    * missing node or a non-array is no docs.
    */
  private[sources] def docStrings(mapper: ObjectMapper, docs: JsonNode): Seq[String] =
    if (docs == null || !docs.isArray) Nil
    else docs.elements().asScala.map(mapper.writeValueAsString).toSeq
}

final class HttpDocFetcher(cfg: HttpDocFetcher.Config,
    clock: () => Long = () => System.currentTimeMillis())
    extends DocFetcher {

  // HttpClient holds sockets/executors — never serialized; rebuilt on
  // first use in each JVM. Connect timeout mirrors the request timeout.
  @transient private lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(cfg.timeoutSec.toLong))
    .build()
  @transient private lazy val mapper = new ObjectMapper()

  private def enc(s: String): String = URLEncoder.encode(s, StandardCharsets.UTF_8)

  /** Send with bounded transient-failure retry: 5xx responses and IO
    * errors (connect/timeout/reset) back off exponentially and retry
    * up to `maxTransientRetries` times; everything else — including
    * the protocol signals 401 and the 400 result-window — returns to
    * the caller untouched. GETs and the login POST are idempotent, so
    * the retry is safe.
    */
  private[sources] def sendWithRetry(req: HttpRequest): HttpResponse[String] = {
    var attempt = 0
    while (true) {
      val resOrErr: Either[java.io.IOException, HttpResponse[String]] =
        try Right(client.send(req, HttpResponse.BodyHandlers.ofString()))
        catch { case e: java.io.IOException => Left(e) }
      val transient = resOrErr match {
        case Right(r) => r.statusCode() / 100 == 5
        case Left(_) => true
      }
      if (!transient) return resOrErr.toOption.get
      if (attempt >= cfg.maxTransientRetries)
        return resOrErr match {
          case Right(r) => r
          case Left(e) => throw e
        }
      Thread.sleep(cfg.retryBackoffMs << attempt)
      attempt += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Cached-or-fresh token for `tenant` (reference api.py:43-69).
    * Single-flight: concurrent slice tasks that all miss the cache must
    * produce ONE login, not one per task — `compute` runs atomically
    * per key, so racers block on the first login instead of stampeding
    * the auth endpoint.
    */
  private[sources] def token(tenant: String): String = {
    val key = (cfg.baseUrl, tenant)
    HttpDocFetcher.tokens.compute(key, (_, cached) => {
      val now = clock()
      if (cached != null && now < cached._2) cached
      else (login(), now + cfg.tokenTtlMs)
    })._1
  }

  /** `POST /auth/login` → `token` field (reference api.py:71-81). */
  private def login(): String = {
    val body = mapper.createObjectNode()
    body.put("email", cfg.email)
    body.put("password", cfg.password)
    val req = HttpRequest.newBuilder(URI.create(s"${cfg.baseUrl}/auth/login"))
      .timeout(Duration.ofSeconds(cfg.timeoutSec.toLong))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(body)))
      .build()
    val res = sendWithRetry(req)
    if (res.statusCode() / 100 != 2)
      throw new RuntimeException(
        s"login failed: HTTP ${res.statusCode()} from ${cfg.baseUrl}/auth/login")
    val tok = Option(mapper.readTree(res.body()))
      .map(_.path("token").asText("")).getOrElse("")
    if (tok.isEmpty)
      throw new RuntimeException("cannot obtain token: login response had no token")
    tok
  }

  override def fetchPage(entity: String, tenant: String, timeField: String,
      fromMs: Long, toMs: Long, page: Int, pageSize: Int): Page = {
    val params = Seq(
      "page" -> page.toString,
      "pageSize" -> pageSize.toString,
      "sort" -> s"${timeField}DESC",
      "from" -> math.max(0L, fromMs).toString,
      // engine contract is to-exclusive; the wire protocol's `to` is
      // inclusive (see class scaladoc)
      "to" -> math.max(0L, toMs - 1).toString)
    val qs = params.map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")
    val req = HttpRequest.newBuilder(
        URI.create(s"${cfg.baseUrl}/${enc(entity)}?$qs"))
      .timeout(Duration.ofSeconds(cfg.timeoutSec.toLong))
      .header("token", token(tenant))
      .GET()
      .build()
    val res = sendWithRetry(req)
    res.statusCode() match {
      case 401 =>
        // Invalidate here so even an undecorated client re-logins on
        // the caller's next attempt; the typed signal drives the
        // decorator's same-page retry.
        HttpDocFetcher.invalidate(cfg.baseUrl, tenant)
        throw new AuthExpired
      case 400 if Option(res.body()).exists(_.contains("Result window is too large")) =>
        throw new ResultWindowTooLarge
      case c if c / 100 != 2 =>
        throw new RuntimeException(
          s"fetch failed: HTTP $c from ${cfg.baseUrl}/$entity page=$page")
      case _ => ()
    }
    val payload = mapper.readTree(res.body())
    Page(HttpDocFetcher.docStrings(mapper, payload.path("docs")),
      payload.path("hasNextPage").asBoolean(false))
  }
}
