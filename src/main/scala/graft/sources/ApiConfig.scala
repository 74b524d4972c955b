package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper

/** Environment-driven API configuration — the deployment contract the
  * reference pipeline reads (config.py:28-91), so an operator can
  * point this engine at the same `.env` and run:
  *
  *  - `CALLIO_API_BASE_URL` (default the reference's public endpoint,
  *    config.py:30), `API_TIMEOUT` (s, default 90), `API_PAGE_SIZE`
  *    (default 500);
  *  - `API_TIME_SLICE_MS` (default 24 h) / `API_MIN_SLICE_MS`
  *    (default 1 h, floor 1) — the slice-planner knobs
  *    ([[PagedSource.fetchDescUntil]]'s `sliceMs`/`minSliceMs`);
  *  - tenant credentials as a JSON array of `{tenant, email,
  *    password}` objects, from `CALLIO_ACCOUNTS_FILE` (a path; wins
  *    when set, config.py:55-57) or `CALLIO_ACCOUNTS_JSON` (inline;
  *    surrounding quotes stripped, config.py:66-67). Missing or
  *    malformed credentials fail loudly at load, like the reference.
  *
  * Pure data + parse: the env is injected (a Map) so specs cover the
  * contract without process-level env mutation.
  */
object ApiConfig {

  final case class Account(tenant: String, email: String, password: String)

  final case class Api(baseUrl: String, timeoutSec: Int, pageSize: Int,
      timeSliceMs: Long, minSliceMs: Long, accounts: Seq[Account]) {

    def findAccount(tenant: String): Option[Account] =
      accounts.find(_.tenant == tenant)

    /** The production fetcher for `tenant`: HTTP transport + token
      * cache + 401 refresh-once retry ([[HttpDocFetcher.retrying]]).
      */
    def fetcherFor(tenant: String): PagedSource.DocFetcher =
      HttpDocFetcher.retrying(httpConfigFor(tenant), tenant)

    /** The per-tenant transport config (credentials + endpoint), for
      * the snapshot client and other single-request faces.
      */
    def httpConfigFor(tenant: String): HttpDocFetcher.Config = {
      val acc = findAccount(tenant).getOrElse(throw new RuntimeException(
        s"no account configured for tenant '$tenant'"))
      HttpDocFetcher.Config(baseUrl, acc.email, acc.password, timeoutSec)
    }

    /** ONE fetcher serving every configured tenant — the face
      * [[graft.pipelines.BatchRunner]] wants (it passes `tenant` per
      * call). Routes each request to that tenant's credentialed
      * [[fetcherFor]] client, built lazily per JVM (the case class
      * serializes into slice tasks; the client cache does not).
      */
    def dispatchingFetcher: PagedSource.DocFetcher = new Api.Dispatch(this)
  }

  object Api {
    private final class Dispatch(api: Api) extends PagedSource.DocFetcher {
      @transient private lazy val cache =
        new java.util.concurrent.ConcurrentHashMap[String, PagedSource.DocFetcher]()
      override def fetchPage(entity: String, tenant: String,
          timeField: String, fromMs: Long, toMs: Long, page: Int,
          pageSize: Int): PagedSource.Page =
        cache.computeIfAbsent(tenant, t => api.fetcherFor(t))
          .fetchPage(entity, tenant, timeField, fromMs, toMs, page, pageSize)
    }
  }

  def fromEnv(env: Map[String, String] = sys.env,
      readFile: String => String = p =>
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)),
          java.nio.charset.StandardCharsets.UTF_8)): Api = {
    def intEnv(key: String, default: Int, floor: Int): Int =
      env.get(key).map { raw =>
        try math.max(floor, raw.trim.toInt)
        catch { case _: NumberFormatException =>
          throw new RuntimeException(
            s"$key must be an integer, got '$raw'")
        }
      }.getOrElse(default)
    val raw0 = env.get("CALLIO_ACCOUNTS_FILE").map(readFile)
      .orElse(env.get("CALLIO_ACCOUNTS_JSON"))
      .getOrElse(throw new RuntimeException(
        "CALLIO_ACCOUNTS_JSON or CALLIO_ACCOUNTS_FILE is required: " +
          "provide tenant credentials via the environment"))
    val raw = raw0.trim.stripPrefix("'").stripSuffix("'")
      .stripPrefix("\"").stripSuffix("\"")
    val node =
      try new ObjectMapper().readTree(raw)
      catch { case e: Exception =>
        throw new RuntimeException("Callio accounts JSON is invalid", e)
      }
    if (node == null || !node.isArray)
      throw new RuntimeException(
        "Callio accounts JSON must be a list of account objects")
    val accounts = (0 until node.size()).map { i =>
      val a = node.get(i)
      if (!a.isObject || !a.hasNonNull("tenant") || !a.hasNonNull("email") ||
          !a.hasNonNull("password"))
        throw new RuntimeException(
          "each Callio account entry must be an object with " +
            "tenant/email/password")
      Account(a.get("tenant").asText(), a.get("email").asText(),
        a.get("password").asText())
    }
    Api(
      baseUrl = env.getOrElse("CALLIO_API_BASE_URL",
        "https://clientapi.phonenet.io"),
      timeoutSec = intEnv("API_TIMEOUT", 90, 1),
      pageSize = intEnv("API_PAGE_SIZE", 500, 1),
      timeSliceMs = env.get("API_TIME_SLICE_MS").map { raw =>
        try math.max(0L, raw.trim.toLong)
        catch { case _: NumberFormatException =>
          throw new RuntimeException(
            "API_TIME_SLICE_MS must be an integer number of milliseconds")
        }
      }.getOrElse(24L * 60 * 60 * 1000),
      minSliceMs = env.get("API_MIN_SLICE_MS").map { raw =>
        try math.max(1L, raw.trim.toLong)
        catch { case _: NumberFormatException =>
          throw new RuntimeException(
            "API_MIN_SLICE_MS must be a positive integer number of " +
              "milliseconds")
        }
      }.getOrElse(60L * 60 * 1000),
      accounts = accounts)
  }
}
