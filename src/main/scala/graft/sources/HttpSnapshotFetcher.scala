package graft.sources

import java.net.URI
import java.net.http.HttpRequest
import java.time.Duration

import graft.pipelines.BatchRunner
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

/** Production HTTP transport for the full-snapshot staff/group
  * endpoints (reference api.py:326-385) — the
  * [[BatchRunner.SnapshotFetcher]] face of [[HttpDocFetcher]]:
  *
  *  - staff → `GET {base}/user`, group → `GET {base}/user-group`
  *    (the reference hardcodes its production host into the group URL,
  *    api.py:363 — this client derives BOTH from `baseUrl`, the only
  *    behavior that makes a configurable endpoint usable);
  *  - same token cache, login POST, and transient-5xx retry as the
  *    paged client (it IS the paged client underneath);
  *  - 401 → invalidate + refresh-once retry, inline like the reference
  *    (api.py:340-347) — snapshots are driver-side single GETs, so the
  *    slice-task retry decorator isn't involved;
  *  - payload: `docs` array if present, else a bare top-level array,
  *    else empty (api.py:349-352, 377-385).
  *
  * The docs land as one JSON string per row and parse with
  * `spark.read.json`: the snapshots stay schema-adaptive, as the staff
  * merge (`Upsert.upsertAuto`) is, so `group` may arrive as a struct —
  * [[graft.pipelines.CallioIngest.staffTransform]]'s `asJsonString`
  * handles struct-or-string `group` fields either way.
  * Driver-side by design: snapshots are bounded (a tenant's staff
  * list), unlike the sliced incremental feeds.
  */
final class HttpSnapshotFetcher(cfgFor: String => HttpDocFetcher.Config)
    extends BatchRunner.SnapshotFetcher {

  private val entityPath = Map("staff" -> "user", "group" -> "user-group")

  override def fetchAll(spark: SparkSession, entity: String,
      tenant: String): DataFrame = {
    val path = entityPath.getOrElse(entity, throw new IllegalArgumentException(
      s"unknown snapshot entity '$entity' (expected staff|group)"))
    val cfg = cfgFor(tenant)
    val http = new HttpDocFetcher(cfg)
    def get(): java.net.http.HttpResponse[String] =
      http.sendWithRetry(HttpRequest.newBuilder(
          URI.create(s"${cfg.baseUrl}/$path"))
        .timeout(Duration.ofSeconds(cfg.timeoutSec.toLong))
        .header("token", http.token(tenant))
        .GET().build())
    var res = get()
    if (res.statusCode() == 401) {
      // refresh-once: drop the cached token, re-login, retry the GET
      HttpDocFetcher.invalidate(cfg.baseUrl, tenant)
      res = get()
    }
    if (res.statusCode() / 100 != 2)
      throw new RuntimeException(
        s"snapshot fetch failed: HTTP ${res.statusCode()} from " +
          s"${cfg.baseUrl}/$path")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val payload = mapper.readTree(res.body())
    val docs = HttpDocFetcher.docStrings(mapper,
      if (payload != null && payload.path("docs").isArray) payload.path("docs")
      else payload)
    if (docs.isEmpty) spark.emptyDataFrame
    else spark.read.json(spark.createDataset(docs)(Encoders.STRING))
  }
}
