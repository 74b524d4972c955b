package graft.sources

import graft.pipelines.BatchRunner
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Deterministic offline sources — a Callio-shaped document universe
  * served through the same [[PagedSource.DocFetcher]] /
  * [[BatchRunner.SnapshotFetcher]] contracts the HTTP transport uses.
  * Used by the test suite; also the template for
  * wiring a real REST transport (replace the doc generators with
  * `java.net.http` calls + the token cache).
  */
object FixtureSources {

  /** Paged incremental feed: one customer/call doc per minute from
    * `t0`, with payload shapes matching the reference API (nested
    * `user`/`fromUser`/`fromGroup` objects, `customFields` array).
    * `version` marks re-served docs so merge behavior is observable.
    */
  final class Paged(t0: Long, n: Int, version: Int)
      extends PagedSource.DocFetcher {
    private def customerDoc(i: Int): (Long, String) = {
      val ts = t0 + i * 60000L
      ts -> (s"""{"_id":"c$i","updateTime":$ts,"name":"cust $i v$version",""" +
        s""""phone":"09${i % 50}",""" +
        s""""user":{"_id":"u${i % 5}","name":"NV${i % 5}","group":{"_id":"g${i % 3}"}},""" +
        s""""customFields":[{"key":"tinh-trang-kh","val":"${if (i % 2 == 0) "kết bạn zalo" else "bận"}"}],""" +
        s""""assignedTime":$ts}""")
    }
    private def callDoc(i: Int): (Long, String) = {
      val ts = t0 + i * 60000L
      ts -> (s"""{"_id":"call$i","createTime":$ts,"startTime":$ts,""" +
        s""""endTime":${ts + 30000},"billDuration":${if (i % 3 == 0) 0 else 25},""" +
        s""""toNumber":"09${i % 50}",""" +
        s""""fromUser":{"_id":"u${i % 5}","name":"NV${i % 5}"},"fromGroup":{"_id":"g${i % 3}"}}""")
    }
    override def fetchPage(entity: String, tenant: String, timeField: String,
        fromMs: Long, toMs: Long, page: Int, pageSize: Int): PagedSource.Page = {
      val docs = (0 until n).map(i =>
        if (entity == "customer") customerDoc(i) else callDoc(i))
      val window = docs.filter { case (ts, _) => ts >= fromMs && ts < toMs }
        .sortBy(-_._1).map(_._2)
      val start = (page - 1) * pageSize
      PagedSource.Page(window.slice(start, start + pageSize),
        hasNextPage = start + pageSize < window.size)
    }
  }

  /** Full-snapshot staff/group endpoints (reference api.py:326-385). */
  final class Snapshots extends BatchRunner.SnapshotFetcher {
    override def fetchAll(spark: SparkSession, entity: String,
        tenant: String): DataFrame = {
      import scala.jdk.CollectionConverters._
      if (entity == "staff")
        spark.createDataFrame(List(
          Row("u0", "NV0", """{"_id":"g0"}""", Long.box(1L)),
          Row("u1", "NV1", """{"_id":"g1"}""", Long.box(1L)),
          Row("u2", "  ", null, Long.box(1L))).asJava, // blank name → filtered
          org.apache.spark.sql.types.StructType.fromDDL(
            "_id STRING, name STRING, group STRING, updateTime BIGINT"))
      else
        spark.createDataFrame(List(
          Row("g0", "Team Zero"), Row("g1", "Team One"), Row("g2", "Team Two")).asJava,
          org.apache.spark.sql.types.StructType.fromDDL("_id STRING, name STRING"))
    }
  }
}
