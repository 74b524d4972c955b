package graft

import graft.pipelines.CallioIngest
import graft.sources.{FixtureSources, PagedSource}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.types.StructType

/** The paged feeds parse with the fields `CallioIngest` declares, not
  * with a schema inferred from each batch. The staged rows must not
  * notice: over the fixture feed and hand-written edge docs, the
  * transforms' output, `row_hash` included, equals what they produce
  * from `spark.read.json`'s inferred frame — the reference restated
  * here.
  */
class FeedSchemaSpec extends SparkSpec {

  private val T0 = 1704844800000L // 2024-01-10T00:00:00Z

  private def ds(docs: Seq[String]) = spark.createDataset(docs)(Encoders.STRING)

  /** The parse before feeds were declared: a schema inferred per batch. */
  private def inferred(docs: Seq[String]): DataFrame = spark.read.json(ds(docs))

  private def declared(docs: Seq[String], feed: StructType): DataFrame =
    spark.read.schema(feed).json(ds(docs))

  /** Rows as text, with the schema: equal output is equal bytes. */
  private def staged(out: DataFrame): (String, Seq[String]) =
    (out.schema.toDDL, out.collect().map(_.toSeq.mkString("|")).toSeq.sorted)

  private def customers(raw: DataFrame) =
    staged(CallioIngest.customerTransform(raw, "PK"))
  private def calls(raw: DataFrame) = staged(CallioIngest.callLogTransform(raw, "PK"))

  test("the fixture feed stages the same customer and call_log rows as schema inference") {
    val paged = new FixtureSources.Paged(T0, 90, version = 2)
    def fetch(entity: String, timeField: String, feed: StructType) = {
      val all = paged.fetchPage(entity, "PK", timeField, 0L, Long.MaxValue, 1, 1000).docs
      val res = PagedSource.fetchDescUntil(spark, paged, entity, "PK", timeField, feed,
        cutoffMs = T0 - 1, nowMs = T0 + 90 * 60000L, sliceMs = 1800000L, pageSize = 13)
      (all, res.docs)
    }
    val (custDocs, custRaw) = fetch("customer", "updateTime", CallioIngest.customerFeed)
    assert(custDocs.size == 90)
    assert(customers(custRaw) == customers(inferred(custDocs)))
    val (callDocs, callRaw) = fetch("call", "createTime", CallioIngest.callFeed)
    assert(callDocs.size == 90)
    assert(calls(callRaw) == calls(inferred(callDocs)))
  }

  test("edge docs: absent payloads, object-or-string user, int-or-float answerTime, string times") {
    val t = T0 + 5000L
    val customerBatches = Seq(
      // no user, no customFields
      Seq(s"""{"_id":"a1","updateTime":$t,"name":"A","assignedTime":$t}""",
        s"""{"_id":"a2","updateTime":${t + 1},"phone":"0901"}"""),
      // user as an object in one doc, as a (Python-repr) string in others
      Seq(s"""{"_id":"b1","updateTime":$t,"user":{"_id":"u1","name":"NV1","group":{"_id":"g1"}},""" +
          s""""customFields":[{"key":"tinh-trang-kh","val":"bận"}]}""",
        s"""{"_id":"b2","updateTime":$t,"user":"{'_id': 'u2', 'name': 'NV2', 'group': 'g2'}",""" +
          s""""customFields":"[{'key': 'tinh-trang-kh', 'value': 'kết bạn zalo'}]"}""",
        s"""{"_id":"b3","updateTime":$t,"user":"{\\"id\\": 7, \\"name\\": null}"}"""),
      // string-valued time fields, and a number where a string is kept
      Seq(s"""{"_id":"c1","updateTime":"$t","assignedTime":"${t - 60000}","name":12}""",
        s"""{"_id":"c2","updateTime":${t + 2},"assignedTime":$t,"name":"x"}"""))
    customerBatches.foreach { docs =>
      assert(customers(declared(docs, CallioIngest.customerFeed)) == customers(inferred(docs)),
        docs.mkString("\n"))
    }
    val callBatches = Seq(
      // answerTime as an int and as a float; fromUser/fromGroup present
      Seq(s"""{"_id":"k1","createTime":$t,"answerTime":3,"billDuration":5,""" +
          s""""fromUser":{"_id":"u1","name":"NV1"},"fromGroup":{"_id":"g1"}}""",
        s"""{"_id":"k2","createTime":${t + 1},"answerTime":4.5,"duration":12.0,""" +
          s""""fromUser":"{'_id': 'u2', 'name': 'NV2'}"}"""),
      // no fromUser/fromGroup, a duplicate _id, a string time
      Seq(s"""{"_id":"m1","createTime":$t,"toNumber":"0902"}""",
        s"""{"_id":"m1","createTime":$t,"toNumber":"0902"}""",
        s"""{"_id":"m2","createTime":"${t + 7}","hangupCause":"NORMAL"}"""))
    callBatches.foreach { docs =>
      assert(calls(declared(docs, CallioIngest.callFeed)) == calls(inferred(docs)),
        docs.mkString("\n"))
    }
  }

  test("a call batch without any _id keeps every row, as it did when the batch had no _id column") {
    val t = T0 + 9000L
    val docs = Seq(s"""{"createTime":$t,"billDuration":5}""",
      s"""{"createTime":${t + 1},"billDuration":5}""",
      s"""{"createTime":${t + 1},"billDuration":5}""")
    val got = calls(declared(docs, CallioIngest.callFeed))
    assert(got._2.size == 3, "a null _id identifies nothing: no row is collapsed")
    assert(got == calls(inferred(docs)))
  }
}
