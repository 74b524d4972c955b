package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins `Tables.table`'s normalization of the events.ts column across the
  * parquet flavors the data generator has emitted over time: proper
  * TIMESTAMP, TIMESTAMP(NANOS)-as-long, and TIMESTAMP_NTZ (naive wall
  * clock). Every flavor must surface as a session-UTC TIMESTAMP with the
  * same epoch millis, or `unix_millis`-based queries (q60/q75/q77) break.
  */
class TablesSpec extends SparkSpec {

  private def writeEvents(dt: DataType, mk: Long => Any): String = {
    val dir = tempDir("tables-spec")
    val rows = Seq(1577836800000L, 1577840400123L).zipWithIndex.map {
      case (ms, i) => Row(i.toLong, mk(ms))
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", dt)))
    spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema)
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("TIMESTAMP_NTZ ts is normalized to TIMESTAMP with identical epoch ms") {
    val dir = writeEvents(TimestampNTZType,
      ms => java.time.LocalDateTime.ofEpochSecond(
        ms / 1000, (ms % 1000).toInt * 1000000, java.time.ZoneOffset.UTC))
    val got = Tables.table(spark, dir, "events")
    assert(got.schema("ts").dataType === TimestampType)
    val byId = got.select(col("event_id"), unix_millis(col("ts")).as("ms"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId === Map(0L -> 1577836800000L, 1L -> 1577840400123L))
  }

  test("embeddings array<double> is normalized to array<float>") {
    val dir = tempDir("tables-spec")
    spark.createDataFrame(
        java.util.Arrays.asList(
          Row(0L, Seq(0.5d, -1.25d)), Row(1L, Seq(2.0d, 3.5d))),
        StructType(Seq(
          StructField("vec_id", LongType),
          StructField("embedding", ArrayType(DoubleType)))))
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Tables.table(spark, dir, "embeddings")
    assert(got.schema("embedding").dataType === ArrayType(FloatType))
    val v = got.orderBy("vec_id").collect().map(_.getSeq[Float](1))
    assert(v(0) === Seq(0.5f, -1.25f) && v(1) === Seq(2.0f, 3.5f))
  }

  test("embeddings narrowing fails loudly on a non-float-representable double") {
    // 0.1 has no exact float: silently narrowing it would make Spark
    // compute cosines on different values than the double-reading
    // oracle. The load-time assertion must raise, not round.
    val dir = tempDir("tables-spec")
    spark.createDataFrame(
        java.util.Arrays.asList(Row(0L, Seq(0.5d, 0.1d))),
        StructType(Seq(
          StructField("vec_id", LongType),
          StructField("embedding", ArrayType(DoubleType)))))
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val ex = intercept[Exception] {
      Tables.table(spark, dir, "embeddings").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("not float-representable")),
      s"expected the lossy-narrowing error, got: $ex")
  }

  test("TIMESTAMP ts passes through unchanged") {
    val dir = writeEvents(TimestampType,
      ms => java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(ms)))
    val got = Tables.table(spark, dir, "events")
    assert(got.schema("ts").dataType === TimestampType)
    val ms = got.select(unix_millis(col("ts"))).collect().map(_.getLong(0)).toSet
    assert(ms === Set(1577836800000L, 1577840400123L))
  }
}
