package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table loading helpers for the driver-generated parquet fixtures
  * (see /root/repo/TESTDATA.md). All queries receive a scale-factor
  * directory and address tables by name.
  */
object Tables {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, TimestampNTZType, TimestampType}

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // events.ts is parquet TIMESTAMP(NANOS); with
    // spark.sql.legacy.parquet.nanosAsLong (set in Engine.builder) it
    // arrives as raw int64 nanos — surface it as a proper TIMESTAMP
    // (micros precision; integer division, no float detour).
    if (name == "events" && df.schema.fieldNames.contains("ts") &&
        df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    // Some generator versions emit ts as parquet TIMESTAMP_NTZ (naive wall
    // clock). The session timezone is pinned to UTC (Engine.builder), so the
    // cast maps wall time → the identical instant, matching DuckDB's
    // epoch_ms(naive_ts) — and restores TIMESTAMP inputs for functions like
    // unix_millis that reject NTZ.
    else if (name == "events" && df.schema.fieldNames.contains("ts") &&
        df.schema("ts").dataType == TimestampNTZType)
      df.withColumn("ts", col("ts").cast(TimestampType))
    // The similarity tier (native expressions, IVF/PQ indexes) is typed
    // to array<float>; normalize a generator flip to double parquet
    // lists here rather than in 40 queries. (Same defense class as the
    // ts flavors above — the round-8 regen changed a column type and
    // broke three queries.) The narrowing is only sound while every
    // value is exactly float-representable — the DuckDB oracles read
    // the same parquet at full double precision, so a silently lossy
    // cast would skew every cosine/centroid gate by sub-ulp amounts
    // the 1e-9 rounding can't absorb. Assert losslessness per value
    // (float round-trip identity, inside codegen): a generator that
    // starts emitting true double-precision embeddings fails LOUDLY
    // here instead of producing quiet hash mismatches downstream.
    else if (name == "embeddings" && df.schema.fieldNames.contains("embedding") &&
        (df.schema("embedding").dataType match {
          case ArrayType(DoubleType, _) => true
          case _ => false
        }))
      df.withColumn("embedding",
        transform(col("embedding"), d =>
          // NaN round-trips float<->double losslessly but fails the ===
          // identity (NaN === NaN is false); let it through explicitly
          // rather than abort with a wrong "not representable" message.
          when(d.isNull || isnan(d) ||
              d.cast(FloatType).cast(DoubleType) === d,
            d.cast(FloatType))
          .otherwise(raise_error(concat(
            lit("embeddings.embedding: double value "), d.cast("string"),
            lit(" is not float-representable; the array<float> " +
              "normalization would silently diverge from the " +
              "double-precision oracle — regenerate float parquet or " +
              "widen the similarity tier to double")))
            .cast(FloatType))))
    else df
  }
}

/** One registered engine capability: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query the
  * driver hash-compares against. Oracle-less entries get a weaker rows-only
  * check per the harness contract.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])
