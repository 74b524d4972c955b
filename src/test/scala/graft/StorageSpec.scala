package graft

import graft.sources.Storage
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

class StorageSpec extends SparkSpec {

  private val kd = StructType.fromDDL("k BIGINT, d STRING")

  test("loadAppend allows field addition; older rows read it as null") {
    val dir = tempDir("evolve") + "/t"
    Storage.loadAppend(df("a BIGINT, b STRING",
      Row(Long.box(1), "x")), dir)
    // Second batch adds column c (ALLOW_FIELD_ADDITION semantics,
    // reference bigquery_service.py:276-284).
    Storage.loadAppend(df("a BIGINT, b STRING, c DOUBLE",
      Row(Long.box(2), "y", Double.box(2.5))), dir)
    val out = Storage.read(spark, dir, StructType.fromDDL("a BIGINT, b STRING, c DOUBLE"))
    assert(out.columns.toSeq == Seq("a", "b", "c"))
    val byA = out.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) null else r.getDouble(2))).toMap
    assert(byA == Map(1L -> null, 2L -> 2.5), "old rows surface the new column as null")
    // A reader that does not declare c does not see it.
    assert(Storage.read(spark, dir, StructType.fromDDL("a BIGINT, b STRING"))
      .columns.toSeq == Seq("a", "b"))
  }

  test("a declared read fails, naming the file, on a retyped column") {
    val dir = tempDir("retyped") + "/t"
    Storage.loadAppend(df("k BIGINT, v STRING, d STRING",
      Row(Long.box(1), "x", "2024-01-01")), dir, partitionCol = Some("d"))
    // The partition column lives in directory names, not in the footer:
    // declaring it is no mismatch.
    val ok = Storage.read(spark, dir, StructType.fromDDL("k BIGINT, v STRING, d DATE"))
    assert(ok.collect().map(_.getDate(2).toString).toSeq == Seq("2024-01-01"))
    val e = intercept[IllegalStateException] {
      Storage.read(spark, dir, StructType.fromDDL("k INT, v STRING, d DATE"))
    }
    val file = new java.io.File(dir + "/d=2024-01-01").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    assert(e.getMessage.contains(file.getPath) && e.getMessage.contains("types k as bigint"),
      e.getMessage)
  }

  test("loadTruncate replaces contents even when reading its own input") {
    val dir = tempDir("trunc") + "/t"
    Storage.loadAppend(df("a BIGINT", Row(Long.box(1)), Row(Long.box(2))), dir)
    val a = StructType.fromDDL("a BIGINT")
    val filtered = Storage.read(spark, dir, a).filter(col("a") === 2)
    Storage.loadTruncate(filtered, dir)
    assert(Storage.read(spark, dir, a).collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("bucketed tables join without any exchange") {
    val a = spark.range(0, 10000).selectExpr("id AS k", "id * 2 AS va")
    val b = spark.range(0, 10000).selectExpr("id AS k", "id * 3 AS vb")
    Storage.writeBucketed(a, "bucket_a", "k", 8)
    Storage.writeBucketed(b, "bucket_b", "k", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bucket_a").join(spark.table("bucket_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed co-located join must not shuffle:\n$plan")
      assert(joined.count() == 10000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("compact recovers a crash between the two swap renames") {
    val dir = tempDir("cpr") + "/t"
    Storage.loadAppend(
      df("k BIGINT, d STRING", Row(Long.box(1), "2024-01-01"),
        Row(Long.box(2), "2024-01-02")), dir, partitionCol = Some("d"))
    val data = rowSet(Storage.read(spark, dir, kd))
    // Simulate the crash position: live table parked at .compact-old,
    // a half-written tmp left behind, no live table at `dir`.
    val f = new java.io.File(dir)
    assert(f.renameTo(new java.io.File(dir + ".compact-old")))
    new java.io.File(dir + ".compact-tmp").mkdirs()
    // The next rewrite must restore the parked table, discard the stale
    // tmp, and complete normally.
    Storage.rewriteInPlace(spark, dir) { tmp =>
      Storage.read(spark, dir, kd).write.partitionBy("d").parquet(tmp)
    }
    assert(rowSet(Storage.read(spark, dir, kd)) == data)
    assert(!new java.io.File(dir + ".compact-old").exists())
    assert(!new java.io.File(dir + ".compact-tmp").exists())
  }

  test("exists requires data files, not just a directory") {
    val dir = tempDir("exists")
    assert(!Storage.exists(spark, dir + "/missing"))
    assert(!Storage.exists(spark, dir)) // empty directory
    Storage.loadAppend(df("a BIGINT", Row(Long.box(1))), dir + "/t")
    assert(Storage.exists(spark, dir + "/t"))
  }

  test("exportAs(orc): round-trip exact; pruned read-back reaches the scan") {
    val dir = tempDir("orc_export")
    val data = df("id BIGINT, lang STRING, v BIGINT",
      (1L to 60L).map(i =>
        Row(Long.box(i), if (i % 2 == 0) "en" else "de", Long.box(i * 10))): _*)
    Storage.exportAs(data, dir, "orc",
      partitionCol = Some("lang"), clusterBy = Seq("id"))
    val back = Storage.readAs(spark, dir, "orc")
    // lossless: same row set and types through the format boundary
    assert(back.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getString(2))).toSet ==
      data.collect().map(r => (r.getLong(0), r.getLong(2),
        r.getString(1))).toSet)
    // scan efficiency, which a result hash cannot see: the partition
    // filter must PRUNE (only lang=en read) and the id predicate must
    // reach the ORC reader as a pushed filter.
    val q = back.filter(col("lang") === "en" && col("id") < 10)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(id,10)"),
      s"id predicate must push into the ORC scan:\n$plan")
    assert(plan.contains("PartitionFilters") &&
      plan.contains("isnotnull(lang") ,
      s"lang must be a partition filter, not a data filter:\n$plan")
    assert(q.collect().map(_.getLong(0)).toSet == Set(2L, 4L, 6L, 8L))
    // row formats are not table exports — loud, not silent
    intercept[IllegalArgumentException] {
      Storage.exportAs(data, dir + "/bad", "csv")
    }
  }
}
