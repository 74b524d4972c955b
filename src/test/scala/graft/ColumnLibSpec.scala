package graft
// (latestWins __rn-collision case appended at the bottom of this suite)

import graft.functions.ColumnLib._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class ColumnLibSpec extends SparkSpec {

  test("civilDateUtc vs civilDateVn7 disagree exactly in the 17:00-24:00 UTC window") {
    // 2024-03-10 16:59:59.999 UTC → same date both zones;
    // 2024-03-10 17:00:00.000 UTC → 2024-03-11 in UTC+7.
    val msBefore = 1710089999999L // 2024-03-10T16:59:59.999Z
    val msAt = 1710090000000L     // 2024-03-10T17:00:00.000Z
    val d = df("ms BIGINT", Row(Long.box(msBefore)), Row(Long.box(msAt)))
      .select(col("ms"), civilDateUtc(col("ms")).as("utc"),
        civilDateVn7(col("ms")).as("vn7"))
      .collect().map(r => r.getLong(0) -> (r.get(1).toString, r.get(2).toString)).toMap
    assert(d(msBefore) == ("2024-03-10", "2024-03-10"))
    assert(d(msAt) == ("2024-03-10", "2024-03-11"))
  }

  test("toIntTimestamp coerces strings/floats and zeroes the unparseable") {
    val out = df("v STRING", Row("1710090000000"), Row(" 1710090000000.7 "),
        Row("garbage"), Row(null))
      .select(toIntTimestamp(col("v")).as("ms")).collect().map(_.getLong(0))
    assert(out.toSeq == Seq(1710090000000L, 1710090000000L, 0L, 0L))
  }

  test("rowHash ignores volatile columns and is stable") {
    val base = df("id BIGINT, name STRING, updateTime BIGINT",
      Row(Long.box(1), "ann", Long.box(100)))
    val churned = df("id BIGINT, name STRING, updateTime BIGINT",
      Row(Long.box(1), "ann", Long.box(999)))
    val changed = df("id BIGINT, name STRING, updateTime BIGINT",
      Row(Long.box(1), "bob", Long.box(100)))
    def h(d: org.apache.spark.sql.DataFrame): String =
      d.select(rowHash(d).as("h")).head().getString(0)
    assert(h(base) == h(churned), "updateTime churn must not change the hash")
    assert(h(base) != h(changed), "payload change must change the hash")
  }

  test("rowHashOf distinguishes null from empty string") {
    val d = df("a STRING", Row(""), Row(null))
      .select(rowHashOf(Seq(col("a"))).as("h")).collect().map(_.getString(0))
    assert(d(0) != d(1))
  }

  test("conformTo backfills missing columns as typed nulls in template order") {
    val in = df("b STRING, a BIGINT", Row("x", Long.box(7)))
    val tmpl = StructType.fromDDL("a BIGINT, missing DOUBLE, b STRING")
    val out = conformTo(in, tmpl)
    assert(out.schema.map(f => (f.name, f.dataType)) ==
      Seq("a" -> LongType, "missing" -> DoubleType, "b" -> StringType))
    assert(out.head().toSeq == Seq(7L, null, "x"))
  }

  test("ensureUniqueColumns suffixes duplicates") {
    val in = df("a BIGINT, b BIGINT", Row(Long.box(1), Long.box(2)))
      .toDF("c", "c")
    assert(ensureUniqueColumns(in).columns.toSeq == Seq("c", "c__1"))
  }

  test("latestWins keeps exactly the top row per key") {
    val in = df("k BIGINT, t BIGINT, v STRING",
      Row(Long.box(1), Long.box(10), "old"), Row(Long.box(1), Long.box(20), "new"),
      Row(Long.box(2), Long.box(5), "only"))
    val out = latestWins(in, Seq("k"), Seq(col("t").desc))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out == Map(1L -> "new", 2L -> "only"))
  }

  test("exactSum is order-insensitive and exact for 6-decimal inputs") {
    val rows = (1 to 1000).map(i => Row(Double.box(i / 7.0)))
    val d = df("v DOUBLE", rows: _*)
    val s1 = d.repartition(7).agg(exactSum(col("v"))).head().getDouble(0)
    val s2 = d.repartition(3).agg(exactSum(col("v"))).head().getDouble(0)
    assert(s1 == s2)
  }

  test("widenMaterialized spreads a 1-partition checkpoint, no-ops on wide") {
    val target = spark.sessionState.conf.numShufflePartitions
    val narrow = df("v BIGINT", (1 to 64).map(i => Row(Long.box(i))): _*)
      .coalesce(1).localCheckpoint(true)
    assert(widenMaterialized(narrow).rdd.getNumPartitions == target)
    assert(rowSet(widenMaterialized(narrow)) == rowSet(narrow))
    val wide = df("v BIGINT", (1 to 64).map(i => Row(Long.box(i))): _*)
      .repartition(target).localCheckpoint(true)
    assert(widenMaterialized(wide) eq wide,
      "an already-wide materialized frame must pass through")
  }

  test("latestWins preserves a pre-existing __rn input column") {
    val d = df("k STRING, t BIGINT, __rn STRING",
      Row("a", Long.box(1), "keep-old"),
      Row("a", Long.box(2), "keep-new"))
    val out = latestWins(d, Seq("k"), Seq(col("t").desc))
    assert(out.columns.toSeq == Seq("k", "t", "__rn"),
      "caller's __rn column must survive the dedup")
    assert(out.head().getString(2) == "keep-new")
  }

  test("awaitAll joins a slow forked sibling before rethrowing the first failure") {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failing = fork[Int](throw new IllegalStateException("sink failed"))
    val slow = fork { Thread.sleep(400); done.set(true); 7 }
    val e = intercept[IllegalStateException](awaitAll(failing, slow))
    assert(e.getMessage == "sink failed")
    assert(done.get, "the sibling must have finished before the failure surfaced")
    assert(slow() == 7)
  }
}
