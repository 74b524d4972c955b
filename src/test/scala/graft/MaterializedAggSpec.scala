package graft

import graft.incremental.MaterializedAgg
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class MaterializedAggSpec extends SparkSpec {

  private def facts(rows: (Long, Double)*) =
    df("k BIGINT, x DOUBLE",
      rows.map(r => Row(Long.box(r._1), Double.box(r._2))): _*)

  private def stateMap(d: org.apache.spark.sql.DataFrame) =
    d.collect().map(r => r.getLong(0) ->
      ((r.getDecimal(1).doubleValue(), r.getLong(2)))).toMap

  test("refresh(state, delta) == aggregate(base ∪ delta) exactly") {
    val base = facts((1L, 10.0), (1L, 20.0), (2L, 5.0))
    val delta = facts((1L, 30.0), (3L, 7.0))
    val incremental = MaterializedAgg.refresh(
      MaterializedAgg.aggregate(base, Seq("k"), Seq("x")),
      delta, Seq("k"), Seq("x"))
    val batch = MaterializedAgg.aggregate(base.unionByName(delta),
      Seq("k"), Seq("x"))
    assert(stateMap(incremental) == stateMap(batch))
    assert(stateMap(incremental) ==
      Map(1L -> ((60.0, 3L)), 2L -> ((5.0, 1L)), 3L -> ((7.0, 1L))))
  }

  test("compensating rows retract; fully-retracted groups disappear") {
    val state = MaterializedAgg.aggregate(
      facts((1L, 10.0), (2L, 5.0)), Seq("k"), Seq("x"))
    // Retract key 2 entirely and adjust key 1 down by 4: the IVM
    // encoding — negated measures, rowWeight −1.
    val retraction = df("k BIGINT, x DOUBLE, w BIGINT",
      Row(Long.box(2), Double.box(-5.0), Long.box(-1)),
      Row(Long.box(1), Double.box(-4.0), Long.box(0)))
    val got = stateMap(MaterializedAgg.refresh(state, retraction,
      Seq("k"), Seq("x"), rowWeight = col("w")))
    assert(got == Map(1L -> ((6.0, 1L))), got.toString)
  }

  test("cold start from an empty state; refresh is chainable") {
    val empty = MaterializedAgg.aggregate(facts().limit(0), Seq("k"), Seq("x"))
    val s1 = MaterializedAgg.refresh(empty, facts((1L, 1.0)), Seq("k"), Seq("x"))
    val s2 = MaterializedAgg.refresh(s1, facts((1L, 2.0), (2L, 9.0)),
      Seq("k"), Seq("x"))
    assert(stateMap(s2) == Map(1L -> ((3.0, 2L)), 2L -> ((9.0, 1L))))
  }

  test("refresh refuses a state frame that is not in aggregate form") {
    intercept[IllegalArgumentException] {
      MaterializedAgg.refresh(facts((1L, 1.0)), facts((2L, 2.0)),
        Seq("k"), Seq("x"))
    }
  }
}
