package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.BloomJoin

/** Bloom semi-join reduction: the probe may pass extra rows (false
  * positives) but must NEVER drop a joining row, so reduceJoin must be
  * row-identical to the plain join; unsound join types are rejected.
  */
class BloomJoinSpec extends SparkSpec {

  // vals, not defs: a DataFrame re-created per reference would carry
  // fresh attribute ids, and join conditions built from one instance
  // would not resolve against another.
  private lazy val fact = df("k BIGINT, v STRING",
    (1L to 400L).map(i => Row(i % 50, s"v$i")) :+ Row(null, "vnull"): _*)

  private lazy val dim = df("dk BIGINT, name STRING",
    Seq(3L, 7L, 11L, 13L, 42L).map(k => Row(k, s"d$k")): _*)

  test("reduceJoin(inner) is row-identical to the plain inner join") {
    val got = BloomJoin.reduceJoin(fact, dim, "k", "dk",
      expectedItems = 100L)
    val want = fact.join(dim, fact("k") === dim("dk"), "inner")
    assert(rowSet(got) === rowSet(want))
    assert(got.count() === 5 * 8)
  }

  test("reduceJoin(left_semi) matches plain left-semi (no dim columns)") {
    val got = BloomJoin.reduceJoin(fact, dim, "k", "dk", "left_semi",
      expectedItems = 100L)
    val want = fact.join(dim, fact("k") === dim("dk"), "left_semi")
    assert(rowSet(got) === rowSet(want))
  }

  test("no false negatives: every dim key passes the probe") {
    val bloom = BloomJoin.buildKeyFilter(dim, "dk", expectedItems = 100L)
    val probed = dim
      .filter(BloomJoin.mightContain(bloom, col("dk")))
    assert(probed.count() === dim.count())
  }

  test("string keys: build and probe agree (stat.bloomFilter binary path)") {
    val sdim = df("dk STRING", Seq("a", "bb", "ccc").map(Row(_)): _*)
    val bloom = BloomJoin.buildKeyFilter(sdim, "dk", expectedItems = 10L)
    assert(sdim.filter(BloomJoin.mightContain(bloom, col("dk"))).count() === 3)
    // definite-miss strings mostly rejected (fpp 1%, 3 tries)
    val misses = df("dk STRING",
      Seq("zz-1", "zz-2", "zz-3").map(Row(_)): _*)
    assert(misses.filter(BloomJoin.mightContain(bloom, col("dk"))).count() <= 1)
  }

  test("null keys are dropped by the probe filter, like an inner join") {
    val bloom = BloomJoin.buildKeyFilter(dim, "dk", expectedItems = 100L)
    val kept = fact.filter(BloomJoin.mightContain(bloom, col("k")))
    assert(kept.filter(col("k").isNull).count() === 0)
  }

  test("empty dim side: probe rejects everything, join is empty") {
    val empty = dim.filter(col("dk") < 0)
    val bloom = BloomJoin.buildKeyFilter(empty, "dk", expectedItems = 100L)
    assert(fact.filter(BloomJoin.mightContain(bloom, col("k"))).count() === 0)
    assert(BloomJoin.reduceJoin(fact, empty, "k", "dk",
      expectedItems = 100L).count() === 0)
  }

  test("outer join types that keep unmatched fact rows are rejected") {
    intercept[IllegalArgumentException] {
      BloomJoin.reduceJoin(fact, dim, "k", "dk", "left")
    }
    intercept[IllegalArgumentException] {
      BloomJoin.reduceJoin(fact, dim, "k", "dk", "full_outer")
    }
  }

  test("right join (fact rows droppable) is accepted and exact") {
    val got = BloomJoin.reduceJoin(fact, dim, "k", "dk", "right",
      expectedItems = 100L)
    val want = fact.join(dim, fact("k") === dim("dk"), "right")
    assert(rowSet(got) === rowSet(want))
  }

  test("portable bloom: no false negatives; fp's appear when m is tiny; persistable") {
    import org.apache.spark.sql.functions.col
    val keys = df("k BIGINT", (1 to 200).map(i => Row(Long.box(i))): _*)
    val others = df("k BIGINT", (1001 to 1200).map(i => Row(Long.box(i))): _*)
    // roomy bloom: every member passes, members are disjoint from others
    val cells = BloomJoin.bloomCells(keys, "k", mBits = 1 << 16,
      kHashes = 3, salt = "s")
    // the cells table is bounded by m/32 regardless of key count
    assert(cells.count() <= (1 << 16) / 32)
    def probe(c: org.apache.spark.sql.DataFrame,
        p: org.apache.spark.sql.DataFrame, m: Int) =
      BloomJoin.bloomMightContainPortable(c, p, "k", m, 3, "s")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val inSet = probe(cells, keys, 1 << 16)
    assert(inSet.values.forall(identity), "members can NEVER probe false")
    // cramming 200 keys into 64 bits must produce false positives —
    // and still zero false negatives (the property that matters)
    val tiny = BloomJoin.bloomCells(keys, "k", 64, 3, "s")
    assert(probe(tiny, keys, 64).values.forall(identity))
    assert(probe(tiny, others, 64).values.exists(identity),
      "a saturated bloom must show false positives")
    // the persisted artifact freezes its geometry: bloomProbe reads
    // (m, k, salt) from the __meta sidecar, so a build/probe mismatch
    // — the silent-false-negative failure — cannot happen
    val dir = tempDir("bloomcells")
    BloomJoin.bloomWrite(keys, "k", 1 << 16, 3, "s", dir + "/c")
    val viaArtifact = BloomJoin.bloomProbe(spark, dir + "/c", keys, "k")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(viaArtifact.values.forall(identity))
    assert(BloomJoin.bloomProbe(spark, dir + "/c", others, "k")
      .collect().forall(!_.getBoolean(1)),
      "disjoint keys at roomy m must all probe false")
  }
}
