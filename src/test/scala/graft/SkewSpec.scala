package graft

import graft.operators.Skew
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {

  private def facts = df("k STRING, v BIGINT",
    Row("hot", Long.box(1)), Row("hot", Long.box(2)), Row("hot", Long.box(3)),
    Row("cold", Long.box(4)), Row(null, Long.box(5)))

  private def dim = df("k STRING, label STRING",
    Row("hot", "H"), Row("cold", "C"))

  test("saltedJoin preserves inner-join semantics under salting") {
    val plain = facts.filter(col("k").isNotNull).join(dim, Seq("k"), "inner")
    val salted = Skew.saltedJoin(facts, dim, "k", salts = 7, joinType = "inner")
    assert(rowSet(salted.select("k", "v", "label")) ==
      rowSet(plain.select("k", "v", "label")))
  }

  test("saltedJoin left keeps unmatched and null-key rows exactly once") {
    val out = Skew.saltedJoin(facts, dim, "k", salts = 5, joinType = "left")
    assert(out.count() == 5)
    assert(out.filter(col("v") === 5).head().isNullAt(2)) // null key row kept
  }

  test("nullSafeLeftJoin routes null keys around the shuffle, same result") {
    val plain = facts.join(dim, Seq("k"), "left")
    val routed = Skew.nullSafeLeftJoin(facts, dim, "k")
    assert(rowSet(routed) == rowSet(plain))
  }

  test("KMV sketch: exact below k, merge == direct sketch, sane estimate") {
    val k = 32
    // 3 groups: tiny (12 distinct, below k), two larger ones that
    // share a month.
    val rows = (1 to 12).map(i => Row("d1", Long.box(i))) ++
      (1 to 500).map(i => Row("d2", Long.box(i * 7))) ++
      (1 to 400).map(i => Row("d3", Long.box(i * 11)))
    val d = df("d STRING, u BIGINT", rows: _*)
    val sk = Skew.kmvSketch(d, Seq("d"), "u", k, "s")
    val est = sk.select(col("d"), Skew.kmvEstimate(col("kmv"), k))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(est("d1") == 12.0, "below k the sketch is exact")
    assert(est("d2") > 250 && est("d2") < 1000,
      s"estimate far off exact 500: ${est("d2")}")
    // merge property: merging the per-day sketches == sketching the
    // union directly (bit-identical sketch, not just close estimate)
    val merged = Skew.kmvMerge(sk.withColumn("m", lit("M")), Seq("m"), k)
      .select("kmv").head().getSeq[String](0)
    val direct = Skew.kmvSketch(d.withColumn("m", lit("M")), Seq("m"), "u",
        k, "s")
      .select("kmv").head().getSeq[String](0)
    assert(merged == direct, "merge must equal the direct union sketch")
  }

  test("kmvUpdate: incremental fold == from-scratch sketch; untouched groups ride") {
    val k = 16
    val day1 = df("d STRING, u BIGINT",
      (1 to 100).map(i => Row("a", Long.box(i))) ++
        (1 to 50).map(i => Row("b", Long.box(i))): _*)
    val day2 = df("d STRING, u BIGINT",
      (80 to 160).map(i => Row("a", Long.box(i))): _*) // overlaps group a only
    val incr = Skew.kmvUpdate(
        Skew.kmvSketch(day1, Seq("d"), "u", k, "s"),
        day2, Seq("d"), "u", k, "s")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val scratch = Skew.kmvSketch(day1.union(day2), Seq("d"), "u", k, "s")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(incr == scratch,
      "incremental maintenance must be bit-identical to a full rebuild")
  }

  test("blockedSelfPairs: exact pair set of the plain blocked self-join") {
    val rows = (1 to 40).map(i =>
      Row(Long.box(i), s"b${i % 3}", s"name$i")) :+ Row(null, "b0", "nullkey")
    val p = df("id BIGINT, blk STRING, nm STRING", rows: _*)
    def pairsOf(buckets: Int) = Skew.blockedSelfPairs(p, Seq("blk"), "id", buckets)
      .select(col("a.id"), col("b.id"), col("blk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val plain = p.alias("x").join(p.alias("y"),
        col("x.blk") === col("y.blk") && col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id"), col("x.blk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // every pair exactly once, a.id < b.id, null keys excluded — for
    // any bucket count, including the degenerate B=1
    Seq(1, 2, 8, 64).foreach { b =>
      assert(pairsOf(b) == plain, s"buckets=$b must reproduce the pair set")
    }
    // duplicates would survive a Set compare: check count too
    assert(Skew.blockedSelfPairs(p, Seq("blk"), "id", 8).count() ==
      plain.size)
  }

  test("heavyHitters ranks values with NULL as a first-class hot key") {
    val d = df("a STRING, b BIGINT",
      Row(null, Long.box(1)), Row(null, Long.box(2)), Row(null, Long.box(3)),
      Row("x", Long.box(1)), Row("x", Long.box(2)), Row("y", Long.box(9)))
    val out = Skew.heavyHitters(d, Seq("a", "b"), k = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    // Column a: NULL is the top value (3/6); column b: 1 and 2 tie at
    // 2/6 each and 9 (1/6) is cut — the tie-break is value ascending.
    val third = 0.333333333 // frac is rounded to the 1e-9 grid
    assert(out == Set(
      ("a", null, 3L, 0.5), ("a", "x", 2L, third),
      ("b", "1", 2L, third), ("b", "2", 2L, third)))
    intercept[IllegalArgumentException] {
      Skew.heavyHitters(d, Seq("nope"), k = 2)
    }
  }

  test("distributionDrift: full-outer keys, zero fills, TVD terms") {
    val a = df("k STRING", Row("x"), Row("x"), Row("y"), Row(null))
    val b = df("k STRING", Row("x"), Row("z"))
    val out = Skew.distributionDrift(a, b, "k").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(out("x") == ((2L, 1L, 0.5, 0.5, 0.0)))
    assert(out("y") == ((1L, 0L, 0.25, 0.0, 0.25)))
    assert(out("z") == ((0L, 1L, 0.0, 0.5, 0.5)))
    assert(out(null) == ((1L, 0L, 0.25, 0.0, 0.25)),
      "NULL keys are a first-class drift category")
    // Shares on each side sum to 1 (every row is counted once).
    assert(out.values.map(_._3).sum == 1.0 && out.values.map(_._4).sum == 1.0)
  }

  test("statusPivot with null-routed phone join matches the plain left join") {
    import graft.pipelines.FactStaffDaily
    import graft.functions.Classifiers
    val callLog = df(
      "tenant STRING, NgayTao DATE, fromUser__id STRING, toNumber STRING",
      Row("PK", java.sql.Date.valueOf("2024-01-10"), "u1", "0901"),
      Row("PK", java.sql.Date.valueOf("2024-01-10"), "u1", null), // null phone
      Row("PK", java.sql.Date.valueOf("2024-01-11"), "u2", null), // null phone
      Row("PK", java.sql.Date.valueOf("2024-01-11"), "u2", "0902"))
    val customer = df(
      "tenant STRING, NgayUpdate DATE, phone STRING, customField_0_val STRING",
      Row("PK", java.sql.Date.valueOf("2024-01-10"), "0901", "OK - kết bạn zalo"),
      Row("PK", java.sql.Date.valueOf("2024-01-11"), "0902", "KH từ chối"))
    val d0 = lit(java.sql.Date.valueOf("2024-01-01"))
    val d1 = lit(java.sql.Date.valueOf("2024-01-31"))
    val routed = FactStaffDaily.statusPivot(callLog, customer, d0, d1, "PK")
    // Plain-join restatement of the same pivot.
    val aggs = Classifiers.statusPivotAggs(col("TrangThaiXuLi"))
    val plain = callLog
      .select(col("NgayTao").as("Ngay"), col("fromUser__id").as("MaNV_id"),
        col("toNumber").as("SDTKhach"))
      .join(customer.select(col("phone"),
          nullif(trim(col("customField_0_val")), lit("")).as("TrangThaiXuLi")),
        col("SDTKhach") === col("phone"), "left")
      .groupBy("Ngay", "MaNV_id")
      .agg(aggs.head, aggs.tail: _*)
    assert(rowSet(routed) == rowSet(plain))
    assert(routed.count() == 2)
  }

  test("sketchProfile: HLL within rsd bound, small-group median exact") {
    // 3 docs in g1 (distinct tokens t1..t5; lengths 10, 20, 30 ->
    // discrete median 20), 1 doc in g2.
    val docs = df("g STRING, text STRING, len BIGINT",
      Row("g1", "t1 t2 t3", Long.box(10)),
      Row("g1", "t2 t3 t4", Long.box(20)),
      Row("g1", "t4 t5", Long.box(30)),
      Row("g2", "x1 x2", Long.box(7)))
    val p = Skew.sketchProfile(docs, "g", "text", "len", rsd = 0.05)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(p("g1")._1 == 3L && p("g2")._1 == 1L)
    // Below the accuracy window the quantile summary holds every value:
    // the approximate median IS the discrete median.
    assert(p("g1")._2 == 20L && p("g2")._2 == 7L)
    // HLL at these cardinalities sits far inside the ±3σ (15%) bound
    // the q112 gate enforces.
    assert(math.abs(p("g1")._3 - 5L) <= 1L, s"g1 hll=${p("g1")._3}")
    assert(math.abs(p("g2")._3 - 2L) <= 1L, s"g2 hll=${p("g2")._3}")
  }

  test("saltedDistinctCount == plain countDistinct, including null values/keys") {
    val rnd = new scala.util.Random(20260814L)
    val rows = (1 to 500).map { _ =>
      Row(
        if (rnd.nextInt(10) == 0) null else s"k${rnd.nextInt(3)}",
        if (rnd.nextInt(8) == 0) null else Long.box(rnd.nextInt(40).toLong))
    }
    val d = df("k STRING, v BIGINT", rows: _*)
    val salted = Skew.saltedDistinctCount(d, Seq("k"), "v", buckets = 7)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val plain = d.groupBy("k").agg(countDistinct(col("v")).as("n"))
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(salted == plain, s"salted $salted != plain $plain")
    // The dedup exchange must partition on (key, bucket) — the spread
    // that is this operator's reason to exist.
    val plan = Skew.saltedDistinctCount(d, Seq("k"), "v", buckets = 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__b"), s"bucket column missing from plan:\n$plan")
    val exchangeLines = plan.linesIterator
      .filter(_.contains("hashpartitioning")).toSeq
    assert(exchangeLines.exists(l => l.contains("k#") && l.contains("__b")),
      s"dedup exchange must carry (key, bucket):\n${exchangeLines.mkString("\n")}")
  }

  test("count-min sketch: never undercounts, exact when collision-free") {
    import org.apache.spark.sql.Row
    val rows = (1 to 200).map(i => Row(Long.box(i % 10))) // keys 0..9, 20 each
    val d = df("k BIGINT", rows: _*)
    val exact = d.groupBy("k").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Wide sketch: 10 keys into 4x1024 cells — collision-free with
    // this fixed salt, so estimates are EXACT.
    val wide = Skew.countMinSketch(d, "k", depth = 4, width = 1024, salt = "t")
    val estWide = Skew.cmsEstimate(wide, d.select("k").distinct(), "k")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(estWide == exact, s"wide sketch should be exact:\n$estWide\n$exact")
    // Tiny sketch: 10 keys into 2x4 cells — collisions guaranteed;
    // estimates never undercount.
    val tiny = Skew.countMinSketch(d, "k", depth = 2, width = 4, salt = "t")
    val estTiny = Skew.cmsEstimate(tiny, d.select("k").distinct(), "k")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(estTiny(k) >= n, s"CMS undercounted key $k: ${estTiny(k)} < $n")
    }
    assert(estTiny.values.sum > exact.values.sum,
      "2x4 cells over 10 keys must collide somewhere")
    // Mergeability: cells from two halves sum to the full-data cells.
    val h1 = Skew.countMinCells(d.filter(col("k") < 5), "k", 2, 4, "t")
    val h2 = Skew.countMinCells(d.filter(col("k") >= 5), "k", 2, 4, "t")
    val merged = h1.unionByName(h2).groupBy("r", "c")
      .agg(sum(col("cnt")).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val full = tiny.cells.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == full, s"cells must merge additively:\n$merged\n$full")
    // A key the sketch never saw estimates 0 (hits untouched cells)
    // ... unless every probed cell collides; with 4x1024 it does not.
    val unseen = Skew.cmsEstimate(wide,
        df("k BIGINT", Row(Long.box(777L))), "k")
      .head().getLong(1)
    assert(unseen == 0L)
  }

  test("kmvPairwiseSetOps: exact below k, quadratic guard fails loudly") {
    val k = 32
    // Three sources, all below k distinct, so every sketch is exact
    // and the set-op ESTIMATES must equal the true set sizes:
    // A = 1..20, B = 11..30 (|A∩B|=10, |A∪B|=30, J=1/3), C = 100..104
    // (disjoint from both).
    val rows = (1 to 20).map(i => Row("A", Long.box(i))) ++
      (11 to 30).map(i => Row("B", Long.box(i))) ++
      (100 to 104).map(i => Row("C", Long.box(i)))
    val d = df("g STRING, v BIGINT", rows: _*)
    val sk = Skew.kmvSketch(d, Seq("g"), "v", k, "t")
    val out = Skew.kmvPairwiseSetOps(sk, "g", k)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out.keySet == Set(("A", "B"), ("A", "C"), ("B", "C")))
    val (jAB, uAB, iAB) = out(("A", "B"))
    // inter_est is the product of the two ROUNDED estimates, so it can
    // sit an ulp-of-grid below the true 10 (0.333333333 * 30).
    assert(uAB == 30.0 && math.abs(iAB - 10.0) < 1e-6 &&
      math.abs(jAB - 10.0 / 30.0) < 1e-8, s"A-B: $jAB $uAB $iAB")
    val (jAC, uAC, iAC) = out(("A", "C"))
    assert(jAC == 0.0 && uAC == 25.0 && iAC == 0.0)
    // At-capacity regime still sane: two big overlapping sets, the
    // Jaccard estimate lands within the sketch's statistical range.
    val big = df("g STRING, v BIGINT",
      ((1 to 600).map(i => Row("X", Long.box(i))) ++
        (301 to 900).map(i => Row("Y", Long.box(i)))): _*)
    val est = Skew.kmvPairwiseSetOps(
        Skew.kmvSketch(big, Seq("g"), "v", k, "t"), "g", k)
      .head()
    val jXY = est.getDouble(2) // true J = 300/900 = 0.333
    assert(jXY > 0.05 && jXY < 0.7, s"k=32 Jaccard estimate off: $jXY")
    // The quadratic-pair guard: a data-sized group key must refuse.
    val err = intercept[IllegalArgumentException] {
      Skew.kmvPairwiseSetOps(sk, "g", k, maxGroups = 2)
    }
    assert(err.getMessage.contains("maxGroups"))
  }
}
