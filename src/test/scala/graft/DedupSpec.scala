package graft

import graft.operators.Dedup
import graft.functions.ShingleReference.wordShingles
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private def docs = df("doc_id BIGINT, text STRING",
    Row(Long.box(1), "the quick brown fox jumps over the lazy dog"),
    Row(Long.box(2), "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    Row(Long.box(3), "completely different words entirely here now"),
    Row(Long.box(4), "the quick brown fox jumps over the lazy dog")) // exact dup of 1

  test("exactGroups collapses identical bodies to the minimum id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(g == Map(1L -> 2L, 2L -> 1L, 3L -> 1L)) // canonical -> n_copies
  }

  test("wordShingles produces ordered n-grams; short docs yield empty") {
    val sh = df("t STRING", Row("a b c d"), Row("a b"))
      .select(wordShingles(col("t"), 3).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(sh(0) == Seq("a b c", "b c d"))
    assert(sh(1) == Seq.empty)
  }

  test("word_shingles native == windowed == HOF, zero-shuffle plan") {
    val tricky = df("doc_id BIGINT, text STRING",
      Row(Long.box(1), "the quick brown fox jumps"),
      Row(Long.box(2), "ab"),                       // fewer than n words
      Row(Long.box(3), "xin chào thế giới nhé"),    // multi-byte UTF-8
      Row(Long.box(4), ""),                         // empty text
      Row(Long.box(5), "a b c"))
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val native = pairs(Dedup.explodedShingles(tricky, "doc_id", "text", 3)
      .toDF("doc_id", "g"))
    val windowed = pairs(
      Dedup.explodedShinglesWindowed(tricky, "doc_id", "text", 3)
        .toDF("doc_id", "g"))
    val hof = pairs(tricky.select(col("doc_id"),
      explode(wordShingles(col("text"), 3))
        .as("g")))
    assert(native == windowed && native == hof,
      s"formulations disagree:\n$native\n$windowed\n$hof")
    assert(native.count(_._1 == 1L) == 3 && !native.exists(_._1 == 2L))
    // The native stream never shuffles and stays in codegen.
    val plan = Dedup.explodedShingles(tricky, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"gram stream must not shuffle:\n$plan")
    // "*(n)" prefixes are the whole-stage-codegen markers in the
    // simple plan string.
    assert(plan.contains("*(1)"), s"expected codegen:\n$plan")
  }

  test("minhash signatures: identical docs share all values; near-dups share some") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", k = 4, n = 3)
      .collect().map(r => r.getLong(0) ->
        (1 to 4).map(r.getString)).toMap
    assert(sig(1L) == sig(4L), "exact dups must have identical signatures")
    assert(sig(1L) != sig(3L), "unrelated docs must differ")
    val shared = sig(1L).zip(sig(2L)).count { case (a, b) => a == b }
    assert(shared >= 1, s"near-dups should collide on some minhash (got $shared)")
  }

  test("lshCandidatePairs surfaces exact and near dups, id1 < id2") {
    val pairs = rowSet(Dedup.lshCandidatePairs(docs, "doc_id", "text",
      k = 4, n = 3, bandWidth = 2))
    assert(pairs.contains(Seq(1L, 4L)), "exact dup must be a candidate")
    assert(pairs.forall(p => p(0).asInstanceOf[Long] < p(1).asInstanceOf[Long]))
    assert(!pairs.exists(p => p.contains(3L)), "unrelated doc must not pair")
  }

  test("lshCandidatePairs: pathological hot bucket is dropped, not exploded") {
    // 10 identical boilerplate docs land in one bucket (45 pairs if
    // expanded); two similar docs form a small, legitimate bucket.
    val boiler = (1 to 10).map(i =>
      Row(Long.box(i), "same boilerplate legal footer text repeated everywhere"))
    val pair = Seq(
      Row(Long.box(101), "a genuinely unique article about spark engines"),
      Row(Long.box(102), "a genuinely unique article about spark engines"))
    val d = df("doc_id BIGINT, text STRING", (boiler ++ pair): _*)
    val pairs = rowSet(Dedup.lshCandidatePairs(d, "doc_id", "text",
      k = 4, n = 3, bandWidth = 2, maxBucket = 5))
    assert(pairs == Set(Seq(101L, 102L)),
      s"hot bucket must be dropped, small bucket kept (got $pairs)")
  }

  test("nearDupPairs: Jaccard-verified LSH candidates ⊆ candidates, ⊆ all-pairs Jaccard") {
    val nd = Dedup.nearDupPairs(docs, "doc_id", "text",
        k = 4, n = 3, bandWidth = 2, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // The exact dup must survive with Jaccard 1.0.
    assert(nd((1L, 4L)) == 1.0)
    // Every verified pair must be an LSH candidate AND match the
    // all-pairs Jaccard value for that pair.
    val cand = rowSet(Dedup.lshCandidatePairs(docs, "doc_id", "text", 4, 3, 2))
      .map(p => (p(0).asInstanceOf[Long], p(1).asInstanceOf[Long]))
    val allPairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    nd.foreach { case (p, j) =>
      assert(cand.contains(p), s"$p not an LSH candidate")
      assert(allPairs(p) == j, s"$p jaccard $j != all-pairs ${allPairs(p)}")
      assert(j >= 0.5)
    }
  }

  test("incrementalNearDupPairs equals the cross-split cut of the full run") {
    // Existing = docs 1-3 (index persisted once), incoming = 4-6.
    // The incremental probe must find exactly the (new, old) pairs the
    // monolithic pipeline over the union finds — same candidates, same
    // Jaccard — plus nothing within either side.
    val extra = df("doc_id BIGINT, text STRING",
      Row(Long.box(5), "the quick brown fox jumps over the lazy dog"), // dup of 1/4
      Row(Long.box(6), "unrelated content that matches nothing else at all"))
    val all = docs.union(extra)
    val existing = all.filter(col("doc_id") <= 3)
    val incoming = all.filter(col("doc_id") > 3)
    val dir = tempDir("bandidx") + "/index"
    Dedup.bandIndexWrite(existing, "doc_id", "text", 4, 3, 2, dir)
    val inc = Dedup.incrementalNearDupPairs(spark, dir, existing, incoming,
        "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val full = Dedup.nearDupPairs(all, "doc_id", "text",
        k = 4, n = 3, bandWidth = 2, minJaccard = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .filter { case ((a, b), _) => a <= 3 && b > 3 } // cross-split only
      .map { case ((old, nw), j) => (nw, old) -> j }.toMap
    assert(inc == full, s"incremental $inc must equal cross-split cut $full")
    assert(inc.contains((4L, 1L)) && inc((4L, 1L)) == 1.0)
    assert(inc.contains((5L, 1L)) && inc((5L, 1L)) == 1.0)
    assert(!inc.keys.exists(_._1 == 6L), "doc 6 matches nothing")
  }

  test("bandIndexAppend: probe-after-append == rebuild; torn retry; compact GC") {
    val extra = df("doc_id BIGINT, text STRING",
      Row(Long.box(5), "the quick brown fox jumps over the lazy dog"),
      Row(Long.box(6), "unrelated content that matches nothing else at all"))
    val all = docs.union(extra)
    val existing = all.filter(col("doc_id") <= 3)
    val incoming = all.filter(col("doc_id") > 3)
    def probe(p: String) =
      Dedup.incrementalNearDupPairs(spark, p, existing, incoming,
          "doc_id", "text", minJaccard = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // Rebuild index over docs 1-3 vs build(1-2) + append(3): identical.
    val pFull = tempDir("bandidx_f") + "/index"
    val pInc = tempDir("bandidx_i") + "/index"
    Dedup.bandIndexWrite(existing, "doc_id", "text", 4, 3, 2, pFull)
    Dedup.bandIndexWrite(existing.filter(col("doc_id") <= 2),
      "doc_id", "text", 4, 3, 2, pInc)
    Dedup.bandIndexAppend(existing.filter(col("doc_id") === 3),
      "doc_id", "text", pInc, "b1")
    assert(probe(pInc) == probe(pFull),
      "append must be invisible to probing")
    // Torn append (bands on disk, no ledger row) is invisible; the
    // retry replaces the orphans instead of duplicating them.
    val doc3 = existing.filter(col("doc_id") === 3)
    val pTorn = tempDir("bandidx_t") + "/index"
    Dedup.bandIndexWrite(existing.filter(col("doc_id") <= 2),
      "doc_id", "text", 4, 3, 2, pTorn)
    val before = probe(pTorn)
    Dedup.lshBands(Dedup.minhashSignatures(doc3, "doc_id", "text", 4, 3),
        "doc_id", 4, 2)
      .withColumn("shard", pmod(xxhash64(col("band_key")), lit(16)))
      .withColumn("batch", lit("bT"))
      .repartition(col("shard"))
      .write.mode("append").partitionBy("shard", "batch").parquet(pTorn)
    assert(probe(pTorn) == before, "uncommitted bands must be invisible")
    Dedup.bandIndexAppend(doc3, "doc_id", "text", pTorn, "bT")
    assert(probe(pTorn) == probe(pFull),
      "retried batch must probe like a clean rebuild")
    assert(Dedup.bandIndexedIds(spark, pTorn, "doc_id").count() == 3)
    intercept[IllegalArgumentException] {
      Dedup.bandIndexAppend(doc3, "doc_id", "text", pTorn, "bT")
    }
    // Geometry is frozen in the ledger: a mismatched probe is loud.
    intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupPairs(spark, pTorn, existing, incoming,
        "doc_id", "text", k = 4, n = 5, bandWidth = 2)
    }
    // Compaction folds committed batches and GC's orphans.
    Dedup.lshBands(Dedup.minhashSignatures(doc3, "doc_id", "text", 4, 3),
        "doc_id", 4, 2)
      .withColumn("shard", pmod(xxhash64(col("band_key")), lit(16)))
      .withColumn("batch", lit("bOrphan"))
      .repartition(col("shard"))
      .write.mode("append").partitionBy("shard", "batch").parquet(pTorn)
    Dedup.bandIndexCompact(spark, pTorn)
    assert(probe(pTorn) == probe(pFull))
    assert(!java.nio.file.Files.walk(java.nio.file.Paths.get(pTorn))
      .anyMatch(p => p.toString.contains("batch=bOrphan")),
      "compaction must drop uncommitted orphan bands")
  }

  test("lsh_buckets observation surfaces dropped-bucket count and max size") {
    val boiler = (1 to 10).map(i =>
      Row(Long.box(i), "same boilerplate legal footer text repeated everywhere"))
    val pair = Seq(
      Row(Long.box(101), "a genuinely unique article about spark engines"),
      Row(Long.box(102), "a genuinely unique article about spark engines"))
    val d = df("doc_id BIGINT, text STRING", (boiler ++ pair): _*)
    val out = Dedup.lshCandidatePairs(d, "doc_id", "text",
      k = 4, n = 3, bandWidth = 2, maxBucket = 5)
    out.collect()
    val m = out.queryExecution.observedMetrics
      .collectFirst { case (k, v) if k.startsWith("lsh_buckets") => v }.get
    // identical boilerplate docs collide on BOTH bands → 2 hot buckets
    // of size 10 dropped; the small pair buckets survive.
    assert(m.getAs[Long]("dropped_buckets") == 2L, s"metrics: $m")
    assert(m.getAs[Int]("max_bucket_size") == 10, s"metrics: $m")
  }

  test("decontaminate: benchmark collisions vanish, including reformatted copies") {
    val train = df("doc_id BIGINT, text STRING",
      Row(Long.box(1), "The quick brown fox!"),       // reformatted copy of bench
      Row(Long.box(2), "the quick brown fox"),        // exact copy of bench
      Row(Long.box(3), "a completely different doc"))
    val bench = df("doc_id BIGINT, text STRING",
      Row(Long.box(100), "the quick   brown fox"))
    val kept = Dedup.decontaminate(train, bench, "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L), "normalized collisions must be removed")
    // Plan check: the benchmark side must broadcast — the training scan
    // stays shuffle-free.
    val plan = Dedup.decontaminate(train, bench, "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), s"benchmark side must broadcast:\n$plan")
  }

  test("ngramOverlap grades partial benchmark leakage per document") {
    val train = df("doc_id BIGINT, text STRING",
      Row(Long.box(1), "the quick brown fox jumps"),   // contains bench 3-grams
      Row(Long.box(2), "a completely different doc entirely"),
      Row(Long.box(3), "too short"))                   // < 3 words: no grams
    val bench = df("doc_id BIGINT, text STRING",
      Row(Long.box(100), "the quick brown fox sat down"))
    val got = Dedup.ngramOverlap(train, bench, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // doc 1: grams {the quick brown, quick brown fox, brown fox jumps};
    // the first two appear in the benchmark -> 2/3.
    assert(got(1L) == (3L, 2L, math.rint(2.0 / 3.0 * 1e9) / 1e9), s"got $got")
    assert(got(2L) == (3L, 0L, 0.0))
    assert(!got.contains(3L), "a doc with no n-grams has no overlap row")
  }

  test("simhash64: exact dups identical; bit j*4 reproduces the 16-bit signature") {
    val sig64 = Dedup.simhashSignatures64(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sig64.values.forall(_.length == 64))
    assert(sig64(1L) == sig64(4L), "exact dups must share the 64-bit signature")
    assert(sig64(1L) != sig64(3L), "unrelated docs must differ")
    // The 64-bit layout reads ALL four bits of each md5 nibble MSB-first,
    // so taking every 4th bit recovers the 16-bit (high-bit-only) variant.
    val sig16 = Dedup.simhashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    sig64.foreach { case (id, s64) =>
      assert((0 until 16).map(j => s64(j * 4)).mkString == sig16(id))
    }
  }

  test("bandIndexDelete: erased docs stop surfacing; torn delete; compact") {
    val extra = df("doc_id BIGINT, text STRING",
      Row(Long.box(5), "the quick brown fox jumps over the lazy dog"),
      Row(Long.box(6), "unrelated content that matches nothing else at all"))
    val all = docs.union(extra)
    val existing = all.filter(col("doc_id") <= 3)
    val incoming = all.filter(col("doc_id") > 3)
    def probe(p: String) =
      Dedup.incrementalNearDupPairs(spark, p, existing, incoming,
          "doc_id", "text", minJaccard = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val p = tempDir("bandidx_d") + "/index"
    val pRef = tempDir("bandidx_dr") + "/index"
    Dedup.bandIndexWrite(existing, "doc_id", "text", 4, 3, 2, p)
    assert(probe(p).contains((4L, 1L)), "doc 1 matches before erasure")
    Dedup.bandIndexDelete(spark, p,
      df("doc_id BIGINT", Row(Long.box(1))), "d1")
    Dedup.bandIndexWrite(existing.filter(col("doc_id") =!= 1L),
      "doc_id", "text", 4, 3, 2, pRef)
    assert(probe(p) == probe(pRef),
      "delete must probe identically to a rebuild without the doc")
    assert(!probe(p).keys.exists(_._2 == 1L),
      "erased doc must never surface as a candidate")
    // exactly-once per delete batch id
    intercept[IllegalArgumentException] {
      Dedup.bandIndexDelete(spark, p,
        df("doc_id BIGINT", Row(Long.box(2))), "d1")
    }
    // torn delete (tombstones on disk, no ledger row) is invisible
    val before = probe(p)
    df("__id BIGINT", Row(Long.box(2)))
      .withColumn("batch", lit("dX")).coalesce(1)
      .write.mode("append").partitionBy("batch").parquet(p + "__tombstones")
    assert(probe(p) == before, "uncommitted tombstones must be invisible")
    // retry replaces the orphan rows and commits
    Dedup.bandIndexDelete(spark, p,
      df("doc_id BIGINT", Row(Long.box(2))), "dX")
    val pRef2 = tempDir("bandidx_dr2") + "/index"
    Dedup.bandIndexWrite(existing.filter(col("doc_id") === 3L),
      "doc_id", "text", 4, 3, 2, pRef2)
    assert(probe(p) == probe(pRef2))
    // compact removes the bytes and the sidecar; probes unchanged
    Dedup.bandIndexCompact(spark, p)
    assert(probe(p) == probe(pRef2),
      "compaction over tombstones must not change probes")
    assert(!new java.io.File(p + "__tombstones").exists(),
      "compaction must drop the tombstone sidecar")
    assert(spark.read.parquet(p)
      .filter(col("doc_id").isin(1L, 2L)).count() == 0,
      "compaction must physically remove tombstoned bands")
  }

  test("simhashNearDupPairs64: banding recovers every pair within Hamming 3") {
    val sig64 = Dedup.simhashSignatures64(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val allWithin = (for {
      (i1, s1) <- sig64; (i2, s2) <- sig64 if i1 < i2
      h = s1.zip(s2).count { case (a, b) => a != b } if h <= 3
    } yield (i1, i2, h)).toSet
    val banded = Dedup.simhashNearDupPairs64(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == allWithin, "pigeonhole recall must be total at Hamming <= 3")
    assert(banded.exists { case (a, b, h) => a == 1L && b == 4L && h == 0 })
  }

  test("iteration buffers are freed: only returned results stay materialized") {
    val sc = spark.sparkContext
    val base = sc.getPersistentRDDs.keySet
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text",
      k = 4, n = 3, bandWidth = 2, minJaccard = 0.5)
    // The operator materializes its result and frees its two candidate
    // buffers before returning: exactly one new persistent RDD remains.
    assert((sc.getPersistentRDDs.keySet -- base).size == 1,
      "nearDupPairs must free cand/candGrams, keeping only its result")
    val comps = Dedup.connectedComponents(pairs)
    comps.count()
    assert((sc.getPersistentRDDs.keySet -- base).size == 2,
      "connectedComponents must free the per-iteration label buffers and the edge list")
    Dedup.release(comps)
    Dedup.release(pairs)
    assert((sc.getPersistentRDDs.keySet -- base).isEmpty,
      "release must return executor storage to baseline")
  }

  test("connectedComponents: chains, triangles, and isolated pairs resolve to min ids") {
    // Graph: 1-2, 2-3, 3-4 (chain), 10-11-12 (triangle), 20-21 (pair).
    val pairs = df("id1 BIGINT, id2 BIGINT",
      Row(Long.box(1), Long.box(2)), Row(Long.box(2), Long.box(3)),
      Row(Long.box(3), Long.box(4)),
      Row(Long.box(10), Long.box(11)), Row(Long.box(11), Long.box(12)),
      Row(Long.box(10), Long.box(12)),
      Row(Long.box(20), Long.box(21)))
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents converges on a long path within maxIter") {
    // Path 0-1-2-...-9: diameter 9, worst case for one-hop propagation.
    val pairs = df("id1 BIGINT, id2 BIGINT",
      (0L until 9L).map(i => Row(Long.box(i), Long.box(i + 1))): _*)
    val comp = Dedup.connectedComponents(pairs, maxIter = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.values.toSet == Set(0L))
    assert(comp.size == 10)
  }

  test("connectedComponents: fused convergence detection matches the probe path") {
    // Path graph (worst case for round count) plus a triangle: the
    // convergence count (an Observation on each round's checkpoint job)
    // must not stop the loop before every node carries its component's
    // minimum id. The probe is a plain local label propagation over the
    // same edges, run to a fixed point.
    val edges = ((0L until 9L).map(i => i -> (i + 1))) ++
      Seq(30L -> 31L, 31L -> 32L, 30L -> 32L)
    val pairs = df("id1 BIGINT, id2 BIGINT",
      edges.map { case (a, b) => Row(Long.box(a), Long.box(b)) }: _*)
    val fused = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var probed = edges.flatMap { case (a, b) => Seq(a -> a, b -> b) }.toMap
    var changed = true
    while (changed) {
      val next = edges.foldLeft(probed) { case (m, (a, b)) =>
        val lo = math.min(m(a), m(b))
        m.updated(a, lo).updated(b, lo)
      }
      changed = next != probed
      probed = next
    }
    assert(fused == probed,
      "fused convergence and the probe must produce identical components")
    assert(fused == (0L to 9L).map(_ -> 0L).toMap ++
      Seq(30L, 31L, 32L).map(_ -> 30L))
  }

  test("lshCandidatePairs: repeated input ids never emit self-pairs") {
    val d = df("doc_id BIGINT, text STRING",
      Row(Long.box(1), "the quick brown fox jumps over the lazy dog"),
      Row(Long.box(1), "the quick brown fox jumps over the lazy dog"), // dup id
      Row(Long.box(2), "the quick brown fox jumps over the lazy dog"))
    val pairs = rowSet(Dedup.lshCandidatePairs(d, "doc_id", "text",
      k = 4, n = 3, bandWidth = 2))
    assert(pairs == Set(Seq(1L, 2L)), s"no (x,x) pairs allowed (got $pairs)")
  }

  test("simhash16: deterministic, equal for dups, Hamming-near for near-dups") {
    val h = docs.select(col("doc_id"), Dedup.simhash16(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(h(1L) == h(4L))
    assert(h.values.forall(v => v.length == 16 && v.forall("01".contains(_))))
    val hamming = h(1L).zip(h(2L)).count { case (a, b) => a != b }
    assert(hamming <= 8, s"near-dups should be Hamming-close (got $hamming)")
  }

  test("native simhashSignatures ≡ per-row HOF simhash16 formulation") {
    val viaNative = Dedup.simhashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaHof = docs.select(col("doc_id"), Dedup.simhash16(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaNative == viaHof,
      "native signature must equal the interpreted per-row fold")
  }

  test("native simhash signatures ≡ explode/groupBy aggregate formulation, both widths") {
    val corpus = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    assert(rowSet(Dedup.simhashSignatures(corpus, "doc_id", "text")) ==
      rowSet(Dedup.simhashSignaturesAgg(corpus, "doc_id", "text")),
      "16-bit: zero-shuffle native path must equal the word-shuffle aggregate")
    assert(rowSet(Dedup.simhashSignatures64(corpus, "doc_id", "text")) ==
      rowSet(Dedup.simhashSignatures64Agg(corpus, "doc_id", "text")),
      "64-bit: zero-shuffle native path must equal the word-shuffle aggregate")
  }

  test("native simhash signatures are zero-shuffle") {
    val plan = Dedup.simhashSignatures64(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"native simhash signatures must not shuffle:\n$plan")
  }

  test("simhashNearDupPairs: banded candidates recover exact and near dups") {
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 4L)) == 0, "exact dup has Hamming 0")
    assert(pairs.get((1L, 2L)).forall(_ <= 3))
    assert(pairs.keys.forall { case (a, b) => a < b })
  }

  test("ngramJaccardPairs: exact dup scores 1.0, near-dup in (0,1)") {
    val j = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 4L)) == 1.0)
    val nd = j((1L, 2L))
    assert(nd > 0.0 && nd < 1.0)
    assert(!j.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("prefixJaccardPairs == all-pairs threshold filter (exact, no recall loss)") {
    // A richer corpus than `docs`: shared boilerplate shingles (the
    // prefix filter's worst case — common tokens must sort LAST and
    // stay out of prefixes), an exact dup, a contained near-dup, and
    // an unrelated doc.
    val corpus = df("doc_id BIGINT, text STRING",
      Row(Long.box(1), "alpha beta gamma delta epsilon zeta eta theta"),
      Row(Long.box(2), "alpha beta gamma delta epsilon zeta eta iota"),
      Row(Long.box(3), "alpha beta gamma delta epsilon zeta eta theta"),
      Row(Long.box(4), "one two three four five six seven eight nine"),
      Row(Long.box(5), "one two three four five six seven eight"),
      Row(Long.box(6), "totally unrelated content sits over here alone"),
      Row(Long.box(7), "alpha beta gamma nope nope2 nope3 nope4 nope5"))
    for (t <- Seq(0.3, 0.5, 0.8, 1.0)) {
      val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3)
        .filter(col("jaccard") >= t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val pf = Dedup.prefixJaccardPairs(corpus, "doc_id", "text", n = 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
      assert(pf == exact, s"threshold $t: prefix filter diverged\n$pf\n$exact")
    }
    // Content checks at t = 0.5: the exact dup scores 1.0 and the
    // contained near-dup (4,5) qualifies; the unrelated doc never pairs.
    val half = Dedup.prefixJaccardPairs(corpus, "doc_id", "text", n = 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(half((1L, 3L)) == 1.0)
    assert(half.contains((4L, 5L)))
    assert(!half.keySet.exists { case (a, b) => a == 6L || b == 6L })
    assert(half.keySet.forall { case (a, b) => a < b })
    // n_inter is the exact distinct-shingle intersection.
    val row45 = Dedup.prefixJaccardPairs(corpus, "doc_id", "text", n = 3, 0.5)
      .filter(col("id1") === 4 && col("id2") === 5).head()
    assert(row45.getLong(2) == 6L) // 6 shared 3-grams of "one..eight"
  }

  test("sourceOverlapMatrix: counts match brute force; one heavy pass") {
    val srcDocs = df("source STRING, text STRING",
      Row("a", "w1 w2 w3 w4"),        // grams: {w1 w2 w3, w2 w3 w4}
      Row("a", "w1 w2 w3"),           // duplicate gram within source a
      Row("b", "w1 w2 w3 x"),         // shares "w1 w2 w3" with a and c
      Row("c", "w1 w2 w3 w4 y"),      // shares both of a's grams
      Row("d", "p q r"))              // no overlap with anyone
    val m = Dedup.sourceOverlapMatrix(srcDocs, "source", "text", n = 3)
    val rows = m.collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // Distinct gram sets: a={w1w2w3, w2w3w4}, b={w1w2w3, w2w3x},
    // c={w1w2w3, w2w3w4, w3w4y}, d={pqr}.
    assert(rows(("a", "b")) == ((2L, 2L, 1L, 1.0 / 3.0)))
    assert(rows(("a", "c")) == ((2L, 3L, 2L, 2.0 / 3.0)))
    assert(rows(("b", "c")) == ((2L, 3L, 1L, 0.25)))
    assert(!rows.keySet.exists(p => p._1 == "d" || p._2 == "d"),
      "a source sharing no gram must not appear")
    assert(rows.keySet.forall(p => p._1 < p._2))
    // The checkpoint barrier leaves ZERO shingle work downstream: the
    // heavy explode+aggregate ran exactly once, at materialization.
    val plan = m.queryExecution.executedPlan.toString
    assert(!plan.contains("word_shingles"),
      s"shingle pipeline must not re-execute downstream:\n$plan")
  }

  test("minhashCalibration matches the brute-force curve; 6 pairs covered") {
    val cal = Dedup.minhashCalibration(docs, "doc_id", "text", k = 4, n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // Brute-force restatement from the component operators.
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", k = 4, n = 3)
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getString)).toMap
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ids = sig.keys.toSeq.sorted
    val perPair = for {
      i <- ids; j <- ids if i < j
      agree = sig(i).zip(sig(j)).count { case (a, b) => a == b }.toLong
      t = jac.getOrElse((i, j), 0.0)
    } yield (agree, math.floor(t * 1e6).toLong,
      math.floor(math.abs(agree / 4.0 - t) * 1e6).toLong)
    assert(perPair.size == 6, "4 eligible docs -> 6 pairs")
    val expected = perPair.groupBy(_._1).map { case (a, g) =>
      a -> (g.size.toLong, g.map(_._2).sum, g.map(_._3).sum, g.map(_._3).max)
    }
    assert(cal == expected, s"curve mismatch:\n$cal\n$expected")
    // The exact dup (1,4) pins the top of the curve: its level carries
    // a full 1e6 of true-jaccard mass with zero estimator error there.
    assert(cal(4L)._2 >= 1000000L && perPair.exists(p => p._1 == 4L && p._3 == 0L))
  }

  test("candidateRecall: exact counts and floored micro ratios") {
    val truth = df("id1 BIGINT, id2 BIGINT",
      Row(Long.box(1), Long.box(2)), Row(Long.box(3), Long.box(4)),
      Row(Long.box(5), Long.box(6)))
    val cand = df("id1 BIGINT, id2 BIGINT",
      Row(Long.box(1), Long.box(2)), Row(Long.box(3), Long.box(4)),
      Row(Long.box(7), Long.box(8)), Row(Long.box(9), Long.box(10)))
    val r = Dedup.candidateRecall("rung_x", truth, cand).collect()(0)
    assert(r.getString(0) == "rung_x")
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((3L, 4L, 2L)))
    assert(r.getLong(4) == math.floor(2.0 / 3.0 * 1e6).toLong) // 666666
    assert(r.getLong(5) == 500000L)
  }

  // ---- winnowing ------------------------------------------------------

  test("winnowing: shared >=k+w-1 substring detected at ANY alignment") {
    val stolen = "the quick brown fox jumps over the lazy dog tonight"
    val corpus = df("doc_id BIGINT, text STRING",
      Row(Long.box(1), s"AAA $stolen BBB unrelated tail content here"),
      // different prefix length => gram grids shifted by 7 chars
      Row(Long.box(2), s"zzzzzzzzzz $stolen completely different ending"),
      Row(Long.box(3), "nothing in common with the others at all, truly x"))
    val stats = Dedup.winnowingShareStats(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stats(1L)._2 >= 1, "copy source must share fingerprints")
    assert(stats(2L)._2 >= 1, "shifted copy must share fingerprints")
    assert(stats(3L)._2 === 0, "unrelated doc shares nothing")
  }

  test("winnowing: identical docs share every fingerprint; shorts emit none") {
    val t = "some reasonably long body of text for fingerprinting purposes"
    val corpus = df("doc_id BIGINT, text STRING",
      Row(Long.box(1), t), Row(Long.box(2), t),
      Row(Long.box(3), "too short"), Row(Long.box(4), null))
    val stats = Dedup.winnowingShareStats(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(stats.keySet === Set(1L, 2L))
    assert(stats(1L)._2 === 1000000L && stats(2L)._2 === 1000000L)
  }

  test("winnowing: native winnow_fp ≡ HOF formulation on randomized text") {
    val rnd = new scala.util.Random(20260813L)
    val alpha = "abcde fgh"
    val rows = (1 to 40).map { i =>
      val len = 20 + rnd.nextInt(120) // spans the k+w-1=27 guard boundary
      Row(Long.box(i.toLong),
        (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    }
    val corpus = df("doc_id BIGINT, text STRING", rows: _*)
    val native = rowSet(Dedup.winnowingFingerprints(corpus, "doc_id", "text"))
    val hof = rowSet(Dedup.winnowingFingerprintsHof(corpus, "doc_id", "text"))
    assert(native === hof)
    assert(native.nonEmpty)
  }

  test("winnowing fingerprints are a subset of gram hashes, distinct per doc") {
    val corpus = df("doc_id BIGINT, text STRING",
      Row(Long.box(1), "abcdefghijklmnopqrstuvwxyz0123456789 abcdefghij"))
    val fps = Dedup.winnowingFingerprints(corpus, "doc_id", "text")
      .collect().map(_.getString(1)).toSeq
    assert(fps.distinct.size === fps.size)
    assert(fps.nonEmpty)
  }

  test("winnow_fp_pos: every (fp, pos) is the md5 of the k-gram at pos; fps match winnow_fp") {
    val rnd = new scala.util.Random(20260814L)
    val alpha = "abcde fgh"
    val rows = (1 to 25).map { i =>
      val len = 20 + rnd.nextInt(120)
      Row(Long.box(i.toLong),
        (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    }
    val corpus = df("doc_id BIGINT, text STRING", rows: _*)
    val texts = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    val withPos = Dedup.winnowingFingerprintPositions(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(withPos.nonEmpty)
    val mdd = java.security.MessageDigest.getInstance("MD5")
    withPos.foreach { case (id, fp, pos) =>
      val gram = texts(id).substring(pos - 1, pos - 1 + 20)
      mdd.reset()
      val hex = mdd.digest(gram.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      assert(fp == hex, s"doc $id pos $pos: fp is not the gram's md5")
    }
    // The position variant selects exactly the fingerprint SET the
    // fp-only native form selects.
    val fpOnly = rowSet(Dedup.winnowingFingerprints(corpus, "doc_id", "text"))
    assert(withPos.map(t => Seq[Any](t._1, t._2)).toSet === fpOnly)
  }

  test("removeDuplicatedSpans: planted copied paragraph excised from the later doc") {
    val para = "this entire paragraph was copied verbatim from document one " +
      "and it is long enough that winnowing must fingerprint it densely " +
      "across every window of the selection schedule without exception"
    val prefixB = "doc two begins with its own unique opening words 12345 "
    val suffixB = " and doc two also ends with entirely original closing material 67890"
    val corpus = df("doc_id BIGINT, text STRING",
      Row(Long.box(1), s"source document alpha: $para :end of alpha"),
      Row(Long.box(2), prefixB + para + suffixB),
      Row(Long.box(3), "an unrelated document with no copied content at all in it"))
    val out = Dedup.removeDuplicatedSpans(corpus, "doc_id", "text",
        k = 20, w = 8, maxGap = 28)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    // Owner (doc 1) and the unrelated doc are untouched.
    assert(out(1L)._2 == 0 && out(1L)._1.contains(para))
    assert(out(3L)._2 == 0)
    // The later doc loses the copied core. Approximation contract:
    // up to w-1 chars can survive at each span edge, and merged gaps
    // can excise <= maxGap chars of unique text between hits — but
    // hits exist only inside the copy, so the unique prefix/suffix
    // survive verbatim.
    val (clean, nSpans, removed, orig) = out(2L)
    assert(nSpans >= 1)
    assert(clean.startsWith(prefixB) && clean.endsWith(suffixB))
    assert(!clean.contains(para.substring(30, para.length - 30)),
      "the copied core must be gone")
    assert(removed >= para.length - 2 * (20 + 8) && removed <= para.length,
      s"removed $removed chars of a ${para.length}-char copy")
    assert(orig == (prefixB + para + suffixB).length)
  }

  test("removeDuplicatedSpans property: all-unique corpus passes through verbatim") {
    // With no cross-document duplication there are no owned
    // fingerprints to excise: every doc must come out byte-identical
    // with zero stats — the no-false-positive property of the rewrite.
    // Seeded random docs over a tiny alphabet maximize the chance of
    // ACCIDENTAL shared k-grams; k=20 over 9 symbols keeps collisions
    // improbable while shorter grams would collide constantly.
    val rnd = new scala.util.Random(20260815L)
    val alpha = "abcde fgh"
    val rows = (1 to 30).map { i =>
      Row(Long.box(i.toLong),
        (0 until 80 + rnd.nextInt(200))
          .map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    }
    val corpus = df("doc_id BIGINT, text STRING", rows: _*)
    val out = Dedup.removeDuplicatedSpans(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    rows.foreach { r =>
      val (clean, n) = out(r.getLong(0))
      assert(n == 0 && clean == r.getString(1),
        s"unique doc ${r.getLong(0)} must be untouched")
    }
  }

  test("removeDuplicatedSpans: identical docs — first kept verbatim, second gutted") {
    val t = "completely identical body text repeated across two documents " +
      "so that every single fingerprint of the second is owned by the first"
    val corpus = df("doc_id BIGINT, text STRING",
      Row(Long.box(10), t), Row(Long.box(20), t),
      Row(Long.box(30), null), Row(Long.box(40), "short"))
    val out = Dedup.removeDuplicatedSpans(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (Option(r.getString(1)), r.getInt(2), r.getInt(3))).toMap
    assert(out(10L) == ((Some(t), 0, 0)))
    // Second doc: one merged span covering (almost) everything.
    assert(out(20L)._2 == 1 && out(20L)._3 >= t.length - 2 * (20 + 8))
    // Nulls and short texts pass through with zero stats.
    assert(out(30L) == ((None, 0, 0)))
    assert(out(40L) == ((Some("short"), 0, 0)))
  }

  // ---- edit-distance verification -------------------------------------

  test("editVerifiedPairs: exact Levenshtein decides; cap + threshold honored") {
    val corpus = df("doc_id BIGINT, text STRING",
      Row(Long.box(1), "the quick brown fox"),
      Row(Long.box(2), "the quick brown cat"),   // lev 3, sim 1-3/19
      Row(Long.box(3), "entirely different body"),
      Row(Long.box(4), "x" * 600 + "tail-a"),
      Row(Long.box(5), "x" * 600 + "tail-b"))    // differs past the cap
    val cands = df("id1 BIGINT, id2 BIGINT",
      Row(Long.box(1), Long.box(2)), Row(Long.box(1), Long.box(3)),
      Row(Long.box(4), Long.box(5)))
    val out = Dedup.editVerifiedPairs(corpus, "doc_id", "text", cands)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // near pair verified with the exact distance
    assert(out((1L, 2L))._1 === 3L)
    assert(math.abs(out((1L, 2L))._2 - (1.0 - 3.0 / 19.0)) < 1e-8)
    // dissimilar pair cut by the threshold
    assert(!out.contains((1L, 3L)))
    // prefix cap: texts identical in their first 500 chars ⇒ sim 1.0
    assert(out((4L, 5L)) === ((0L, 1.0)))
    // only proposed pairs are scored — (2,3) was never a candidate
    assert(!out.contains((2L, 3L)))
  }

  // ---- semDedup -------------------------------------------------------

  private def vecRow(id: Long, v: Double*): Row =
    Row(Long.box(id), v.map(_.toFloat))

  // Bucket "1111" (every odd dim > its even neighbor): a trio of
  // near-identical vectors + one orthogonal-ish vector; a zero vector;
  // and a near-copy of the trio shape in bucket "0111" (first pair
  // swapped).
  private lazy val semVecs = df("vec_id BIGINT, embedding ARRAY<FLOAT>",
    vecRow(1, 2, 1, 2, 1, 2, 1, 2, 1.0),
    vecRow(2, 2, 1, 2, 1, 2, 1, 2, 1.1),
    vecRow(3, 2, 1, 2, 1, 2, 1, 2, 0.9),
    vecRow(4, 1, -2, 1, -2, 1, -2, 1, -2),
    vecRow(5, 0, 0, 0, 0, 0, 0, 0, 0),
    vecRow(6, 1, 2, 2, 1, 2, 1, 2, 1))

  test("semDedup: prunes within-cluster near-dups, keeps one representative") {
    val out = Dedup.semDedup(semVecs, "vec_id", "embedding",
      graft.operators.Similarity.defaultPairs, eps = 0.5)
    val byId = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // zero vector excluded entirely
    assert(!byId.contains(5L))
    // orthogonal vector (cos ~0 to the trio) survives in its bucket
    assert(byId.contains(4L))
    // exactly one of the near-identical trio survives
    assert(Seq(1L, 2L, 3L).count(byId.contains) === 1)
    // the cross-bucket near-copy survives: pruning is cluster-scoped
    // (cos(v6, v1) ≈ 0.95 ≥ eps, but v6 lives in bucket "0111")
    assert(byId.get(6L) === Some("0111"))
  }

  test("semDedup keep-rule: survivor is the least-like-centroid member") {
    val out = Dedup.semDedup(semVecs, "vec_id", "embedding",
      graft.operators.Similarity.defaultPairs, eps = 0.5)
    val survivors = out.collect().map(_.getLong(0)).toSet
    // Independent recompute: cluster "1111" = {1,2,3,4}; the trio all
    // near-dup each other, none near-dups 4; survivor of the trio must
    // be its min-(sim_centroid, id) member by the dominance rule.
    def v(r: Row): Array[Double] = r.getSeq[Float](1).map(_.toDouble).toArray
    val m = semVecs.collect().map(r => r.getLong(0) -> v(r)).toMap
    val cluster = Seq(1L, 2L, 3L, 4L).map(m)
    val cent = Array.tabulate(8)(i =>
      math.rint(cluster.map(_(i)).sum / cluster.size * 1e9) / 1e9)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val trioBest = Seq(1L, 2L, 3L).minBy(id => (cos(m(id), cent), id))
    assert(survivors.intersect(Set(1L, 2L, 3L)) === Set(trioBest))
  }

  test("semDedup: eps above all pair similarities keeps everything") {
    val out = Dedup.semDedup(semVecs, "vec_id", "embedding",
      graft.operators.Similarity.defaultPairs, eps = 0.9999)
    // all but the zero vector survive (trio cosines ~0.9997)
    assert(out.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L, 6L))
  }

  test("semDedup: hot-cluster guard skips the quadratic stage, keeps members") {
    // Cluster "1111" holds 4 members (the trio + the orthogonal v4);
    // cap it at 3: pair generation must be SKIPPED for that cluster —
    // every member survives verbatim — while the under-cap cluster
    // "0111" (v6 alone) is untouched. The guard must never delete data.
    val out = Dedup.semDedup(semVecs, "vec_id", "embedding",
      graft.operators.Similarity.defaultPairs, eps = 0.5, maxCluster = 3)
    assert(out.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L, 6L))
    // And with the cap above the cluster size, dedup applies as normal.
    val normal = Dedup.semDedup(semVecs, "vec_id", "embedding",
      graft.operators.Similarity.defaultPairs, eps = 0.5, maxCluster = 4)
    assert(Seq(1L, 2L, 3L).count(
      normal.collect().map(_.getLong(0)).toSet) === 1)
  }

  test("exactSubstringDedup: token-exact spans, corpus-first keeper, self-repeats") {
    import graft.operators.Dedup
    val boiler = "terms of service apply to all users of this site"  // 10 toks
    val d = df("doc_id BIGINT, text STRING",
      Row(Long.box(1), s"alpha beta $boiler gamma delta"),
      Row(Long.box(2), s"epsilon $boiler zeta"),               // cross-doc dup
      Row(Long.box(3), "one two three four five one two three four five"), // self-repeat
      Row(Long.box(4), "totally unique words nobody else uses anywhere at all"),
      Row(Long.box(5), null))
    val out = Dedup.exactSubstringDedup(d, "doc_id", "text", minTokens = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    // Doc 1 is the corpus-first owner of the boilerplate: kept verbatim.
    assert(out(1L) == (s"alpha beta $boiler gamma delta", 0, 0, 14))
    // Doc 2 loses EXACTLY the 10 boilerplate tokens — token-exact
    // boundaries, the unique neighbors survive untouched (the property
    // winnowing span removal cannot give).
    assert(out(2L) == ("epsilon zeta", 1, 10, 12))
    // Self-repeat: the second copy of the 5-token run goes, first stays.
    assert(out(3L) == ("one two three four five", 1, 5, 10))
    assert(out(4L)._1.startsWith("totally unique") && out(4L)._2 == 0)
    assert(out(5L) == ((null, 0, 0, 0)), "null body passes through")

    // Boundary: a duplicated run of exactly minTokens-1 tokens is NOT
    // removed; exactly minTokens is.
    val b = df("doc_id BIGINT, text STRING",
      Row(Long.box(1), "p q r s t u v w"),
      Row(Long.box(2), "x p q r s y"),          // 4-token overlap only
      Row(Long.box(3), "z p q r s t y"))        // 5-token overlap
    val ob = Dedup.exactSubstringDedup(b, "doc_id", "text", minTokens = 5)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(3))).toMap
    assert(ob(2L) == ("x p q r s y", 0), "run shorter than L survives")
    assert(ob(3L) == ("z y", 5), "run of exactly L is excised")

    // Fusion: overlapping windows from ONE long duplicated run merge
    // into a single maximal span (here 7 duplicated tokens -> 3
    // overlapping 5-windows -> one span of 7).
    val f = df("doc_id BIGINT, text STRING",
      Row(Long.box(1), "a1 a2 a3 a4 a5 a6 a7"),
      Row(Long.box(2), s"lead a1 a2 a3 a4 a5 a6 a7 tail"))
    val of = Dedup.exactSubstringDedup(f, "doc_id", "text", minTokens = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    assert(of(2L) == (("lead tail", 1, 7)))
  }

  test("exactSubstringDedup == plain-Scala reference on adversarial random corpora") {
    import graft.operators.Dedup
    // 5-word vocab × short docs = dense window collisions: overlapping
    // marks, self-repeats, cross-doc keepers and full gutting all occur,
    // exercising the fusion/rebuild logic far harder than real text.
    def reference(docsSeq: Seq[(Long, String)], l: Int)
        : Map[Long, (String, Int, Int, Int)] = {
      val occ = for {
        (id, t) <- docsSeq
        toks = t.split(" ", -1).toSeq
        i <- 0 to toks.length - l
      } yield (toks.slice(i, i + l).mkString(" "), id, i + 1)
      val byW = occ.groupBy(_._1)
      val marked = occ.filter { case (w, id, p) =>
        val all = byW(w)
        all.size > 1 && all.map(o => (o._2, o._3)).min != ((id, p))
      }.map { case (_, id, p) => (id, p) }.toSet
      docsSeq.map { case (id, t) =>
        val toks = t.split(" ", -1).toSeq
        val covered = Array.fill(toks.length + 2)(false)
        for (p <- 1 to toks.length; if marked.contains((id, p));
             k <- p until math.min(p + l, toks.length + 1)) covered(k) = true
        val kept = (1 to toks.length).filterNot(covered(_)).map(i => toks(i - 1))
        val nSpans = (1 to toks.length).count(i => covered(i) && !covered(i - 1))
        val removed = (1 to toks.length).count(covered(_))
        id -> (kept.mkString(" "), nSpans, removed, toks.length)
      }.toMap
    }
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e")
    for (trial <- 1 to 5) {
      val docsSeq = (1L to 12L).map(i => i ->
        (1 to (3 + rnd.nextInt(15)))
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val l = 2 + rnd.nextInt(3)
      val d = df("doc_id BIGINT, text STRING",
        docsSeq.map { case (i, t) => Row(Long.box(i), t) }: _*)
      val got = Dedup.exactSubstringDedup(d, "doc_id", "text", l).collect()
        .map(r => r.getLong(0) ->
          (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
      assert(got == reference(docsSeq, l), s"trial $trial l=$l docs=$docsSeq")
    }
  }

  test("exactSubstringDedup conservation on the corpus: kept + removed == orig") {
    import graft.operators.Dedup
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val out = Dedup.exactSubstringDedup(docs, "doc_id", "text", minTokens = 4)
    assert(out.count() == docs.count(), "every doc re-emits")
    val bad = out.filter(
      (when(col("text_clean") === "", lit(0))
        .otherwise(size(split(col("text_clean"), " ")))
        + col("removed_tokens")) =!= col("orig_tokens"))
    assert(bad.count() == 0,
      "token conservation: kept + removed must equal original everywhere")
    // The signal is real on this corpus: something was removed, and at
    // least one doc survived untouched.
    val stats = out.agg(sum(col("removed_tokens")),
      sum(when(col("n_spans") === 0, 1).otherwise(0))).head()
    assert(stats.getLong(0) > 0 && stats.getLong(1) > 0)
  }

  test("windowIndex: incremental dedup == flat; exactly-once; torn append; frozen geometry") {
    import graft.operators.Dedup
    val boiler = "terms of service apply to all users here"
    val corpusA = df("doc_id BIGINT, text STRING",
      Row(Long.box(1), s"alpha beta $boiler gamma"),
      Row(Long.box(2), "one two three four five six seven"))
    val corpusB = df("doc_id BIGINT, text STRING",
      Row(Long.box(3), "eight nine ten eleven twelve thirteen"))
    val incoming = df("doc_id BIGINT, text STRING",
      Row(Long.box(10), s"lead $boiler tail"),                  // corpus hit
      Row(Long.box(11), "one two three four five extra words"), // hit in doc 2
      Row(Long.box(12), "rep pe at rep2 rep pe at rep2 x"),     // pure self-dup? no: 4-windows
      Row(Long.box(13), "nothing shared with anyone anywhere truly"))
    val all = corpusA.union(corpusB).union(incoming)
    // Flat truth: exactSubstringDedup over everything, incoming rows.
    val flat = Dedup.exactSubstringDedup(all, "doc_id", "text", minTokens = 4)
      .filter(col("doc_id") >= 10)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    val p = tempDir("winidx") + "/index"
    Dedup.windowIndexWrite(corpusA, "doc_id", "text", minTokens = 4, p)
    Dedup.windowIndexAppend(corpusB, "doc_id", "text", p, "b1")
    def probe() = Dedup
      .incrementalExactSubstringDedup(spark, p, incoming, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(probe() == flat,
      "incremental dedup against build+append must equal the flat corpus run")
    // Exactly-once per batch id.
    intercept[IllegalArgumentException] {
      Dedup.windowIndexAppend(corpusB, "doc_id", "text", p, "b1")
    }
    // Torn append (digest rows on disk, no ledger row) is invisible;
    // the retry replaces the orphans and then counts.
    val extra = df("doc_id BIGINT, text STRING",
      Row(Long.box(4), "lead x y z w tail end marker")) // shares "lead"? single token only
    val before = probe()
    spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row("deadbeefdeadbeefdeadbeefdeadbeef")),
      org.apache.spark.sql.types.StructType.fromDDL("dig STRING"))
      .withColumn("shard", lit(0L)).withColumn("batch", lit("bT"))
      .write.mode("append").partitionBy("shard", "batch").parquet(p)
    assert(probe() == before, "uncommitted digest rows must be invisible")
    Dedup.windowIndexAppend(extra, "doc_id", "text", p, "bT")
    assert(probe() == before,
      "the retried batch shares no 4-window with incoming — probe unchanged")
    // Frozen geometry: the ledger's min_tokens drives probes, so an
    // incoming batch is always hashed with the build's width.
    val meta = spark.read.parquet(p + "__meta")
    assert(meta.select("min_tokens").distinct().head().getInt(0) == 4)
    // Compaction folds committed batches, GC's orphans, probes unchanged.
    spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row("0badc0de0badc0de0badc0de0badc0de")),
      org.apache.spark.sql.types.StructType.fromDDL("dig STRING"))
      .withColumn("shard", lit(1L)).withColumn("batch", lit("bOrphan"))
      .write.mode("append").partitionBy("shard", "batch").parquet(p)
    Dedup.windowIndexCompact(spark, p)
    assert(probe() == before, "compaction must not change probe results")
    assert(spark.read.parquet(p).select("batch").distinct().collect()
      .map(_.getString(0).toString).toSeq == Seq("build"),
      "everything folds under batch=build")
    assert(!java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      .anyMatch(q => q.toString.contains("batch=bOrphan")),
      "compaction must drop uncommitted orphan digests")
  }

  test("dropDuplicatedParagraphs: corpus-wide keep-first, blanks kept, nulls pass") {
    val d = df("doc_id BIGINT, text STRING",
      Row(Long.box(1), "alpha\nbeta\n\ngamma"), // first owner of all three
      Row(Long.box(2), "beta\ndelta\nalpha"),   // loses beta+alpha, keeps delta
      Row(Long.box(3), "delta\n  \ndelta"),     // loses both deltas; blank kept
      Row(Long.box(4), null))
    val out = Dedup.dropDuplicatedParagraphs(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: everything first-seen, blank line preserved verbatim
    assert(out(1L) == (("alpha\nbeta\n\ngamma", 4L, 0L)))
    // doc 2: beta and alpha already owned by doc 1
    assert(out(2L) == (("delta", 3L, 2L)))
    // doc 3: both deltas owned by doc 2 (earlier id); whitespace-only
    // paragraph is structure — kept, never deduped
    assert(out(3L) == (("  ", 3L, 2L)))
    // null body passes through untouched with zero stats
    assert(out(4L) == ((null, 0L, 0L)))
    // within ONE doc the rule also applies: second copy drops
    val self = Dedup.dropDuplicatedParagraphs(
      df("doc_id BIGINT, text STRING", Row(Long.box(9), "x\ny\nx")),
      "doc_id", "text").collect()(0)
    assert(self.getString(1) == "x\ny" && self.getLong(3) == 1L)
    // custom delimiter
    val pipe = Dedup.dropDuplicatedParagraphs(
      df("doc_id BIGINT, text STRING", Row(Long.box(1), "a|b"),
        Row(Long.box(2), "b|c")), "doc_id", "text", "|")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pipe == Map(1L -> "a|b", 2L -> "c"))
  }
}
