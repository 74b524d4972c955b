package graft

import graft.operators.{IndexCommit, Similarity}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private def vecs = df("vec_id BIGINT, embedding ARRAY<FLOAT>",
    Row(Long.box(1), Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    Row(Long.box(2), Seq(0.0f, 1.0f, 0.0f, 0.0f)),
    Row(Long.box(3), Seq(1.0f, 1.0f, 0.0f, 0.0f)),
    Row(Long.box(4), Seq(-1.0f, 0.0f, 0.0f, 0.0f)))

  test("dot / cosine on known vectors") {
    val q = array(lit(1.0f), lit(0.0f), lit(0.0f), lit(0.0f))
    val out = vecs.select(col("vec_id"),
        Similarity.cosine(col("embedding"), q).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 1.0)
    assert(out(2L) == 0.0)
    assert(math.abs(out(3L) - 1.0 / math.sqrt(2)) < 1e-12)
    assert(out(4L) == -1.0)
  }

  test("bruteForceTopK ranks by cosine desc with id tiebreak") {
    val q = array(lit(1.0f), lit(0.0f), lit(0.0f), lit(0.0f))
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, 3)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 3L, 2L))
  }

  test("signBucket is deterministic and annTopK returns a bucket-pruned subset") {
    val pairs = Seq((1, 2), (3, 4))
    val q = array(lit(1.0f), lit(0.0f), lit(0.0f), lit(0.0f)) // bucket "10"
    val bucketed = Similarity.signLshBuckets(vecs, "embedding", pairs)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(bucketed(1L) == "10") // 1>0, 0==0
    val ann = Similarity.annTopK(vecs, "vec_id", "embedding", q, 10, pairs)
      .collect().map(_.getLong(0)).toSet
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(ann.subsetOf(brute))
    assert(ann.contains(1L), "same-bucket exact match must be found")
  }

  private def emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
  private def embQueries = emb.filter(col("vec_id") % 97 === 0)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  test("batchAnnTopK plan: bucket hash join + bounded heaps, no nested loop, no sort") {
    val out = Similarity.batchAnnTopK(emb, embQueries,
      "vec_id", "embedding", "qid", "qvec", k = 3)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"bucketed retrieval must never plan an all-pairs nested loop:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"),
      s"queries must reach candidates via a bucket-key hash join:\n$plan")
    assert(plan.contains("TopKPerGroupFinal") && !plan.contains("Sort"),
      s"per-query cut must run on the bounded-heap plan:\n$plan")
  }

  test("batchAnnTopK without broadcast: shuffle equality join on the bucket key") {
    // The |Q| ≫ broadcast-threshold path: dropping the hint must yield
    // a SHUFFLE equality join on the bucket key — never a broadcast
    // exchange (that's the OOM at scale) and never a nested loop.
    // Auto-broadcast is disabled so the tiny fixture can't be planner-
    // promoted back into the shape we're ruling out.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = Similarity.batchAnnTopK(emb, embQueries,
        "vec_id", "embedding", "qid", "qvec", k = 3,
        broadcastQueries = false)
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"non-broadcast retrieval must stay an equality join:\n$plan")
      assert(!plan.contains("BroadcastExchange"),
        s"no broadcast anywhere — the query side is assumed too large:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffle equality join on the bucket key:\n$plan")
      assert(plan.contains("__qbucket"),
        s"the shuffle join must key on the probe bucket:\n$plan")
      // Same results as the broadcast shape, just a different exchange.
      val broadcastRows = Similarity.batchAnnTopK(emb, embQueries,
        "vec_id", "embedding", "qid", "qvec", k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val shuffleRows = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(shuffleRows == broadcastRows,
        "join strategy must not change retrieval results")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("probeBuckets enumerates exactly the Hamming ball, no duplicates") {
    val all = (0 until 16).map(i =>
      Integer.toBinaryString(16 | i).substring(1)) // all 4-bit strings
    def hamming(a: String, b: String): Int = a.zip(b).count(p => p._1 != p._2)
    val one = spark.range(1).select(lit("0101").as("b"))
    for (h <- 0 to 2) {
      val probes = one.select(explode(
          Similarity.probeBuckets(col("b"), 4, h)).as("p"))
        .collect().map(_.getString(0)).toSeq
      val expected = all.filter(hamming(_, "0101") <= h)
      assert(probes.toSet == expected.toSet, s"h=$h")
      assert(probes.length == probes.distinct.length,
        s"h=$h produced duplicate probes: $probes")
    }
  }

  test("multi-probe batchAnnTopK: hash-join plan, Hamming-bounded buckets, pointwise-better ranks") {
    val out1 = Similarity.batchAnnTopK(emb, embQueries,
      "vec_id", "embedding", "qid", "qvec", k = 3, probeHamming = 1)
    val plan = out1.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"multi-probe must stay an equality join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)

    val buckets = Similarity.signLshBuckets(emb, "embedding")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    def hamming(a: String, b: String): Int = a.zip(b).count(p => p._1 != p._2)
    val rows1 = out1.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows1.nonEmpty)
    rows1.foreach { case (qid, vid, _) =>
      assert(hamming(buckets(qid), buckets(vid)) <= 1,
        s"neighbor $vid of query $qid is outside the Hamming-1 ball")
    }
    // h=1's candidate set is a strict superset of h=0's, so for every
    // query the sorted cosine list at h=1 dominates h=0 pointwise.
    val out0 = Similarity.batchAnnTopK(emb, embQueries,
        "vec_id", "embedding", "qid", "qvec", k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val by0 = out0.groupBy(_._1).map { case (q, v) =>
      q -> v.map(_._2).sorted.reverse }
    val by1 = rows1.groupBy(_._1).map { case (q, v) =>
      q -> v.map(_._3).sorted.reverse }
    by0.foreach { case (q, c0) =>
      val c1 = by1(q)
      assert(c1.length >= c0.length, s"query $q lost neighbors going h0→h1")
      c0.zip(c1).foreach { case (s0, s1) =>
        assert(s1 >= s0, s"query $q rank degraded h0→h1: $s0 > $s1")
      }
    }
  }

  test("batchAnnTopK: every neighbor shares its query's bucket; ranks match the gate query") {
    val out = Similarity.batchAnnTopK(emb, embQueries,
      "vec_id", "embedding", "qid", "qvec", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.nonEmpty)
    val buckets = Similarity.signLshBuckets(emb, "embedding")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    out.foreach { case (qid, vid) =>
      assert(buckets(qid) == buckets(vid),
        s"neighbor $vid of query $qid crossed buckets")
      assert(qid != vid, "a query must not retrieve itself")
    }
    // On THIS corpus the double-scored operator and the decimal-exact
    // gate restatement (q48) retrieve the same neighbor sets. That is
    // a property of the data, not an invariant: a rank-3/4 pair whose
    // exact cosines straddle a 1e-9 rounding tie is cut by vec_id in
    // the gate but by magnitude in the operator. The fixture has no
    // such pair, so this pins the two paths against silent drift here.
    val gate = SparkEntry.queries("q48_batch_ann_bucketed")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == gate)
  }

  test("quantizeInt8: per-element error <= scale/2, clip range, zero branch") {
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val rows = Similarity.quantizeInt8(emb, "embedding")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Float](r.fieldIndex("embedding"))
      val sc = r.getDouble(r.fieldIndex("scale"))
      val q = r.getSeq[Byte](r.fieldIndex("qvec"))
      assert(q.length == v.length)
      // Round-to-nearest bound: |v - q*scale| <= scale/2 (+1 ulp slack),
      // and the code range is symmetric int8 without -128.
      v.zip(q).foreach { case (vi, qi) =>
        assert(math.abs(qi.toInt) <= 127)
        assert(math.abs(vi.toDouble - qi.toDouble * sc) <= sc / 2 * (1 + 1e-12),
          s"dim error exceeds scale/2 for v=$vi q=$qi scale=$sc")
      }
    }
    // Zero vector: explicit all-zeros branch, scale 0.
    val z = Similarity.quantizeInt8(
      df("vec_id BIGINT, embedding ARRAY<FLOAT>",
        Row(Long.box(1), Seq(0.0f, 0.0f))), "embedding").head()
    assert(z.getDouble(z.fieldIndex("scale")) == 0.0)
    assert(z.getSeq[Byte](z.fieldIndex("qvec")) == Seq(0.toByte, 0.toByte))
    // Map-side only: no exchange in the plan.
    val plan = Similarity.quantizeInt8(emb, "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"quantization must not shuffle:\n$plan")
  }

  test("PQ: codebook shape, argmin encoding, exact centroid roundtrip, ADC") {
    // 8-dim vectors, m=2 subspaces of 4 dims. Two well-separated
    // groups per subspace so the sign-seeded buckets are stable.
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val d = df("vec_id BIGINT, embedding ARRAY<FLOAT>",
      Row(Long.box(1), v(9, 0, 1, 0, 0, 8, 0, 1)),
      Row(Long.box(2), v(8, 0, 2, 0, 0, 9, 0, 2)),
      Row(Long.box(3), v(0, 9, 0, 1, 7, 0, 1, 0)),
      Row(Long.box(4), v(0, 8, 0, 2, 9, 0, 2, 0)))
    val cb = Similarity.pqCodebook(d, "embedding", m = 2, subDim = 4)
      .localCheckpoint(true)
    val cbRows = cb.collect()
    // One centroid per populated (sub, bucket); subDim-length slices.
    assert(cbRows.forall(_.getSeq[Float](2).length == 4))
    assert(cbRows.map(r => (r.getInt(0), r.getString(1))).distinct.length
      == cbRows.length)
    val codes = Similarity.pqEncode(d, "vec_id", "embedding", cb,
      m = 2, subDim = 4).localCheckpoint(true)
    // Exactly one code per (vector, subspace).
    assert(codes.count() == 8)
    assert(codes.groupBy("vec_id", "sub").count()
      .filter(col("count") =!= 1).count() == 0)
    // Encoding is the L2 argmin: verify against a brute-force check.
    val cbM = cbRows.map(r =>
      (r.getInt(0), r.getString(1)) -> r.getSeq[Float](2)).toMap
    val vecsM = d.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1)).toMap
    codes.collect().foreach { r =>
      val (id, sub, cl) = (r.getLong(0), r.getInt(1), r.getString(2))
      val sv = vecsM(id).slice(sub * 4, sub * 4 + 4).map(_.toDouble)
      def l2(c: Seq[Float]) =
        sv.zip(c.map(_.toDouble)).map { case (a, b) => (a - b) * (a - b) }.sum
      val best = cbM.collect { case ((s, c), cent) if s == sub =>
        (l2(cent), c) }.min
      assert(best._2 == cl, s"vec $id sub $sub: got $cl, argmin ${best._2}")
    }
    // Reconstruction: recon length = dim, and docs 1/2 (same buckets)
    // share a reconstruction — the codebook mean of their group.
    val recon = Similarity.pqReconstruct(codes, cb, "vec_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(recon.values.forall(_.length == 8))
    assert(recon(1L) == recon(2L) && recon(3L) == recon(4L))
    assert(recon(1L) != recon(3L))
    // ADC: a query aligned with group {1,2} ranks those two first.
    val top = Similarity.pqAdcTopK(codes, cb, "vec_id",
      v(1, 0, 0, 0, 0, 1, 0, 0), k = 2).collect().map(_.getLong(0)).toSet
    assert(top == Set(1L, 2L))
    // Table-ADC ≡ reconstruct-ADC: the LUT form (m lookups + adds per
    // candidate) must score identically to reconstruct-then-dot. The
    // fixture values (and so the codebook means) are dyadic rationals,
    // so both accumulation orders are exact — equality is bitwise.
    val q0 = v(1, 0, 0.5, 0, 0, 1, 0, 0.25)
    val lutScores = Similarity.pqAdcTopK(codes, cb, "vec_id", q0, k = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val reconScores = Similarity.pqReconstruct(codes, cb, "vec_id")
      .select(col("vec_id"), Similarity.dotNative(col("recon"),
        array(q0.map(lit): _*)).as("score"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(lutScores == reconScores)
    // …and the LUT plan must not materialize a reconstruction array.
    val lutPlan = Similarity.pqAdcTopK(codes, cb, "vec_id", q0, k = 4)
      .queryExecution.optimizedPlan.toString
    assert(!lutPlan.contains("recon"), lutPlan)
    // Persisted IVF-PQ: probing ALL clusters reproduces the in-memory
    // ADC ranking exactly (the index stores codes, nothing else), and
    // the probed read is partition-pruned.
    val cents = Similarity.centroids(
      d.selectExpr("vec_id % 2 as cluster", "embedding"),
      "cluster", "embedding")
    val ipath = tempDir("ivfpq") + "/index"
    Similarity.ivfWritePq(d, "vec_id", "embedding", cents, cb,
      m = 2, subDim = 4, ipath)
    val q1 = v(1, 0, 0, 0, 0, 1, 0, 0)
    val fromIndex = Similarity.ivfSearchPq(spark, ipath, "vec_id",
        cents, cb, q1, k = 4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inMemory = Similarity.pqAdcTopK(codes, cb, "vec_id", q1, k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromIndex == inMemory,
      "full-probe persisted search must equal the in-memory ADC ranking")
    // nprobe=1 scans one cluster partition: results ⊆ the members of
    // a single coarse cluster as the index itself records them.
    val membership = spark.read.parquet(ipath)
      .select("vec_id", "cluster").distinct().collect()
      .groupBy(_.get(1)).view
      .mapValues(_.map(_.getLong(0)).toSet).toMap
    val pruned = Similarity.ivfSearchPq(spark, ipath, "vec_id",
        cents, cb, q1, k = 4, nprobe = 1)
      .collect().map(_.getLong(0)).toSet
    assert(pruned.nonEmpty &&
      membership.values.exists(m => pruned.subsetOf(m)),
      s"one-probe results $pruned must sit inside one cluster: $membership")
    // Batch ADC agrees with the single-query path for every query.
    val queries = df("qid BIGINT, qvec ARRAY<FLOAT>",
      Row(Long.box(100), v(1, 0, 0, 0, 0, 1, 0, 0)),
      Row(Long.box(200), v(0, 1, 0, 0, 1, 0, 0, 0)))
    val batch = Similarity.pqAdcBatchTopK(codes, cb, "vec_id",
        queries, "qid", "qvec", k = 2)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSet).toMap
    queries.collect().foreach { q =>
      val single = Similarity.pqAdcTopK(codes, cb, "vec_id",
          q.getSeq[Float](1), k = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(batch(q.getLong(0)) == single,
        s"batch and single ADC disagree for query ${q.getLong(0)}")
    }
    // Batch search over the persisted index: full-probe batch results
    // must match the single-query persisted search per query (minus
    // self-exclusion, which the batch applies and the single does
    // not), and the LUT and codebook-inline score paths must agree.
    val idxQueries = df("qid BIGINT, qvec ARRAY<FLOAT>",
      Row(Long.box(1), v(9, 0, 1, 0, 0, 8, 0, 1)),
      Row(Long.box(3), v(0, 9, 0, 1, 7, 0, 1, 0)))
    def batchPq(lut: Boolean) =
      Similarity.ivfSearchBatchPq(spark, ipath, "vec_id", cents, cb,
          idxQueries, "qid", "qvec", k = 2, nprobe = 2, broadcastLut = lut)
        .collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSet).toMap
    val viaLut = batchPq(lut = true)
    assert(viaLut == batchPq(lut = false),
      "LUT and codebook-inline batch PQ scoring must agree")
    idxQueries.collect().foreach { q =>
      val single = Similarity.ivfSearchPq(spark, ipath, "vec_id", cents, cb,
          q.getSeq[Float](1), k = 3, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
        .filter(_._1 != q.getLong(0)).take(2).toSet
      assert(viaLut(q.getLong(0)) == single,
        s"batch and single persisted PQ search disagree for ${q.getLong(0)}")
    }
  }

  // ---- incremental index ingest ---------------------------------------

  private def tmpIndex(tag: String): String =
    tempDir(s"graft_spec_ivf_$tag") + "/index"

  test("ivfAppend: search-after-append == search-after-full-rebuild (float/SQ8/PQ)") {
    val e = emb.select("vec_id", "embedding")
    val half1 = e.filter(col("vec_id") % 2 === 0)
    val half2 = e.filter(col("vec_id") % 2 === 1)
    // Frozen coarse quantizer trained on the FIRST half only — the
    // append contract is that routing never changes after build.
    val cents = Similarity.centroids(
      Similarity.signLshBuckets(half1, "embedding")
        .select(col("bucket").as("cluster"), col("embedding")),
      "cluster", "embedding").localCheckpoint(true)
    val q = e.filter(col("vec_id") === 3).head().getSeq[Float](1)

    // float layout
    val pApp = tmpIndex("app_f"); val pFull = tmpIndex("full_f")
    Similarity.ivfWrite(half1, "vec_id", "embedding", cents, pApp)
    Similarity.ivfAppend(half2, "vec_id", "embedding", cents, pApp, "b1")
    Similarity.ivfWrite(e, "vec_id", "embedding", cents, pFull)
    def hits(p: String) =
      Similarity.ivfSearch(spark, p, "vec_id", "embedding", cents, q,
        k = 20, nprobe = 2).collect().map(_.getLong(0)).toSeq
    assert(hits(pApp) == hits(pFull),
      "appended float index must search identically to a full rebuild")

    // SQ8 layout
    val pApp8 = tmpIndex("app_s"); val pFull8 = tmpIndex("full_s")
    Similarity.ivfWriteSq8(half1, "vec_id", "embedding", cents, pApp8)
    Similarity.ivfAppendSq8(half2, "vec_id", "embedding", cents, pApp8, "b1")
    Similarity.ivfWriteSq8(e, "vec_id", "embedding", cents, pFull8)
    def hits8(p: String) =
      Similarity.ivfSearchSq8(spark, p, "vec_id", cents, q,
        k = 20, nprobe = 2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hits8(pApp8) == hits8(pFull8),
      "appended SQ8 index must search identically to a full rebuild")

    // PQ layout: codebook frozen at build time too.
    val cb = Similarity.pqCodebook(half1, "embedding", m = 16, subDim = 4)
      .localCheckpoint(true)
    val pAppP = tmpIndex("app_p"); val pFullP = tmpIndex("full_p")
    Similarity.ivfWritePq(half1, "vec_id", "embedding", cents, cb, 16, 4, pAppP)
    Similarity.ivfAppendPq(half2, "vec_id", "embedding", cents, cb, 16, 4,
      pAppP, "b1")
    Similarity.ivfWritePq(e, "vec_id", "embedding", cents, cb, 16, 4, pFullP)
    def hitsP(p: String) =
      Similarity.ivfSearchPq(spark, p, "vec_id", cents, cb, q,
        k = 20, nprobe = 2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hitsP(pAppP) == hitsP(pFullP),
      "appended PQ index must search identically to a full rebuild")

    // RESIDUAL-encoded PQ layout (the FAISS production recipe): coarse
    // centroids AND residual codebook both frozen at build time.
    val cbr = Similarity.pqResidualCodebook(half1, "vec_id", "embedding",
      cents, m = 16, subDim = 4).localCheckpoint(true)
    val pAppR = tmpIndex("app_r"); val pFullR = tmpIndex("full_r")
    Similarity.ivfWritePqResidual(half1, "vec_id", "embedding", cents, cbr,
      16, 4, pAppR)
    Similarity.ivfAppendPqResidual(half2, "vec_id", "embedding", cents, cbr,
      16, 4, pAppR, "b1")
    Similarity.ivfWritePqResidual(e, "vec_id", "embedding", cents, cbr,
      16, 4, pFullR)
    def hitsR(p: String) =
      Similarity.ivfSearchPqResidual(spark, p, "vec_id", cents, cbr, q,
        k = 20, nprobe = 2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hitsR(pAppR) == hitsR(pFullR),
      "appended residual-PQ index must search identically to a full rebuild")
    // the append recorded its tightness row in the drift ledger
    val statRows = spark.read.parquet(pAppR + "_stats").collect()
      .map(_.getString(0)).toSeq
    assert(statRows == Seq("b1"))

    // compaction merges the float index's append debris: fewer files,
    // identical hits, ledger untouched
    def files(p: String) = java.nio.file.Files
      .walk(java.nio.file.Paths.get(p))
      .filter(f => f.toString.endsWith(".parquet")).count()
    val filesBefore = files(pApp)
    val hitsBefore = hits(pApp)
    Similarity.ivfCompact(spark, pApp)
    assert(files(pApp) < filesBefore,
      s"compaction must reduce file count ($filesBefore -> ${files(pApp)})")
    assert(hits(pApp) == hitsBefore,
      "compaction must not change search results")
  }

  test("ivfDelete: delete ≡ rebuild-without (float/SQ8/PQ); torn delete; compact") {
    val e = emb.select("vec_id", "embedding")
    val cents = Similarity.centroids(
      Similarity.signLshBuckets(e, "embedding")
        .select(col("bucket").as("cluster"), col("embedding")),
      "cluster", "embedding").localCheckpoint(true)
    val q = e.filter(col("vec_id") === 3).head().getSeq[Float](1)
    val victims = e.filter(col("vec_id") % 5 === 0).select("vec_id")
    val retained = e.filter(col("vec_id") % 5 =!= 0)

    // float layout: delete then search == rebuild without the victims
    val p = tmpIndex("del_f"); val pRef = tmpIndex("del_f_ref")
    Similarity.ivfWrite(e, "vec_id", "embedding", cents, p)
    Similarity.ivfDelete(spark, p, victims, "d1")
    Similarity.ivfWrite(retained, "vec_id", "embedding", cents, pRef)
    def hits(path: String) =
      Similarity.ivfSearch(spark, path, "vec_id", "embedding", cents, q,
        k = 20, nprobe = 2).collect().map(_.getLong(0)).toSeq
    assert(hits(p) == hits(pRef),
      "tombstone delete must search identically to a rebuild without")
    // exactly-once per delete batch id
    intercept[IllegalArgumentException] {
      Similarity.ivfDelete(spark, p, victims, "d1")
    }
    // a second delete batch composes
    Similarity.ivfDelete(spark, p,
      e.filter(col("vec_id") === 7).select("vec_id"), "d2")
    val pRef2 = tmpIndex("del_f_ref2")
    Similarity.ivfWrite(retained.filter(col("vec_id") =!= 7L),
      "vec_id", "embedding", cents, pRef2)
    assert(hits(p) == hits(pRef2))
    // compact removes the bytes and the sidecar; results unchanged
    Similarity.ivfCompact(spark, p)
    assert(hits(p) == hits(pRef2),
      "compaction over tombstones must not change results")
    assert(!new java.io.File(p + "_tombstones").exists(),
      "compaction must drop the tombstone sidecar")
    assert(spark.read.parquet(p)
      .filter(col("vec_id") % 5 === 0 || col("vec_id") === 7L).count() == 0,
      "compaction must physically remove tombstoned vectors")

    // torn delete (tombstones on disk, no ledger row) is invisible;
    // the retry replaces the orphans and commits.
    val pT = tmpIndex("del_torn")
    Similarity.ivfWrite(e, "vec_id", "embedding", cents, pT)
    val before = hits(pT)
    df("__id BIGINT", org.apache.spark.sql.Row(Long.box(3)))
      .withColumn("batch", lit("dX")).coalesce(1)
      .write.mode("append").partitionBy("batch").parquet(pT + "_tombstones")
    assert(hits(pT) == before,
      "uncommitted tombstones must be invisible to searches")
    Similarity.ivfDelete(spark, pT,
      e.filter(col("vec_id") === 3).select("vec_id"), "dX")
    val pTRef = tmpIndex("del_torn_ref")
    Similarity.ivfWrite(e.filter(col("vec_id") =!= 3L), "vec_id",
      "embedding", cents, pTRef)
    assert(hits(pT) == hits(pTRef))
    // drift ledger hides the del: history rows
    assert(!Similarity.ivfStats(spark, pT).collect()
      .exists(_.getString(0).startsWith("del:")))

    // quantized layouts route through the same live-read: one check each
    val p8 = tmpIndex("del_s"); val p8Ref = tmpIndex("del_s_ref")
    Similarity.ivfWriteSq8(e, "vec_id", "embedding", cents, p8)
    Similarity.ivfDelete(spark, p8, victims, "d1")
    Similarity.ivfWriteSq8(retained, "vec_id", "embedding", cents, p8Ref)
    def hits8(path: String) =
      Similarity.ivfSearchSq8(spark, path, "vec_id", cents, q,
        k = 20, nprobe = 2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hits8(p8) == hits8(p8Ref))
    val cb = Similarity.pqCodebook(e, "embedding", m = 16, subDim = 4)
      .localCheckpoint(true)
    val pP = tmpIndex("del_p"); val pPRef = tmpIndex("del_p_ref")
    Similarity.ivfWritePq(e, "vec_id", "embedding", cents, cb, 16, 4, pP)
    Similarity.ivfDelete(spark, pP, victims, "d1")
    Similarity.ivfWritePq(retained, "vec_id", "embedding", cents, cb, 16, 4,
      pPRef)
    def hitsP(path: String) =
      Similarity.ivfSearchPq(spark, path, "vec_id", cents, cb, q,
        k = 20, nprobe = 2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hitsP(pP) == hitsP(pPRef))

    // The tombstone anti-join must not defeat cluster partition
    // pruning — erasure cannot turn probe reads into full-index scans.
    val plan = Similarity.ivfSearch(spark, pT, "vec_id", "embedding",
        cents, q, k = 20, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"cluster partition filter must survive the tombstone anti-join:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"tombstones must be served via an anti-join:\n$plan")
  }

  test("ivfAppend crash/retry: replace-by-batch, exactly-once ids, orphan GC") {
    val e = emb.select("vec_id", "embedding")
    val half1 = e.filter(col("vec_id") % 2 === 0)
    val half2 = e.filter(col("vec_id") % 2 === 1)
    val cents = Similarity.centroids(
      Similarity.signLshBuckets(half1, "embedding")
        .select(col("bucket").as("cluster"), col("embedding")),
      "cluster", "embedding").localCheckpoint(true)
    val cb = Similarity.pqCodebook(half1, "embedding", m = 16, subDim = 4)
      .localCheckpoint(true)
    val cbr = Similarity.pqResidualCodebook(half1, "vec_id", "embedding",
      cents, m = 16, subDim = 4).localCheckpoint(true)
    val q = e.filter(col("vec_id") === 3).head().getSeq[Float](1)
    // One row per layout: build, append, and a search's (id, score) hits.
    val layouts: Seq[(String, (DataFrame, String) => Unit,
        (DataFrame, String, String) => Unit, String => Seq[Any])] = Seq(
      ("float",
        (v, p) => Similarity.ivfWrite(v, "vec_id", "embedding", cents, p),
        (v, p, b) => Similarity.ivfAppend(v, "vec_id", "embedding", cents, p, b),
        p => Similarity.ivfSearch(spark, p, "vec_id", "embedding", cents, q,
          k = 20, nprobe = 2).collect().map(_.getLong(0)).toSeq),
      ("sq8",
        (v, p) => Similarity.ivfWriteSq8(v, "vec_id", "embedding", cents, p),
        (v, p, b) => Similarity.ivfAppendSq8(v, "vec_id", "embedding", cents,
          p, b),
        p => Similarity.ivfSearchSq8(spark, p, "vec_id", cents, q,
          k = 20, nprobe = 2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq),
      ("pq",
        (v, p) => Similarity.ivfWritePq(v, "vec_id", "embedding", cents, cb,
          16, 4, p),
        (v, p, b) => Similarity.ivfAppendPq(v, "vec_id", "embedding", cents,
          cb, 16, 4, p, b),
        p => Similarity.ivfSearchPq(spark, p, "vec_id", cents, cb, q,
          k = 20, nprobe = 2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq),
      ("pq_residual",
        (v, p) => Similarity.ivfWritePqResidual(v, "vec_id", "embedding",
          cents, cbr, 16, 4, p),
        (v, p, b) => Similarity.ivfAppendPqResidual(v, "vec_id", "embedding",
          cents, cbr, 16, 4, p, b),
        p => Similarity.ivfSearchPqResidual(spark, p, "vec_id", cents, cbr, q,
          k = 20, nprobe = 2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq))
    // An append that died AFTER its payload write but BEFORE its _stats
    // ledger commit: run it, then remove the ledger row it added.
    def torn(p: String)(append: => Unit): Unit = {
      val ledger = new java.io.File(p + "_stats")
      def files = Option(ledger.listFiles()).toSeq.flatten.map(_.getName).toSet
      val before = files
      append
      if (before.isEmpty) org.apache.commons.io.FileUtils.deleteQuietly(ledger)
      else (files -- before).foreach(f => new java.io.File(ledger, f).delete())
    }
    def rows(p: String) = spark.read.parquet(p).count()
    for ((layout, write, append, hits) <- layouts) {
      val p = tmpIndex(s"retry_$layout"); val pFull = tmpIndex(s"retry_full_$layout")
      write(half1, p)
      write(e, pFull)
      torn(p)(append(half2, p, "bT"))
      // Uncommitted vectors are NOT "indexed" to the streaming diff:
      // counting them would make a replay skip them and the retry's
      // orphan delete would then destroy the only copy.
      assert(Similarity.ivfIndexedIds(spark, p, "vec_id").count() ==
        half1.count(), layout)
      // RETRY of the torn batch must not duplicate a single vector:
      // replace-by-batch deletes the orphan dirs first.
      append(half2, p, "bT")
      assert(hits(p) == hits(pFull),
        s"$layout: retried batch must search identically to a clean rebuild")
      assert(rows(p) == rows(pFull),
        s"$layout: retry must leave exactly one copy of every vector")
      // a COMMITTED id is exactly-once, under the type the streaming
      // sinks catch
      intercept[IndexCommit.AlreadyCommittedException] {
        append(half2, p, "bT")
      }
      // compaction garbage-collects a never-retried orphan batch
      torn(p)(append(half2.limit(3), p, "bOrphan"))
      assert(rows(p) > rows(pFull), layout)
      Similarity.ivfCompact(spark, p)
      assert(hits(p) == hits(pFull), layout)
      assert(rows(p) == rows(pFull),
        s"$layout: compaction must drop uncommitted orphan vectors")
    }
  }

  test("ivfCompact crash between swap renames recovers with live tombstones") {
    // The park-then-replace swap (Storage.rewriteInPlace) has a
    // one-rename-wide no-table window: live dir parked at .compact-old,
    // replacement still at .compact-tmp. A crash THERE must be fully
    // recoverable on the next compact run — including when a committed
    // tombstone sidecar is live (sidecar dirs are siblings of the index
    // dir, so the park does not move them; the recovered compact must
    // still fold them away).
    val e = emb.select("vec_id", "embedding")
    val cents = Similarity.centroids(
      Similarity.signLshBuckets(e, "embedding")
        .select(col("bucket").as("cluster"), col("embedding")),
      "cluster", "embedding").localCheckpoint(true)
    val q = e.filter(col("vec_id") === 3).head().getSeq[Float](1)
    def hits(path: String) =
      Similarity.ivfSearch(spark, path, "vec_id", "embedding", cents, q,
        k = 20, nprobe = 2).collect().map(_.getLong(0)).toSeq

    val p = tmpIndex("crash_tomb")
    Similarity.ivfWrite(e, "vec_id", "embedding", cents, p)
    Similarity.ivfDelete(spark, p,
      e.filter(col("vec_id") % 5 === 0).select("vec_id"), "d1")
    val expected = {
      val pRef = tmpIndex("crash_tomb_ref")
      Similarity.ivfWrite(e.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", cents, pRef)
      hits(pRef)
    }
    // Inject the crash state between the two renames: live parked at
    // .compact-old, a half-written tmp in place, NO live dir. The
    // tombstone sidecar stays where the crash left it — live.
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(p),
      new org.apache.hadoop.fs.Path(p + ".compact-old")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(p + ".compact-tmp"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p)))
    assert(fs.exists(new org.apache.hadoop.fs.Path(p + "_tombstones")))
    // Next compact run: recovery restores the parked table, the stale
    // tmp is discarded, and the compact proceeds — tombstones folded,
    // sidecar dropped, search identical to rebuild-without.
    Similarity.ivfCompact(spark, p)
    assert(hits(p) == expected,
      "recovered compact must serve exactly the rebuild-without results")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p + "_tombstones")),
      "recovered compact must still drop the tombstone sidecar")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p + ".compact-old")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(p + ".compact-tmp")),
      "no swap debris may survive a successful recovered compact")
    assert(spark.read.parquet(p)
      .filter(col("vec_id") % 5 === 0).count() == 0,
      "tombstoned vectors must be physically gone after recovery")
  }

  test("ivfStats: drift ledger separates in-distribution from shifted batches") {
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    // Build corpus: tight clusters on the +e1 and +e2 axes — the
    // centroids ARE (near) the axes.
    val build = df("vec_id BIGINT, embedding ARRAY<FLOAT>",
      Row(Long.box(1), v(10, 0, 0, 0, 1, 0, 0, 0)),
      Row(Long.box(2), v(10, 0, 0, 0, 0, 1, 0, 0)),
      Row(Long.box(3), v(0, 10, 0, 0, 1, 0, 0, 0)),
      Row(Long.box(4), v(0, 10, 0, 0, 0, 1, 0, 0)))
    // b1: same distribution. b2: 45-degree vectors no build centroid
    // points at — assignment tightness must visibly drop.
    val b1 = df("vec_id BIGINT, embedding ARRAY<FLOAT>",
      Row(Long.box(11), v(10, 0, 0, 0, 1, 0, 0, 0)),
      Row(Long.box(12), v(0, 10, 0, 0, 0, 1, 0, 0)))
    val b2 = df("vec_id BIGINT, embedding ARRAY<FLOAT>",
      Row(Long.box(21), v(7, 7, 7, 7, 0, 0, 0, 0)),
      Row(Long.box(22), v(7, 7, -7, 7, 0, 0, 0, 0)))
    val cents = Similarity.centroids(
      Similarity.signLshBuckets(build, "embedding")
        .select(col("bucket").as("cluster"), col("embedding")),
      "cluster", "embedding").localCheckpoint(true)
    val p = tmpIndex("drift")
    Similarity.ivfWrite(build, "vec_id", "embedding", cents, p)
    Similarity.ivfRecordBuildStats(build, "vec_id", "embedding", cents, p)
    Similarity.ivfAppend(b1, "vec_id", "embedding", cents, p, "b1")
    Similarity.ivfAppend(b2, "vec_id", "embedding", cents, p, "b2")
    val stats = Similarity.ivfStats(spark, p).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(stats.keySet == Set("build", "b1", "b2"))
    assert(stats("build").getLong(1) == 4 && stats("b1").getLong(1) == 2)
    val driftOf = (b: String) => stats(b).getDouble(4)
    // build row drifts from itself by exactly 0; the in-distribution
    // batch stays within noise of the baseline; the shifted batch is
    // measurably worse — the re-train signal.
    assert(math.abs(driftOf("build")) < 1e-12)
    assert(driftOf("b2") > driftOf("b1") + 0.05,
      s"shifted batch must show drift: ${stats.view.mapValues(_.toSeq).toMap}")
    // And the appended rows are actually searchable (the ledger isn't
    // a side effect of a failed write).
    val got = Similarity.ivfSearch(spark, p, "vec_id", "embedding", cents,
      v(10, 0, 0, 0, 1, 0, 0, 0), k = 3, nprobe = 1)
      .collect().map(_.getLong(0)).toSet
    assert(got.contains(11L))
  }

  test("residual IVF-PQ: exact when residual groups are codebook-pure") {
    import org.apache.spark.sql.Row
    // Two coarse clusters far apart; every member of a cluster carries
    // one of two EXACT residual patterns (duplicated), so the residual
    // codebook's centroids equal the residuals themselves and the ADC
    // score collapses to the exact dot product — the strongest
    // possible correctness pin for the residual path.
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val c1 = v(8, 0, 0, 0, 0, 0, 0, 0)
    val c2 = v(0, 0, 0, 0, 8, 0, 0, 0)
    val cents = df("cluster STRING, centroid ARRAY<FLOAT>",
      Row("a", c1), Row("b", c2))
    val rA = Seq(1.0, 2.0, 0.0, 0.0, 0.0, 0.0, 1.0, 3.0)
    val rB = Seq(-1.0, 0.0, 2.0, 0.0, 1.0, 0.0, 0.0, 0.0)
    def plus(c: Seq[Float], r: Seq[Double]) =
      c.zip(r).map { case (a, b) => (a + b).toFloat }.toSeq
    val rows = Seq(
      1L -> plus(c1, rA), 2L -> plus(c1, rA),
      3L -> plus(c1, rB), 4L -> plus(c1, rB),
      5L -> plus(c2, rA), 6L -> plus(c2, rA),
      7L -> plus(c2, rB), 8L -> plus(c2, rB))
    val vecs = df("vec_id BIGINT, embedding ARRAY<FLOAT>",
      rows.map(r => Row(Long.box(r._1), r._2)): _*)
    // residualVectors: r = v − c exactly.
    val res = Similarity.residualVectors(vecs, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(res(1L).map(_.toDouble) == rA && res(7L).map(_.toDouble) == rB)
    val cb = Similarity.pqResidualCodebook(vecs, "vec_id", "embedding",
      cents, m = 2, subDim = 4)
    val path = tempDir("graft_respq_spec") + "/index"
    Similarity.ivfWritePqResidual(vecs, "vec_id", "embedding", cents, cb,
      m = 2, subDim = 4, path)
    val q = v(9, 1, 1, 0, 2, 0, 0, 1)
    val got = Similarity.ivfSearchPqResidual(spark, path, "vec_id", cents,
        cb, q, k = 8, nprobe = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val want = rows.map { case (id, vec) =>
      id -> vec.zip(q).map { case (a, b) => a.toDouble * b.toDouble }.sum
    }.toMap
    got.foreach { case (id, s) =>
      assert(math.abs(s - want(id)) < 1e-4,
        s"residual ADC must be exact here: id $id got $s want ${want(id)}")
    }
    assert(got.map(_._1).toSeq ==
      want.toSeq.sortBy { case (id, s) => (-s, id) }.map(_._1),
      "ranking must match the exact dot order")
  }

  test("randomProject matches the plain-Scala JL restatement; linear; stable") {
    import org.apache.spark.sql.Row
    val d0 = 6
    val rows = Seq(
      1L -> Array(1.0f, 2.0f, -3.0f, 0.5f, 0.0f, 4.0f),
      2L -> Array(0.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f),
      3L -> Array(-1.5f, 2.5f, 0.25f, 1.0f, -2.0f, 0.125f))
    val vecs = df("vec_id BIGINT, embedding ARRAY<FLOAT>",
      rows.map(r => Row(Long.box(r._1), r._2.toSeq)): _*)
    val k = 4
    val got = Similarity.randomProject(vecs, "vec_id", "embedding", k, "s")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
    // Reference restatement: md5-parity signs, BigDecimal accumulation,
    // same rounding and scale discipline.
    def sign(i: Int, j: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"s:$i:$j".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) % 2 == 0) 1.0 else -1.0
    }
    val scale = 1.0 / math.sqrt(k.toDouble)
    val want = rows.map { case (id, v) =>
      id -> (0 until k).map { j =>
        val acc = v.indices.map(i => BigDecimal(v(i).toDouble * sign(i, j))
          .setScale(18, BigDecimal.RoundingMode.HALF_UP)).sum
        BigDecimal.valueOf(acc.toDouble * scale)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toVector
    }.toMap
    assert(got == want, s"JL diverged from reference:\n$got\n$want")
    assert(got(2L).forall(_ == 0.0), "zero vector projects to zeros")
    // Layout invariance (retry-stable at any partitioning).
    val again = Similarity.randomProject(vecs.repartition(5), "vec_id",
        "embedding", k, "s")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
    assert(again == got)
  }

  test("scaledSignPairs: bits track corpus size; over-ask fails loudly") {
    // expected bucket population n/2^bits stays within [target/2, target]
    for (n <- Seq(1000L, 100000L, 10000000L)) {
      val pairs = Similarity.scaledSignPairs(n, dim = 64, targetBucketSize = 32)
      val pop = n.toDouble / math.pow(2, pairs.size)
      assert(pop <= 32.0 + 1e-9, s"n=$n bits=${pairs.size} pop=$pop")
      assert(pairs.size >= 4, "floor of 4 bits")
      // pairs are disjoint dims, all within the vector
      val dims = pairs.flatMap(p => Seq(p._1, p._2))
      assert(dims.distinct.size == dims.size && dims.max <= 64)
    }
    // growing n by 10x adds ~log2(10) bits: the SCALING.md scale path
    val b1 = Similarity.scaledSignPairs(100000L, 64).size
    val b10 = Similarity.scaledSignPairs(1000000L, 64).size
    assert(b10 - b1 >= 3 && b10 - b1 <= 4)
    // a 16-dim vector cannot supply 20 sign bits — loud, not truncated
    intercept[IllegalArgumentException] {
      Similarity.scaledSignPairs(1000000000L, dim = 16)
    }
  }

  test("scaledSignBits: integer-exact at power-of-two boundaries; gate widths pinned") {
    // The sizing is smallest b >= 4 with target * 2^b >= n, computed in
    // integer arithmetic — ceil(log2(n/target)) through doubles can land
    // on either side of an exact power of two depending on libm, and the
    // oracle derives the SAME width in SQL (scaledSignBitsSql uses the
    // binary-format length). Pin the boundaries on both sides.
    assert(Similarity.scaledSignBits(512, 32) == 4) // 32*2^4 = 512 exactly
    assert(Similarity.scaledSignBits(513, 32) == 5)
    assert(Similarity.scaledSignBits(1024, 32) == 5)
    assert(Similarity.scaledSignBits(1025, 32) == 6)
    assert(Similarity.scaledSignBits(1, 32) == 4, "floor of 4 bits")
    // The shipped gate widths: the sf0.01 fixture (500 embeddings) must
    // size to the historical fixed widths — 4 bits for the ANN family
    // (old defaultPairs), 8 for the dedup family (old finePairs) — so
    // oracle hashes are unchanged; sf0.1 (2000) grows both.
    assert(Similarity.scaledSignBits(500, 32) == 4)
    assert(Similarity.scaledSignBits(500, 2) == 8)
    assert(Similarity.scaledSignBits(2000, 32) == 6)
    assert(Similarity.scaledSignBits(2000, 2) == 10)
  }

  test("srhtRotate: dense H·D·x/√d agreement, isometry, inverse round-trip") {
    val rnd = new scala.util.Random(11)
    val d = 8
    val rows = (1L to 20L).map(i =>
      Row(Long.box(i), Seq.fill(d)(rnd.nextFloat() * 2f - 1f)))
    val vecs = df("vec_id BIGINT, embedding ARRAY<FLOAT>", rows: _*)
    val got = Similarity.srhtRotate(vecs, "vec_id", "embedding", "sp")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // dense restatement: signs from the same md5 family, H[i][j] =
    // (-1)^popcount(i&j) — the formulation the butterfly replaces
    val signs = Array.tabulate(d) { i =>
      val b0 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"sp:$i".getBytes("UTF-8"))(0)
      if (((b0 >> 4) & 0x1) == 0) 1.0 else -1.0
    }
    rows.foreach { r =>
      val x = r.getSeq[Float](1).toArray
      val dense = Array.tabulate(d) { i =>
        (0 until d).map(j =>
          (if (java.lang.Integer.bitCount(i & j) % 2 == 0) 1.0 else -1.0) *
            signs(j) * x(j).toDouble).sum / math.sqrt(d.toDouble)
      }
      val y = got(r.getLong(0))
      (0 until d).foreach(i => assert(math.abs(y(i) - dense(i)) < 1e-8,
        s"vec ${r.getLong(0)} dim $i: butterfly ${y(i)} vs dense ${dense(i)}"))
      // isometry: ‖y‖² = ‖x‖² (rotation preserves norms)
      val ny = y.map(v => v * v).sum
      val nx = x.map(v => v.toDouble * v.toDouble).sum
      assert(math.abs(ny - nx) < 1e-7, s"norm drift: $ny vs $nx")
    }
    // inverse returns the original coordinates (round-9 fuzz only)
    val rot = Similarity.srhtRotate(vecs, "vec_id", "embedding", "sp")
    val back = Similarity.srhtRotateInverse(rot, "vec_id", "rotated", "sp")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    rows.foreach { r =>
      val x = r.getSeq[Float](1)
      val z = back(r.getLong(0))
      (0 until d).foreach(i => assert(math.abs(z(i) - x(i)) < 1e-7))
    }
    // forward twice is NOT the identity (H·D·H·D ≠ d·I): the inverse
    // face exists because the naive "rotate again" intuition is wrong
    val twice = Similarity.srhtRotate(rot, "vec_id", "rotated", "sp")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(rows.exists { r =>
      val x = r.getSeq[Float](1)
      val z = twice(r.getLong(0))
      (0 until d).exists(i => math.abs(z(i) - x(i)) > 1e-3)
    })
    // wrong-length vector fails loudly, never silently truncates
    val bad = df("vec_id BIGINT, embedding ARRAY<FLOAT>",
      Row(Long.box(1), Seq.fill(8)(0.5f)), Row(Long.box(2), Seq.fill(6)(0.5f)))
    val e = intercept[Exception] {
      Similarity.srhtRotate(bad, "vec_id", "embedding", "sp").collect()
    }
    assert(e.getMessage != null || e.getCause != null)
    // non-power-of-two dimension rejected up front
    intercept[IllegalArgumentException] {
      Similarity.srhtRotate(
        df("vec_id BIGINT, embedding ARRAY<FLOAT>",
          Row(Long.box(1), Seq.fill(6)(0.5f))),
        "vec_id", "embedding", "sp").collect()
    }
  }

  test("ivfSplitCluster: served set preserved; replay heals crash window; tombstones dropped") {
    val e = emb.select("vec_id", "embedding").localCheckpoint(true)
    val cents = Similarity.centroids(
      e.withColumn("cluster", pmod(col("vec_id"), lit(2)).cast("int"))
        .select(col("cluster"), col("embedding")),
      "cluster", "embedding").localCheckpoint(true)
    val q = e.filter(col("vec_id") === 3).head().getSeq[Float](1)
    val p = tmpIndex("split")
    Similarity.ivfWrite(e, "vec_id", "embedding", cents, p)
    val preIds = spark.read.parquet(p).filter(col("cluster") === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(preIds.size >= 2)

    val newCents = Similarity.ivfSplitCluster(spark, p, "vec_id",
      "embedding", cents, 0, 10, 11).localCheckpoint(true)
    // centroid frame: 0 replaced by {10, 11}
    val ids = newCents.select("cluster").collect().map(_.getInt(0)).toSet
    assert(ids == Set(1, 10, 11), s"got $ids")
    // id conservation: the two new clusters hold exactly the old rows
    val post = spark.read.parquet(p)
    assert(post.filter(col("cluster") === 0).count() == 0,
      "source cluster dir must be retired")
    assert(post.filter(col("cluster").isin(10, 11))
      .select("vec_id").collect().map(_.getLong(0)).toSet == preIds)
    assert(post.filter(col("cluster") === 10).count() > 0 &&
      post.filter(col("cluster") === 11).count() > 0,
      "a split must populate BOTH children")
    // served set: probing every cluster equals the brute-force list
    def served(c: org.apache.spark.sql.DataFrame, np: Int) =
      Similarity.ivfSearch(spark, p, "vec_id", "embedding", c, q,
        k = 20, nprobe = np).collect().map(_.getLong(0)).toSeq
    val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      array(q.map(lit): _*), 20).collect().map(_.getLong(0)).toSeq
    assert(served(newCents, 3) == brute,
      "split must not change the full-probe served set")
    // the ledger carries the split batch (tightness row)
    assert(Similarity.ivfStats(spark, p).collect()
      .exists(_.getString(0) == "split-0-10-11"))

    // crash window: ledger committed but source dir resurrected —
    // a REPLAY of the same split is the recovery
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val srcDir = new org.apache.hadoop.fs.Path(p, "cluster=0")
    fs.mkdirs(srcDir)
    val stray = e.filter(col("vec_id").isin(preIds.take(3).toSeq.map(Long.box): _*))
      .withColumn("batch", lit("build"))
    stray.coalesce(1).write.mode("append").partitionBy("batch")
      .parquet(srcDir.toString)
    val replayed = Similarity.ivfSplitCluster(spark, p, "vec_id",
      "embedding", cents, 0, 10, 11)
    assert(!fs.exists(srcDir), "replay must finish the source delete")
    assert(replayed.select("cluster").collect().map(_.getInt(0)).toSet ==
      Set(1, 10, 11))
    assert(served(newCents, 3) == brute, "recovery restores the served set")

    // tombstones in the split cluster are dropped (cluster-local compact)
    val victim = post.filter(col("cluster") === 1)
      .select("vec_id").orderBy("vec_id").head().getLong(0)
    Similarity.ivfDelete(spark, p,
      e.filter(col("vec_id") === victim).select("vec_id"), "dsplit")
    val afterDel = Similarity.ivfSplitCluster(spark, p, "vec_id",
      "embedding", newCents, 1, 20, 21).localCheckpoint(true)
    assert(spark.read.parquet(p)
      .filter(col("vec_id") === victim).count() == 0,
      "a split must not carry tombstoned rows into the children")
    val bruteLive = Similarity.bruteForceTopK(
      e.filter(col("vec_id") =!= victim), "vec_id", "embedding",
      array(q.map(lit): _*), 20).collect().map(_.getLong(0)).toSeq
    assert(served(afterDel, 4) == bruteLive)

    // refusing nonsense: splitting a gone cluster has no live rows
    intercept[IllegalArgumentException] {
      Similarity.ivfSplitCluster(spark, p, "vec_id", "embedding",
        afterDel, 0, 30, 31)
    }
  }

  /** Maintenance fixture: blobs A (ids 1-20, ≈ +e1) and B (ids 21-40,
    * ≈ −e1) PLANTED under one merged centroid (their mean ≈ (0,0,.5,0)
    * — it describes neither blob), plus two small clusters C/D. A
    * query at e1 ranks C's centroid (cos ≈ 0.2) above the merged
    * centroid (cos 0) — so nprobe=1 reads the WRONG cluster and recall
    * is 0 until the hot cluster splits and a child centroid lands on
    * blob A. This is exactly the probe-latency/recall cliff the
    * maintenance policy exists to catch.
    */
  private def maintVec(x: Double, y: Double, z: Double, w: Double) =
    Seq(x, y, z, w).map(_.toFloat)
  private def maintCorpus = {
    val rows =
      (1L to 20L).map(i => Row(Long.box(i), maintVec(1, 0, 0.5, 0))) ++
      (21L to 40L).map(i => Row(Long.box(i), maintVec(-1, 0, 0.5, 0))) ++
      (41L to 44L).map(i => Row(Long.box(i), maintVec(0.2, 0, 0, 0.98))) ++
      (45L to 48L).map(i => Row(Long.box(i), maintVec(0, 1, 0, 0)))
    df("vec_id BIGINT, embedding ARRAY<FLOAT>", rows: _*)
  }
  private def maintCents(e: org.apache.spark.sql.DataFrame) =
    Similarity.centroids(
      e.withColumn("cluster",
        when(col("vec_id") <= 40, 0)
          .when(col("vec_id") <= 44, 1).otherwise(2).cast("int"))
        .select(col("cluster"), col("embedding")),
      "cluster", "embedding").localCheckpoint(true)

  test("ivfMaintenancePlan flags the planted hot cluster; ivfMaintain splits it and recall improves") {
    val e = maintCorpus.localCheckpoint(true)
    val cents = maintCents(e)
    val p = tmpIndex("maint")
    Similarity.ivfWrite(e, "vec_id", "embedding", cents, p)
    Similarity.ivfRecordBuildStats(e, "vec_id", "embedding", cents, p)
    // The policy: sizes are (40, 4, 4) → median 4, factor 2 → only the
    // merged cluster crosses, ids allocated above the numeric max.
    val plan = Similarity.ivfMaintenancePlan(spark, p, "vec_id", cents)
    assert(plan.medianRows == 4L)
    assert(plan.splits.map(s => (s.cluster, s.rows)) == Seq((0, 40L)),
      s"exactly the planted hot cluster must be flagged, got ${plan.splits}")
    assert(plan.splits.head.newIdA == 3L && plan.splits.head.newIdB == 4L)
    assert(plan.maxDrift.isEmpty && !plan.rebuildAdvised,
      "nothing appended: no drift evidence, no rebuild advice")
    // Id allocation respects centroid-frame ids the live histogram
    // cannot see: an EMPTY cluster (its centroid exists, no live rows)
    // must still block its id from being re-allocated to a split child.
    val centsWithEmpty = cents.unionByName(
      df("cluster INT, centroid ARRAY<FLOAT>",
        Row(Int.box(9), maintVec(0, 0, 0, 1))))
    val planSkipping9 = Similarity.ivfMaintenancePlan(spark, p, "vec_id",
      centsWithEmpty)
    assert(planSkipping9.splits.nonEmpty &&
      planSkipping9.splits.forall(s => s.newIdA > 9 && s.newIdB > 9),
      s"allocated ids must clear the empty centroid's id 9, got $planSkipping9")
    // Recall cliff before: nprobe=1 probes the small decoy cluster.
    val q = Seq(1f, 0f, 0f, 0f)
    def recallAt1(c: org.apache.spark.sql.DataFrame): Double = {
      val got = Similarity.ivfSearch(spark, p, "vec_id", "embedding", c,
        q, k = 10, nprobe = 1).collect().map(_.getLong(0)).toSet
      val want = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        array(q.map(lit): _*), 10).collect().map(_.getLong(0)).toSet
      got.intersect(want).size.toDouble / want.size
    }
    val before = recallAt1(cents)
    val split = Similarity.ivfMaintain(spark, p, "vec_id", "embedding",
      cents, plan).localCheckpoint(true)
    val after = recallAt1(split)
    assert(before == 0.0, s"fixture must start at the cliff, got $before")
    assert(after == 1.0, s"split must land a child centroid on the blob, got $after")
    // Post-split the plan is quiet: sizes (20, 20, 4, 4) → median 20,
    // threshold 40 — the split quenches its own advice.
    assert(Similarity.ivfMaintenancePlan(spark, p, "vec_id", split)
      .splits.isEmpty, "a split must quench its own advice")
  }

  test("quantized-layout splits: SQ8/PQ via the re-read-float-source path") {
    val e = maintCorpus.localCheckpoint(true)
    val cents = maintCents(e)
    val q = Seq(1f, 0f, 0f, 0f)
    // --- SQ8 ---
    val p8 = tmpIndex("maint_sq8")
    Similarity.ivfWriteSq8(e, "vec_id", "embedding", cents, p8)
    val full8 = Similarity.ivfSearchSq8(spark, p8, "vec_id", cents, q,
      k = 48, nprobe = 3).collect().map(_.getLong(0)).toSet
    val cents8 = Similarity.ivfSplitClusterSq8(spark, p8, "vec_id",
      "embedding", cents, e, cluster = 0, newIdA = 3, newIdB = 4)
      .localCheckpoint(true)
    assert(cents8.select("cluster").collect().map(_.getInt(0)).toSet ==
      Set(1, 2, 3, 4))
    val post8 = spark.read.parquet(p8)
    assert(post8.filter(col("cluster") === 0).count() == 0)
    assert(post8.filter(col("cluster") === 3).count() > 0 &&
      post8.filter(col("cluster") === 4).count() > 0,
      "an SQ8 split must populate BOTH children")
    assert(post8.filter(col("cluster").isin(3, 4))
      .select("vec_id").collect().map(_.getLong(0)).toSet ==
      (1L to 40L).toSet, "children hold exactly the old members")
    assert(Similarity.ivfSearchSq8(spark, p8, "vec_id", cents8, q,
      k = 48, nprobe = 4).collect().map(_.getLong(0)).toSet == full8,
      "full-probe SQ8 served set must survive the split")
    // SQ8 layout columns intact (qvec/scale/nrm2, no float vector)
    assert(post8.columns.toSet ==
      Set("vec_id", "qvec", "scale", "nrm2", "cluster", "batch"))
    // recall at nprobe=1 jumps for the blob query, as in the float test
    assert(Similarity.ivfSearchSq8(spark, p8, "vec_id", cents8, q,
      k = 10, nprobe = 1).collect().map(_.getLong(0)).toSet ==
      (1L to 10L).toSet)
    // a partial float source must abort loudly, never drop vectors
    intercept[IllegalArgumentException] {
      Similarity.ivfSplitClusterSq8(spark, p8, "vec_id", "embedding",
        cents8, e.filter(col("vec_id") =!= 1L), cluster = 3,
        newIdA = 5, newIdB = 6)
    }
    // --- PQ ---
    val pq = tmpIndex("maint_pq")
    val cb = Similarity.pqCodebook(e, "embedding", m = 1, subDim = 4)
      .localCheckpoint(true)
    Similarity.ivfWritePq(e, "vec_id", "embedding", cents, cb,
      m = 1, subDim = 4, pq)
    val fullPq = Similarity.ivfSearchPq(spark, pq, "vec_id", cents, cb,
      q, k = 48, nprobe = 3).collect().map(_.getLong(0)).toSet
    val centsPq = Similarity.ivfSplitClusterPq(spark, pq, "vec_id",
      "embedding", cents, e, cb, m = 1, subDim = 4,
      cluster = 0, newIdA = 3, newIdB = 4).localCheckpoint(true)
    val postPq = spark.read.parquet(pq)
    assert(postPq.filter(col("cluster") === 0).count() == 0)
    assert(postPq.filter(col("cluster").isin(3, 4))
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet ==
      (1L to 40L).toSet)
    // every member kept its m=1 code row (the PQ row shape)
    assert(postPq.filter(col("cluster").isin(3, 4)).count() == 40,
      "each member must carry one code row per subspace")
    assert(Similarity.ivfSearchPq(spark, pq, "vec_id", centsPq, cb, q,
      k = 48, nprobe = 4).collect().map(_.getLong(0)).toSet == fullPq,
      "full-probe PQ served set must survive the split")
    // --- residual PQ (codes depend on the member's own centroid, so a
    // split must RE-ENCODE against the children) ---
    val pr = tmpIndex("maint_pqr")
    val rcb = Similarity.pqResidualCodebook(e, "vec_id", "embedding",
      cents, m = 1, subDim = 4).localCheckpoint(true)
    Similarity.ivfWritePqResidual(e, "vec_id", "embedding", cents, rcb,
      m = 1, subDim = 4, pr)
    val fullPr = Similarity.ivfSearchPqResidual(spark, pr, "vec_id",
      cents, rcb, q, k = 48, nprobe = 3)
      .collect().map(_.getLong(0)).toSet
    val centsPr = Similarity.ivfSplitClusterPqResidual(spark, pr,
      "vec_id", "embedding", cents, e, rcb, m = 1, subDim = 4,
      cluster = 0, newIdA = 3, newIdB = 4).localCheckpoint(true)
    val postPr = spark.read.parquet(pr)
    assert(postPr.filter(col("cluster") === 0).count() == 0)
    assert(postPr.filter(col("cluster").isin(3, 4))
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet ==
      (1L to 40L).toSet)
    assert(Similarity.ivfSearchPqResidual(spark, pr, "vec_id", centsPr,
      rcb, q, k = 48, nprobe = 4).collect().map(_.getLong(0)).toSet ==
      fullPr, "full-probe residual-PQ served set must survive the split")
    // The blob query's top hits stay the blob: the re-encoded residuals
    // against the child centroid keep scores ⟨q,c⟩+⟨q,r̂⟩ ≈ ⟨q,v⟩.
    assert(Similarity.ivfSearchPqResidual(spark, pr, "vec_id", centsPr,
      rcb, q, k = 10, nprobe = 1).collect().map(_.getLong(0)).toSet
      .subsetOf((1L to 20L).toSet),
      "nprobe=1 after split must serve from the blob-A child")
  }

  test("residual-PQ split ≡ rebuild with the returned centroids (scores exact)") {
    // Regression: residuals used to be encoded against the LAST LLOYD
    // ITERATE while the returned frame (and therefore the serving
    // path's coarse term) held the member MEANS — a per-cluster score
    // bias ⟨q, mean(c) − iterate(c)⟩ invisible on fixtures where
    // 2-means converges (iterate == means). Here the hot cluster is
    // NON-uniform and the split runs steps = 0, so the iterate (the
    // raw seeds) differs from the means decisively; serving the split
    // index must still be row-identical to serving a fresh rebuild
    // that encodes against the returned centroids.
    def v(x: Double, y: Double, z: Double) =
      Seq(x, y, z, 0.0).map(_.toFloat)
    val zs = Seq(0.0, 0.1, 0.2, 0.8, 0.9, 1.0)
    val e = df("vec_id BIGINT, embedding ARRAY<FLOAT>",
      (zs.zipWithIndex.map { case (z, i) =>
        Row(Long.box(i + 1), v(1, 0, z)) } ++
        Seq(Row(Long.box(7), v(0, 1, 0)), Row(Long.box(8), v(0, 1, 0)))): _*)
      .localCheckpoint(true)
    val cents = Similarity.centroids(
      e.withColumn("cluster",
        when(col("vec_id") <= 6, 0).otherwise(1).cast("int"))
        .select(col("cluster"), col("embedding")),
      "cluster", "embedding").localCheckpoint(true)
    val rcb = Similarity.pqResidualCodebook(e, "vec_id", "embedding",
      cents, m = 1, subDim = 4).localCheckpoint(true)
    val pSplit = tmpIndex("resid_split")
    Similarity.ivfWritePqResidual(e, "vec_id", "embedding", cents, rcb,
      m = 1, subDim = 4, pSplit)
    val centsAfter = Similarity.ivfSplitClusterPqResidual(spark, pSplit,
      "vec_id", "embedding", cents, e, rcb, m = 1, subDim = 4,
      cluster = 0, newIdA = 2, newIdB = 3, steps = 0)
      .localCheckpoint(true)
    val pRebuild = tmpIndex("resid_rebuild")
    Similarity.ivfWritePqResidual(e, "vec_id", "embedding", centsAfter,
      rcb, m = 1, subDim = 4, pRebuild)
    val q = Seq(1f, 0f, 0.15f, 0f)
    def serve(path: String) = Similarity.ivfSearchPqResidual(spark, path,
      "vec_id", centsAfter, rcb, q, k = 8, nprobe = 3).collect().toSeq
    assert(serve(pSplit) == serve(pRebuild),
      "split-then-serve must be row-identical (ids AND scores) to " +
        "rebuild-with-returned-centroids-then-serve")
  }

  // ---- bitext margin mining ------------------------------------------

  /** 10-dim fixture: dims 1-4 are tiny constants that put EVERY vector
    * in sign bucket "10" (pairs (1,2),(3,4)); geometry lives in dims
    * 5-8. The hub target sits at cos ~0.707 to BOTH sources — closer
    * than either's true mate (0.6) — so raw cosine picks the hub for
    * every source while the margin criterion, normalizing by the hub's
    * high backward k-NN mean, picks the mate. That flip is the whole
    * point of the operator.
    */
  private def bitextVec(g: Seq[Double]): Seq[Float] =
    (Seq(0.001, 0.0005, 0.0005, 0.001) ++ g ++
      Seq.fill(6 - g.length)(0.0)).map(_.toFloat)

  private def bitextSrc = df("vec_id BIGINT, embedding ARRAY<FLOAT>",
    Row(Long.box(10), bitextVec(Seq(1.0, 0.0))),
    Row(Long.box(20), bitextVec(Seq(0.0, 1.0))))

  private def bitextTgt = df("vec_id BIGINT, embedding ARRAY<FLOAT>",
    Row(Long.box(11), bitextVec(Seq(0.6, 0.0, 0.8, 0.0))),
    Row(Long.box(21), bitextVec(Seq(0.0, 0.6, 0.0, 0.8))),
    Row(Long.box(99), bitextVec(Seq(0.7071, 0.7071))))

  test("bitextMine: margin criterion rejects the hub that raw cosine picks") {
    val pairs = Seq((1, 2), (3, 4))
    // Sanity: the hub really does beat the mate on raw cosine.
    val rawCos = bitextSrc.crossJoin(
        bitextTgt.select(col("vec_id").as("t_id"),
          col("embedding").as("tvec")))
      .select(col("vec_id"), col("t_id"),
        Similarity.cosine(col("embedding"), col("tvec")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(rawCos((10L, 99L)) > rawCos((10L, 11L)))
    assert(rawCos((20L, 99L)) > rawCos((20L, 21L)))

    val mined = Similarity.bitextMine(bitextSrc, bitextTgt,
        "vec_id", "embedding", pairs, k = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
    assert(mined.keySet == Set(10L, 20L))
    val (t1, c1, m1, mu1) = mined(10L)
    val (t2, _, _, mu2) = mined(20L)
    assert(t1 == 11L && t2 == 21L, s"margin must pick mates, got $mined")
    assert(mu1 && mu2, "mate pairs are mutual best")
    assert(m1 > 1.0 && c1 > 0.55 && c1 < 0.65)
  }

  test("bitextMine: minMargin filters, maxBucket drops the skewed bucket whole") {
    val pairs = Seq((1, 2), (3, 4))
    val strict = Similarity.bitextMine(bitextSrc, bitextTgt,
      "vec_id", "embedding", pairs, k = 4, minMargin = 1e9)
    assert(strict.count() == 0)
    // All three targets share one bucket; maxBucket=2 drops the whole
    // target side of that bucket -> no candidates survive.
    val guarded = Similarity.bitextMine(bitextSrc, bitextTgt,
      "vec_id", "embedding", pairs, k = 4, maxBucket = 2)
    assert(guarded.count() == 0)
  }
}
