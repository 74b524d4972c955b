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

  test("signBucket is deterministic and a bucket-pruned top-k is a subset of the exact one") {
    val pairs = Seq((1, 2), (3, 4))
    val q = array(lit(1.0f), lit(0.0f), lit(0.0f), lit(0.0f)) // bucket "10"
    val bucketed = Similarity.signLshBuckets(vecs, "embedding", pairs)
    assert(bucketed.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      .apply(1L) == "10") // 1>0, 0==0
    val ann = Similarity.bruteForceTopK(
        bucketed.filter(col("bucket") === Similarity.signBucket(q, pairs))
          .drop("bucket"), "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(ann.subsetOf(brute))
    assert(ann.contains(1L), "same-bucket exact match must be found")
  }

  private def emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")

  /** A gate query's frame on the sf0.001 fixture (TESTDATA.md). */
  private def gate(name: String) =
    SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")

  test("q48 batch ANN plan: bucket hash join + bounded heaps, no nested loop") {
    val plan = gate("q48_batch_ann_bucketed").queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"bucketed retrieval must never plan an all-pairs nested loop:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"),
      s"queries must reach candidates via a bucket-key hash join:\n$plan")
    assert(plan.contains("TopKPerGroupFinal"),
      s"per-query cut must run on the bounded-heap plan:\n$plan")
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

  test("q56 multi-probe batch ANN: hash-join plan, Hamming-bounded buckets, pointwise-better ranks than q48") {
    val out1 = gate("q56_batch_ann_multiprobe")
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
    val out0 = gate("q48_batch_ann_bucketed")
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

  test("q48 batch ANN: every neighbor shares its query's bucket; no query retrieves itself") {
    val out = gate("q48_batch_ann_bucketed")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.nonEmpty)
    val buckets = Similarity.signLshBuckets(emb, "embedding")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    out.foreach { case (qid, vid) =>
      assert(buckets(qid) == buckets(vid),
        s"neighbor $vid of query $qid crossed buckets")
      assert(qid != vid, "a query must not retrieve itself")
    }
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

  // ---- incremental index ingest ---------------------------------------

  private def tmpIndex(tag: String): String =
    tempDir(s"graft_spec_ivf_$tag") + "/index"

  test("ivfAppend: search-after-append == search-after-full-rebuild; compaction keeps the hits") {
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

    // the append recorded its tightness row in the drift ledger
    assert(spark.read.parquet(pApp + "_stats").collect()
      .map(_.getString(0)).toSeq == Seq("b1"))

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

  test("ivfDelete: delete ≡ rebuild-without (float/SQ8); torn delete; compact") {
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
    // the retry committed under its del: ledger row
    assert(spark.read.parquet(pT + "_stats").collect()
      .map(_.getString(0)).toSeq == Seq("del:dX"))

    // the SQ8 layout routes through the same live-read
    val p8 = tmpIndex("del_s"); val p8Ref = tmpIndex("del_s_ref")
    Similarity.ivfWriteSq8(e, "vec_id", "embedding", cents, p8)
    Similarity.ivfDelete(spark, p8, victims, "d1")
    Similarity.ivfWriteSq8(retained, "vec_id", "embedding", cents, p8Ref)
    def hits8(path: String) =
      Similarity.ivfSearchSq8(spark, path, "vec_id", cents, q,
        k = 20, nprobe = 2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hits8(p8) == hits8(p8Ref))
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

  test("planning an IVF search with no tombstones runs one job: the probe ranking") {
    val e = emb.select("vec_id", "embedding")
    val cents = Similarity.centroids(
      e.withColumn("cluster", pmod(col("vec_id"), lit(4)).cast("int"))
        .select(col("cluster"), col("embedding")),
      "cluster", "embedding").localCheckpoint(true)
    val q = e.filter(col("vec_id") === 3).head().getSeq[Float](1)
    val p = tmpIndex("plan_jobs")
    Similarity.ivfWrite(e, "vec_id", "embedding", cents, p)
    // The index scan takes its schema from one footer on the driver:
    // no schema-inference job beside the probe ranking's collect.
    val (search, jobs) = jobsOf(Similarity.ivfSearch(spark, p, "vec_id",
      "embedding", cents, q, k = 5, nprobe = 2))
    assert(jobs == 1, s"planning the search ran $jobs jobs")
    assert(search.collect().length == 5)
  }

  test("ivfAppend crash/retry: replace-by-batch, exactly-once ids, orphan GC") {
    val e = emb.select("vec_id", "embedding")
    val half1 = e.filter(col("vec_id") % 2 === 0)
    val half2 = e.filter(col("vec_id") % 2 === 1)
    val cents = Similarity.centroids(
      Similarity.signLshBuckets(half1, "embedding")
        .select(col("bucket").as("cluster"), col("embedding")),
      "cluster", "embedding").localCheckpoint(true)
    val q = e.filter(col("vec_id") === 3).head().getSeq[Float](1)
    def append(v: DataFrame, p: String, b: String): Unit =
      Similarity.ivfAppend(v, "vec_id", "embedding", cents, p, b)
    def hits(p: String) = Similarity.ivfSearch(spark, p, "vec_id", "embedding",
      cents, q, k = 20, nprobe = 2).collect().map(_.getLong(0)).toSeq
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
    val p = tmpIndex("retry"); val pFull = tmpIndex("retry_full")
    Similarity.ivfWrite(half1, "vec_id", "embedding", cents, p)
    Similarity.ivfWrite(e, "vec_id", "embedding", cents, pFull)
    torn(p)(append(half2, p, "bT"))
    // The torn batch's vectors are on disk, and its ledger row is not.
    assert(rows(p) == rows(pFull))
    assert(!new java.io.File(p + "_stats").exists())
    // RETRY of the torn batch must not duplicate a single vector:
    // replace-by-batch deletes the orphan dirs first.
    append(half2, p, "bT")
    assert(hits(p) == hits(pFull),
      "retried batch must search identically to a clean rebuild")
    assert(rows(p) == rows(pFull),
      "retry must leave exactly one copy of every vector")
    // a COMMITTED id is exactly-once, under the type the streaming
    // sinks catch
    intercept[IndexCommit.AlreadyCommittedException] {
      append(half2, p, "bT")
    }
    // compaction garbage-collects a never-retried orphan batch
    torn(p)(append(half2.limit(3), p, "bOrphan"))
    assert(rows(p) > rows(pFull))
    Similarity.ivfCompact(spark, p)
    assert(hits(p) == hits(pFull))
    assert(rows(p) == rows(pFull),
      "compaction must drop uncommitted orphan vectors")
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
    Similarity.ivfAppend(b1, "vec_id", "embedding", cents, p, "b1")
    Similarity.ivfAppend(b2, "vec_id", "embedding", cents, p, "b2")
    // one (batch, n, mean_sim, min_sim) ledger row per append
    val stats = spark.read.parquet(p + "_stats").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(stats.keySet == Set("b1", "b2"))
    assert(stats("b1").getLong(1) == 2 && stats("b2").getLong(1) == 2)
    // the shifted batch sits measurably looser on the frozen centroids
    // than the in-distribution one — the re-train signal
    val meanOf = (b: String) => stats(b).getDouble(2)
    assert(meanOf("b1") > meanOf("b2") + 0.05,
      s"shifted batch must show drift: ${stats.view.mapValues(_.toSeq).toMap}")
    // And the appended rows are actually searchable (the ledger isn't
    // a side effect of a failed write).
    val got = Similarity.ivfSearch(spark, p, "vec_id", "embedding", cents,
      v(10, 0, 0, 0, 1, 0, 0, 0), k = 3, nprobe = 1)
      .collect().map(_.getLong(0)).toSet
    assert(got.contains(11L))
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
    // the inverse x = D·H·y/√d (D outside) returns the original
    // coordinates, up to the round-9 output fuzz
    rows.foreach { r =>
      val x = r.getSeq[Float](1)
      val y = got(r.getLong(0))
      (0 until d).foreach { i =>
        val z = signs(i) * (0 until d).map(j =>
          (if (java.lang.Integer.bitCount(i & j) % 2 == 0) 1.0 else -1.0) * y(j))
          .sum / math.sqrt(d.toDouble)
        assert(math.abs(z - x(i)) < 1e-7, s"vec ${r.getLong(0)} dim $i: $z vs ${x(i)}")
      }
    }
    // forward twice is NOT the identity (H·D·H·D ≠ d·I): undoing the
    // rotation needs D on the outside
    val rot = Similarity.srhtRotate(vecs, "vec_id", "embedding", "sp")
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
    assert(spark.read.parquet(p + "_stats").collect()
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
}
