package graft

import graft.operators.Similarity
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {

  // Three well-separated clusters on coordinate axes.
  private def vecs = df("vec_id BIGINT, label STRING, embedding ARRAY<FLOAT>",
    Row(Long.box(1), "x", Seq(1.0f, 0.1f, 0.0f)),
    Row(Long.box(2), "x", Seq(0.9f, 0.0f, 0.1f)),
    Row(Long.box(3), "y", Seq(0.0f, 1.0f, 0.1f)),
    Row(Long.box(4), "y", Seq(0.1f, 0.9f, 0.0f)),
    Row(Long.box(5), "z", Seq(0.0f, 0.1f, 1.0f)),
    Row(Long.box(6), "z", Seq(0.1f, 0.0f, 0.9f)))

  test("IVF build + probe-limited search finds the brute-force winner") {
    val dir = tempDir("ivf") + "/index"
    val cents = Similarity.centroids(vecs, "label", "embedding")
    assert(cents.count() == 3)
    Similarity.ivfWrite(vecs, "vec_id", "embedding", cents, dir)
    // Partitioned layout: one directory per cluster.
    val parts = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("cluster=")).toSet
    assert(parts == Set("cluster=x", "cluster=y", "cluster=z"))

    val query = Seq(0.95f, 0.05f, 0.05f) // near cluster x
    val hits = Similarity.ivfSearch(spark, dir, "vec_id", "embedding",
      cents, query, k = 2, nprobe = 1)
    val ids = hits.collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L), s"nprobe=1 should return exactly cluster x, got $ids")

    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      array(query.map(lit): _*), 1).head().getLong(0)
    assert(hits.head().getLong(0) == brute, "IVF top-1 must match brute force")
  }

  test("kmeansStep re-assigns and recomputes stable centroids") {
    val cents = Similarity.centroids(vecs, "label", "embedding")
    val step1 = Similarity.kmeansStep(vecs, "vec_id", "embedding", cents)
    assert(step1.count() == 3, "well-separated clusters keep 3 centroids")
    // A second step from an already-converged assignment is a fixpoint.
    val step2 = Similarity.kmeansStep(vecs, "vec_id", "embedding", step1)
    val c1 = step1.collect().map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    val c2 = step2.collect().map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    assert(c1 == c2, "converged centroids must be a fixpoint")
  }

  test("kmeansStep from a sign-LSH seed converges to the true clusters") {
    // Seed from 2-bit sign-LSH buckets (3-dim fixture, pairs fitted to
    // it): the seed splits cluster x across buckets and leaves one
    // bucket holding members of two different true clusters, so the
    // test only passes if Lloyd re-assignment actually moves vectors.
    val seeded = Similarity.signLshBuckets(vecs, "embedding",
        pairs = Seq((1, 2), (2, 3)))
      .select(col("vec_id"), col("embedding"), col("bucket").as("cluster"))
    val cent0 = Similarity.centroids(seeded, "cluster", "embedding")
    assert(cent0.count() == 4, "the seed starts from 4 non-empty buckets")
    val step1 = Similarity.kmeansStep(vecs, "vec_id", "embedding", cent0)
    assert(step1.count() == 3,
      "one seed bucket must empty out; the 3 axis clusters remain")
    // Assignment stability across iterations: a further step is a
    // fixpoint — identical assignment, bit-identical centroids.
    val step2 = Similarity.kmeansStep(vecs, "vec_id", "embedding", step1)
    val c1 = step1.collect().map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    val c2 = step2.collect().map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    assert(c1 == c2, "learned centroids must be a fixpoint of assignment")
  }

  test("ivfSearchBatch matches per-query ivfSearch and never nested-loops") {
    val dir = tempDir("ivf3") + "/index"
    val cents = Similarity.centroids(vecs, "label", "embedding")
    Similarity.ivfWrite(vecs, "vec_id", "embedding", cents, dir)
    val queries = vecs.filter(col("vec_id").isin(1L, 3L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val batch = Similarity.ivfSearchBatch(spark, dir, "vec_id", "embedding",
      cents, queries, "qid", "qvec", k = 2, nprobe = 1)
    val got = batch.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // Each query probes its own cluster; the query vector itself is
    // excluded, so the remaining cluster member is the sole hit.
    assert(got == Map(1L -> Set(2L), 3L -> Set(4L)), s"got $got")
    // The candidate stage joins the index on EQUALITY of the cluster
    // id — the (queries x centroids) ranking stage is a bounded
    // |Q|*B cross join by design, but the index scan itself must feed
    // a hash/merge join, never a nested loop or cartesian product,
    // with or without the probe-side broadcast.
    Seq(true, false).foreach { bcast =>
      val plan = Similarity.ivfSearchBatch(spark, dir, "vec_id", "embedding",
          cents, queries, "qid", "qvec", k = 2, nprobe = 1,
          broadcastProbes = bcast)
        .queryExecution.executedPlan.toString
      assert(plan.contains("HashJoin [cluster") ||
        plan.contains("SortMergeJoin [cluster"),
        s"broadcastProbes=$bcast: index join must key on cluster:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"broadcastProbes=$bcast must not cartesian:\n$plan")
    }
  }

  test("IVF-SQ8: quantized layout shares placement and agrees with float search") {
    val dir = tempDir("ivfsq") + "/index"
    val cents = Similarity.centroids(vecs, "label", "embedding")
    Similarity.ivfWriteSq8(vecs, "vec_id", "embedding", cents, dir)
    // Same cluster-partitioned layout as the float index, int8 payload.
    val parts = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("cluster=")).toSet
    assert(parts == Set("cluster=x", "cluster=y", "cluster=z"))
    val stored = spark.read.parquet(dir)
    assert(stored.schema("qvec").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = true))
    // On well-separated clusters the SQ8 ranking agrees with the float
    // path (quantization error is far below the inter-cluster margin).
    val query = Seq(0.95f, 0.05f, 0.05f)
    val sq = Similarity.ivfSearchSq8(spark, dir, "vec_id", cents, query,
      k = 2, nprobe = 1).collect().map(_.getLong(0)).toSeq
    assert(sq == Seq(1L, 2L), s"got $sq")
  }

  test("ivfSearchBatchSq8 matches per-query ivfSearchSq8 modulo self-exclusion") {
    val dir = tempDir("ivfsqb") + "/index"
    val cents = Similarity.centroids(vecs, "label", "embedding")
    Similarity.ivfWriteSq8(vecs, "vec_id", "embedding", cents, dir)
    val queries = vecs.filter(col("vec_id").isin(1L, 3L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec_f"))
    val batch = Similarity.ivfSearchBatchSq8(spark, dir, "vec_id", cents,
        queries, "qid", "qvec_f", k = 2, nprobe = 1)
      .collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSet).toMap
    // The single-query path quantizes on the driver, the batch path in
    // the plan — ids AND rounded cosines must agree exactly (the batch
    // contract additionally excludes the query's own row).
    Seq(1L, 3L).foreach { qid =>
      val qv = vecs.filter(col("vec_id") === qid)
        .select("embedding").head().getSeq[Float](0)
      val single = Similarity.ivfSearchSq8(spark, dir, "vec_id", cents,
          qv, k = 3, nprobe = 1)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
        .filter(_._1 != qid).take(2).toSet
      assert(batch(qid) == single,
        s"qid=$qid: batch ${batch(qid)} vs single $single")
    }
  }

  test("IVF search physically prunes unprobed cluster partitions") {
    val dir = tempDir("ivf2") + "/index"
    val cents = Similarity.centroids(vecs, "label", "embedding")
    Similarity.ivfWrite(vecs, "vec_id", "embedding", cents, dir)
    val plan = Similarity.ivfSearch(spark, dir, "vec_id", "embedding",
        cents, Seq(0.0f, 0.0f, 1.0f), k = 1, nprobe = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster") ||
      plan.contains("PartitionFilters: [isnotnull(cluster") ||
      plan.contains("cluster#"), s"expected partition pruning in:\n$plan")
    // And the scan must touch exactly one of the three partitions.
    val scanned = "PartitionCount: (\\d+)".r.findFirstMatchIn(plan).map(_.group(1))
    assert(scanned.forall(_ == "1"), s"expected 1 partition scanned:\n$plan")
  }
}
