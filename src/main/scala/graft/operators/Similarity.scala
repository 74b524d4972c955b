package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor / similarity-search operators over an
  * embedding column (`array<float>`).
  *
  * Two tiers, mirroring how a 100 TB pipeline actually runs ANN:
  *  - [[bruteForceTopK]]: exact cosine against every row — the baseline
  *    and the in-bucket ranker. One map-side pass + a top-k
  *    (TakeOrderedAndProject — no global sort).
  *  - [[signLshBuckets]] / [[annTopK]]: a deterministic sign-bit LSH
  *    coarse quantizer; search prunes to the query's bucket before exact
  *    ranking. Bucket assignment is per-row (no shuffle); search is a
  *    bucket-key equality lookup, i.e. partition-prunable if the table is
  *    written partitioned by bucket — the IVF layout.
  *
  * Numeric determinism: dot products fold in fixed array order via
  * `aggregate` in double; the oracle-facing variants in
  * [[graft.queries.SimilarityOps]] use exact decimal accumulation so
  * results hash-match across engines and across shuffle re-orders.
  */
object Similarity {

  /** Fixed-order fold dot product of two array<float> columns, in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two embedding columns (built-in HOF
    * composition — interpreted; kept for engines without the graft
    * extensions installed).
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Inner product via the native codegen'd expression
    * ([[graft.functions.expressions.DotProduct]]): identical IEEE
    * result to [[dot]] (same fixed accumulation order), but a
    * primitive float loop inside whole-stage codegen — the ADC/PQ
    * score paths use this form.
    */
  def dotNative(a: Column, b: Column): Column =
    call_function("dot_product", a, b)

  /** Cosine via the native codegen'd expression
    * ([[graft.functions.expressions.CosineSimilarity]], registered by
    * [[graft.Engine.extensions]]): identical IEEE result to [[cosine]]
    * (same per-element op order), but a primitive float loop inside
    * whole-stage codegen instead of an interpreted lambda fold — the
    * form the ANN hot path wants.
    */
  def cosineNative(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  /** Exact cosine top-k of `query` (an array<float> literal/column) over
    * `vecs(idCol, vecCol)`. Executes as map-side score + global top-k.
    */
  def bruteForceTopK(vecs: DataFrame, idCol: String, vecCol: String,
      query: Column, k: Int): DataFrame =
    vecs.select(col(idCol), cosineNative(col(vecCol), query).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)

  /** Deterministic sign-bit LSH bucket: bit i compares the values at two
    * fixed positions (a data-independent random-ish hyperplane that needs
    * no model state, so bucketing is reproducible everywhere). `pairs`
    * are 1-based (i, j) index pairs, one per bit.
    *
    * A FOLDABLE float-array `vec` (the single-query case: `array(lit..)`)
    * is folded to a literal bucket string at plan time. That is what
    * ConstantFolding produces anyway in optimized plans, but doing it
    * here also covers pre-folding evaluation paths: Spark's
    * `ConvertToLocalRelation` compiles Filter predicates BEFORE constant
    * folding, and the built-in `element_at` over a foldable
    * `CreateArray` mis-generates there (ElementAt.nullable computes
    * false, so codegen's non-nullable branch drops the `isNull_N`
    * declaration that ElementAt's own snippet still assigns — Janino
    * "not an rvalue", silent interpreted fallback). A literal bucket
    * also gives the planner a pushable `bucket = '10'` predicate — the
    * partition-pruning shape the IVF layout wants.
    */
  def signBucket(vec: Column, pairs: Seq[(Int, Int)]): Column =
    foldedFloatQuery(vec) match {
      case Some(vals) if pairs.forall { case (i, j) => i >= 1 && j >= 1 } =>
        lit(signBits(vals, pairs))
      case _ => concat(pairs.map { case (i, j) =>
        when(element_at(vec, i) > element_at(vec, j), "1").otherwise("0")
      }: _*)
    }

  /** Driver-side restatement of signBucket's expression form — MUST
    * mirror `when(element_at(vec, i) > element_at(vec, j), "1")
    * .otherwise("0")` bit for bit: out-of-bounds or null element makes
    * the condition NULL → "0", and float order is Spark's SQL ordering
    * (`SQLOrderingUtil.compareFloats` — exactly what the generated
    * comparison calls, NaN largest). PropertySpec-grade equivalence is
    * pinned in CodegenHealthSpec over randomized vectors.
    */
  private[graft] def signBits(vals: Array[java.lang.Float],
      pairs: Seq[(Int, Int)]): String = {
    val n = vals.length
    pairs.map { case (i, j) =>
      if (i > n || j > n || vals(i - 1) == null || vals(j - 1) == null) "0"
      else if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil
          .compareFloats(vals(i - 1), vals(j - 1)) > 0) "1"
      else "0"
    }.mkString
  }

  /** Element values of a constant float-array Column
    * (see [[org.apache.spark.sql.graft.ColumnBridge.constantFloatArray]]).
    */
  private def foldedFloatQuery(vec: Column): Option[Array[java.lang.Float]] =
    org.apache.spark.sql.graft.ColumnBridge.constantFloatArray(vec)

  val defaultPairs: Seq[(Int, Int)] = Seq((1, 2), (3, 4), (5, 6), (7, 8))

  /** 8-bit variant (256 buckets): the right resolution when buckets
    * feed a pairwise candidate join, where bucket population enters
    * quadratically.
    */
  val finePairs: Seq[(Int, Int)] = Seq((1, 2), (3, 4), (5, 6), (7, 8),
    (9, 10), (11, 12), (13, 14), (15, 16))

  /** The sign-LSH scale path, made mechanical: bucket-bit count sized
    * so expected bucket population stays near `targetBucketSize` —
    * bits = ceil(log2(n / target)) — because Σ|bucket|² candidate mass
    * is quadratic in bucket population; a FIXED bit width is n²/2^bits
    * (measured: exponent 2.0 in SCALING.md's `signlsh_cand_fixed8`
    * row, restored to ~linear by growing bits with the corpus). Pairs
    * are disjoint consecutive dimensions, capped at dim/2 distinct
    * comparisons — ask for more and the vector simply cannot supply
    * independent sign bits (loud failure, not silent truncation).
    */
  def scaledSignPairs(n: Long, dim: Int,
      targetBucketSize: Int = 32): Seq[(Int, Int)] = {
    require(dim >= 2)
    val bits = scaledSignBits(n, targetBucketSize)
    require(bits <= dim / 2,
      s"need $bits sign bits for n=$n at target bucket $targetBucketSize, " +
        s"but a $dim-dim vector supplies at most ${dim / 2} disjoint pairs — " +
        "raise targetBucketSize or use a learned quantizer (kmeans/IVF)")
    (0 until bits).map(i => (2 * i + 1, 2 * i + 2))
  }

  /** Bit count for [[scaledSignPairs]]: the smallest b (≥ 4) with
    * `targetBucketSize * 2^b >= n`. INTEGER arithmetic throughout —
    * `ceil(log2(n/target))` through doubles can land on either side of
    * an exact power of two depending on the engine's libm, and the
    * oracle gates need Scala and DuckDB to derive the IDENTICAL width
    * from the corpus count ([[scaledSignBitsSql]] is the SQL twin;
    * PlanShapeSpec pins them equal across the boundary range).
    */
  def scaledSignBits(n: Long, targetBucketSize: Int = 32): Int = {
    require(n > 0 && targetBucketSize >= 1)
    val m = (n + targetBucketSize - 1) / targetBucketSize // ceil(n/target)
    val raw = if (m <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.max(4, raw)
  }

  /** DuckDB scalar subquery computing [[scaledSignBits]] over
    * `count(*)` of `tbl` — `length(format('{:b}', m-1))` is the exact
    * integer ceil-log2, never a libm rounding.
    */
  def scaledSignBitsSql(tbl: String, targetBucketSize: Int = 32): String =
    s"""(SELECT GREATEST(4, CASE WHEN __m <= 1 THEN 0
          ELSE length(format('{:b}', __m - 1)) END)
        FROM (SELECT (count(*) + ${targetBucketSize - 1}) // $targetBucketSize
                AS __m FROM $tbl))"""

  /** DuckDB bucket-string expression over the SIZED pair set — the
    * oracle twin of `signLshBuckets(vecs, vecCol, scaledSignPairs(n,
    * dim, target))`: same disjoint consecutive pairs (2i-1, 2i), same
    * '1'/'0' encoding with NULL/out-of-range comparisons folding to
    * '0' (SQL three-valued CASE), bit count derived from the same
    * corpus count.
    */
  def scaledBucketSql(tbl: String, vecCol: String,
      targetBucketSize: Int = 32): String =
    s"""array_to_string([CASE WHEN $vecCol[2*__i-1] > $vecCol[2*__i]
          THEN '1' ELSE '0' END
        for __i in generate_series(1,
          ${scaledSignBitsSql(tbl, targetBucketSize)})], '')"""

  /** Bucket assignment for the whole table (write `partitionBy(bucket)`
    * for an IVF-style layout where search touches one partition).
    */
  def signLshBuckets(vecs: DataFrame, vecCol: String,
      pairs: Seq[(Int, Int)] = defaultPairs): DataFrame =
    vecs.withColumn("bucket", signBucket(col(vecCol), pairs))

  /** ANN top-k: prune to the query's sign-bucket, then exact cosine rank
    * within the bucket.
    */
  def annTopK(vecs: DataFrame, idCol: String, vecCol: String,
      query: Column, k: Int,
      pairs: Seq[(Int, Int)] = defaultPairs): DataFrame = {
    val bucketed = signLshBuckets(vecs, vecCol, pairs)
    val qBucket = signBucket(query, pairs)
    bruteForceTopK(
      bucketed.filter(col("bucket") === qBucket).drop("bucket"),
      idCol, vecCol, query, k)
  }

  /** Batch ANN — top-k nearest neighbors for EVERY query row, the
    * production retrieval shape of a training-data pipeline (one query
    * per row, not one per job).
    *
    * Physical shape, and why it scales where all-pairs does not:
    *  - both sides get a sign-LSH bucket (per-row, no shuffle);
    *  - queries join candidates on bucket EQUALITY — a hash join whose
    *    cost is Σ |bucket_v| · |bucket_q|, not |V| · |Q|. With B
    *    buckets that is ~|V|·|Q|/B work; growing `pairs` grows B
    *    exponentially, so the pruning ratio is a tuning knob;
    *  - scoring is the native codegen'd `cosine_sim` double loop — the
    *    hot path stays inside whole-stage codegen (the decimal-exact
    *    formulation exists only on the oracle gate, q48);
    *  - the per-query cut runs on the bounded-heap plan
    *    ([[graft.operators.TopK.perGroup]]): map-side prune to ≤ k rows
    *    per query per partition, shuffle ≤ k·|Q|·partitions rows, no
    *    sort anywhere.
    *
    * The broadcast hint (`broadcastQueries = true`) fits the common
    * contract |Q| ≪ |V|; for a query set too large to broadcast, pass
    * `broadcastQueries = false` and the same plan runs as a shuffle
    * equality join on the bucket key — never a nested loop
    * (SimilaritySpec pins both shapes). Like every LSH
    * method this is approximate: recall is bounded by bucket agreement
    * (a neighbor in another bucket is unseen). `probeHamming` is the
    * multi-probe knob: each query additionally probes every bucket
    * within that Hamming distance of its own (still a bucket EQUALITY
    * join — the query side explodes to Σ C(bits,h) rows, the vector
    * side is untouched), trading candidate volume for recall. With b
    * bucket bits, probeHamming=1 scores ~(1+b)/B of the corpus per
    * query instead of 1/B.
    */
  def batchAnnTopK(vecs: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int, pairs: Seq[(Int, Int)] = defaultPairs,
      probeHamming: Int = 0, broadcastQueries: Boolean = true): DataFrame = {
    val cands = signLshBuckets(vecs, vecCol, pairs)
    val probes = probeBuckets(signBucket(col(qvecCol), pairs),
      pairs.length, probeHamming)
    val qb0 = queries.select(col("*"),
      explode(probes).as("__qbucket"))
    val qb = if (broadcastQueries) broadcast(qb0) else qb0
    val scored = cands.join(qb,
        col("bucket") === col("__qbucket") && col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol),
        cosineNative(col(vecCol), col(qvecCol)).as("cosine"))
      // Degenerate rows (null / zero-norm vectors) score null or NaN;
      // neither is a rankable neighbor. No distinct is needed: the
      // probe set is distinct bucket strings and a vector has exactly
      // one bucket, so each (query, vector) pair joins at most once.
      .filter(col("cosine").isNotNull && !isnan(col("cosine")))
    TopK.perGroup(scored, Seq(qidCol),
      Seq(col("cosine").desc, col(idCol).asc), k)
  }

  /** All '0'/'1' bucket strings within Hamming distance `maxHamming` of
    * `bucket`, as an array column (the multi-probe expansion). Purely
    * compile-time enumeration of flip masks — at runtime each probe is
    * a fixed character-flip projection of the query's own bucket.
    */
  private[graft] def probeBuckets(bucket: Column, bits: Int,
      maxHamming: Int): Column = {
    def flips(positions: Seq[Int]): Column =
      if (positions.isEmpty) bucket
      else positions.foldLeft(bucket) { (b, p) =>
        concat(
          (if (p > 1) Seq(substring(b, 1, p - 1)) else Nil) ++
            Seq(when(substring(b, p, 1) === "1", "0").otherwise("1")) ++
            (if (p < bits) Seq(substring(b, p + 1, bits - p)) else Nil): _*)
      }
    val masks = (0 to maxHamming).flatMap(h =>
      (1 to bits).combinations(h).map(_.toSeq))
    array(masks.map(flips): _*)
  }

  // ---------------------------------------------------------------------
  // IVF (inverted-file) index: coarse centroids → cluster assignment →
  // PARTITIONED physical layout → probe-limited search. At 100 TB this
  // is the structure that turns ANN from a full scan into a read of
  // nprobe partitions: the cluster id is a partition column, so Spark's
  // partition pruning skips every unprobed cluster at the FILE level.
  // ---------------------------------------------------------------------

  /** Mean vector per cluster of `clusterCol` (the coarse quantizer
    * training step; any initial assignment works — a label column, a
    * sign-LSH bucket, or a previous IVF pass for Lloyd iterations).
    */
  def centroids(vecs: DataFrame, clusterCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    vecs.select(col(clusterCol).as("cluster"),
        posexplode(col(vecCol)).as(Seq("pos", "vf")))
      .groupBy("cluster", "pos")
      .agg(avg(col("vf").cast(DoubleType)).as("c"))
      .groupBy("cluster")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pairs"))
      .select(col("cluster"),
        transform(col("pairs"), p => p.getField("c").cast("float")).as("centroid"))
  }

  /** Nearest-centroid assignment (shared by the IVF build and k-means):
    * broadcast the centroid table, score every (vector, centroid) pair
    * with the native cosine, keep the best per vector (deterministic
    * cluster-id tiebreak).
    */
  private[graft] def assignNearest(vecs: DataFrame, idCol: String, vecCol: String,
      centroidDf: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(centroidDf))
      .withColumn("sim", cosineNative(col(vecCol), col("centroid")))
      .transform(d => graft.functions.ColumnLib.latestWins(d, Seq(idCol),
        Seq(col("sim").desc_nulls_last, col("cluster").asc)))

  /** One Lloyd iteration: re-assign vectors to their nearest centroid,
    * then recompute centroids as cluster means. Iterate a few times
    * from any seed assignment (a label column or sign-LSH buckets) for
    * a real k-means coarse quantizer; each step is one broadcast join +
    * one aggregate — no quadratic stage.
    */
  def kmeansStep(vecs: DataFrame, idCol: String, vecCol: String,
      centroidDf: DataFrame): DataFrame =
    centroids(assignNearest(vecs, idCol, vecCol, centroidDf)
      .select(col("cluster"), col(vecCol)), "cluster", vecCol)

  /** Assign every vector to its nearest centroid and write the table
    * partitioned by cluster — the IVF build. Same assignment as the
    * quantizer training ([[assignNearest]]), so layout and training
    * can never disagree. `metaCols` names extra payload columns to
    * carry into the index rows (e.g. a language or license tag) —
    * the storage half of filtered vector search: a predicate over
    * these columns can then prune candidates INSIDE the probe scan
    * ([[ivfSearchFiltered]]) instead of after the top-k cut.
    */
  def ivfWrite(vecs: DataFrame, idCol: String, vecCol: String,
      centroidDf: DataFrame, path: String,
      metaCols: Seq[String] = Nil): Unit =
    ivfIngest(vecs, idCol, vecCol, centroidDf, path, None,
      floatRows(idCol, vecCol, metaCols))

  /** Symmetric per-vector max-abs int8 quantization: adds `qvec`
    * (array<tinyint>, q_i = round(v_i * 127 / maxabs)) and `scale`
    * (double, maxabs / 127) to every row — 4x fewer embedding bytes
    * before an index build, and the integer dot product over `qvec` is
    * the cheap SIMD score path ([[graft.queries.SimilarityOps]] q69
    * shows cosine over int8 needs no scales at all). Entirely
    * map-side: zero shuffle, one pass. Zero vectors take an explicit
    * all-zeros branch (0/0 is NaN, and NaN-to-int casts are
    * engine-dependent). Per-element reconstruction error is bounded by
    * scale/2 (spec-pinned in SimilaritySpec).
    */
  def quantizeInt8(vecs: DataFrame, vecCol: String): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, DoubleType}
    // The output contract names two columns; refusing a collision
    // loudly beats silently overwriting caller data.
    require(!vecs.columns.contains("scale") && !vecs.columns.contains("qvec"),
      "input already has a 'scale' or 'qvec' column; rename it first")
    vecs
      .withColumn("scale",
        array_max(transform(col(vecCol), x => abs(x)))
          .cast(DoubleType) / lit(127.0))
      .withColumn("qvec",
        when(col("scale") === 0d,
          transform(col(vecCol), _ => lit(0).cast(ByteType)))
          .otherwise(transform(col(vecCol), x =>
            round(x.cast(DoubleType) / col("scale")).cast(ByteType))))
  }

  /** Batch IVF search: many queries in one plan. Per-query centroid
    * ranking is a broadcast of the (tiny) centroid table + a bounded-
    * heap top-nprobe per query — no driver collect, unlike the
    * single-query [[ivfSearch]] whose probe list is a bounded scalar.
    * Candidates come from an EQUALITY join of the probe table against
    * the cluster-partitioned index: each probed cluster is read once
    * for ALL queries probing it (per-query partition pruning
    * generalizes to a join at batch scale; with |Q| queries and B
    * clusters the scan covers ≤ min(B, |Q|·nprobe) partitions). Exact
    * cosine ranks within candidates; a second bounded heap cuts top-k
    * per query. The probe table is |Q|·nprobe rows — broadcast by
    * default; pass `broadcastProbes = false` for query sets too large
    * to broadcast (the join falls back to a shuffle hash join on the
    * cluster id, same as [[batchAnnTopK]]'s contract).
    *
    * UNLIKE the single-query [[ivfSearch]]/[[ivfSearchSq8]] (whose
    * contract is "callers filter"), this variant EXCLUDES candidates
    * whose index id equals the query id — the batch shape exists for
    * all-vs-index self-search, where the query's own row is rank 1 by
    * construction and would waste a top-k slot per query. Two
    * corollaries of that null-unsafe `=!=`: query ids drawn from a
    * DIFFERENT id space that numerically collide with index ids lose
    * that one candidate, and a NULL query id matches nothing (every
    * comparison is NULL) so such a query returns zero rows — assign
    * non-null ids from the index's id space, or from a disjoint range
    * if self-exclusion must be a no-op.
    */
  def ivfSearchBatch(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String, centroidDf: DataFrame,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nprobe: Int, broadcastProbes: Boolean = true): DataFrame = {
    // The probe join introduces the index's `cluster` column and the
    // centroid frame's `centroid` into the query frame's namespace;
    // refusing the collision loudly beats an ambiguous-reference error
    // (or a silently wrong probe ranking) downstream.
    require(!queries.columns.contains("cluster") &&
      !queries.columns.contains("centroid"),
      "queries frame already has a 'cluster' or 'centroid' column; rename it first")
    val probes0 = queryProbes(queries, qidCol, qvecCol, centroidDf, nprobe)
      .select(col(qidCol), col(qvecCol), col("cluster"))
    val probes = if (broadcastProbes) broadcast(probes0) else probes0
    val scored = readLive(spark, path, idCol)
      .join(probes, Seq("cluster"))
      .filter(col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol),
        cosineNative(col(vecCol), col(qvecCol)).as("cosine"))
      .filter(col("cosine").isNotNull && !isnan(col("cosine")))
    TopK.perGroup(scored, Seq(qidCol),
      Seq(col("cosine").desc, col(idCol).asc), k)
  }

  /** Driver-side probe ranking shared by the float and SQ8 searches:
    * the nprobe clusters whose centroids are nearest the query, under
    * the SAME total order as [[assignNearest]] (desc nulls last,
    * cluster-id tiebreak) — placement and probing can never disagree.
    * Bounded by the centroid count.
    */
  private def probeClusters(centroidDf: DataFrame, query: Seq[Float],
      nprobe: Int): Array[Any] = {
    val q = array(query.map(lit): _*)
    centroidDf
      .select(col("cluster"), cosineNative(col("centroid"), q).as("sim"))
      .orderBy(col("sim").desc_nulls_last, col("cluster"))
      .limit(nprobe)
      .collect().map(_.get(0))
  }

  /** [[probeClusters]] for a query BATCH, in the plan: each query row
    * joined to its nprobe nearest centroids under the same total order
    * — a broadcast of the (tiny) centroid table and a bounded-heap
    * top-nprobe per query, no driver collect. Keeps the query columns
    * plus the centroid frame's.
    */
  private def queryProbes(queries: DataFrame, qidCol: String,
      qvecCol: String, centroidDf: DataFrame, nprobe: Int): DataFrame = {
    val csimC = graft.functions.ColumnLib.freeColumn(queries, "__csim")
    TopK.perGroup(
      queries.crossJoin(broadcast(centroidDf))
        .withColumn(csimC, cosineNative(col(qvecCol), col("centroid"))),
      Seq(qidCol), Seq(col(csimC).desc_nulls_last, col("cluster").asc),
      nprobe)
  }

  /** IVF-SQ8 build: the cluster-partitioned IVF layout with int8
    * payloads — routing stays on the float centroids (same assignment
    * as [[ivfWrite]], so SQ8 and float indexes agree on placement),
    * but the stored vector is [[quantizeInt8]]'s `qvec` + `scale`:
    * 4x fewer index bytes, and in-cluster scoring becomes the integer
    * dot product. This is the FAISS IVF-SQ recipe, the shape that
    * keeps a 100 TB index inside the page cache.
    */
  def ivfWriteSq8(vecs: DataFrame, idCol: String, vecCol: String,
      centroidDf: DataFrame, path: String): Unit =
    ivfIngest(vecs, idCol, vecCol, centroidDf, path, None,
      sq8Rows(idCol, vecCol))

  /** Batch search over an SQ8 index: [[ivfSearchBatch]]'s distributed
    * shape (bounded-heap probe selection per query, one equality join
    * against the cluster-partitioned index, bounded-heap top-k) with
    * [[ivfSearchSq8]]'s integer score path. Queries arrive as FLOAT
    * vectors: probe ranking runs on the float centroids (placement and
    * probing stay shared with the float index), and each query is
    * quantized IN THE PLAN with [[quantizeInt8]]'s exact expression —
    * map-side, once per query — so in-cluster cosine is pure int8
    * arithmetic against the index's stored payloads. Same
    * self-exclusion contract as [[ivfSearchBatch]] (and the same
    * corollaries: null-unsafe `=!=`, NULL query ids match nothing).
    */
  def ivfSearchBatchSq8(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, centroidDf: DataFrame,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nprobe: Int, broadcastProbes: Boolean = true): DataFrame = {
    // The probe join introduces `cluster`/`centroid`, and the index
    // side carries `qvec`/`scale`/`nrm2`; refuse every collision
    // loudly (the quantizer's own require covers scale/qvec).
    require(Seq("cluster", "centroid", "nrm2")
        .forall(c => !queries.columns.contains(c)),
      "queries frame already has a 'cluster', 'centroid' or 'nrm2' column; rename it first")
    val qqC = graft.functions.ColumnLib.freeColumn(queries, "__qq")
    val qn2C = graft.functions.ColumnLib.freeColumn(queries, "__qn2")
    val qz = quantizeInt8(queries.select(col(qidCol), col(qvecCol)), qvecCol)
      .select(col(qidCol), col(qvecCol),
        col("qvec").as(qqC), int8SelfNorm(col("qvec")).as(qn2C))
    val probes0 = queryProbes(qz, qidCol, qvecCol, centroidDf, nprobe)
      .select(col(qidCol), col(qqC), col(qn2C), col("cluster"))
    val probes = if (broadcastProbes) broadcast(probes0) else probes0
    val idot = aggregate(
      zip_with(col("qvec"), col(qqC),
        (a, b) => (a.cast("int") * b.cast("int")).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val scored = readLive(spark, path, idCol)
      .join(probes, Seq("cluster"))
      .filter(col(idCol) =!= col(qidCol))
      .filter(col("nrm2") > 0 && col(qn2C) > 0)
      .select(col(qidCol), col(idCol),
        round(idot.cast("double") /
          (sqrt(col("nrm2").cast("double")) * sqrt(col(qn2C).cast("double"))),
          9).as("cosine"))
    TopK.perGroup(scored, Seq(qidCol),
      Seq(col("cosine").desc, col(idCol).asc), k)
  }

  private def int8SelfNorm(qvec: Column): Column =
    aggregate(
      zip_with(qvec, qvec,
        (a, b) => (a.cast("int") * b.cast("int")).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Probe-limited search over an SQ8 index: float centroids rank the
    * probes (bounded driver list, as [[ivfSearch]]); the query is
    * quantized with its own max-abs scale; in-cluster cosine is then
    * PURE INTEGER arithmetic — per-vector quantization scales cancel
    * in cosine, so int8 products summed into a long (exact,
    * order-free) need no scale corrections and no decimal detour. The
    * query's own id is not excluded; callers filter if needed.
    */
  def ivfSearchSq8(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, centroidDf: DataFrame, query: Seq[Float],
      k: Int, nprobe: Int): DataFrame = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val probes = probeClusters(centroidDf, query, nprobe)
    // Quantize the one query vector on the driver with the same
    // HALF_UP rounding quantizeInt8 compiles into the plan
    // (Math.round would differ on negative halves). A degenerate
    // query (empty, all-zero, or any non-finite element — NaN
    // poisons the max) quantizes to all zeros: its norm is 0, the
    // norm filter below drops every candidate, and the search
    // returns empty — the same "no rankable neighbor" contract as
    // the float paths' NaN filters.
    val maxabs = if (query.isEmpty) 0f else query.map(math.abs).max
    val qq: Seq[Int] =
      if (maxabs == 0f || !java.lang.Float.isFinite(maxabs)) query.map(_ => 0)
      else {
        val sc = maxabs.toDouble / 127.0
        query.map(v => JBD.valueOf(v.toDouble / sc)
          .setScale(0, RoundingMode.HALF_UP).intValueExact())
      }
    val qnrm2 = qq.map(x => x.toLong * x).sum
    val idot = aggregate(
      zip_with(col("qvec"), array(qq.map(lit): _*),
        (a, b) => (a.cast("int") * b).cast("long")),
      lit(0L), (acc, x) => acc + x)
    readLive(spark, path, idCol)
      .filter(col("cluster").isin(probes.toIndexedSeq: _*))
      .select(col(idCol), idot.as("__dot"), col("nrm2").as("__n2"))
      .filter(col("__n2") > 0 && lit(qnrm2) > 0)
      .select(col(idCol),
        round(col("__dot").cast("double") /
          (sqrt(col("__n2").cast("double")) * sqrt(lit(qnrm2.toDouble))),
          9).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Probe-limited IVF search: rank centroids against the query on the
    * driver (centroids are tiny), then scan ONLY the nprobe nearest
    * clusters — a partition-pruned read — and exact-rank within them.
    */
  def ivfSearch(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String, centroidDf: DataFrame,
      query: Seq[Float], k: Int, nprobe: Int): DataFrame = {
    val probes = probeClusters(centroidDf, query, nprobe)
    val pruned = readLive(spark, path, idCol)
      .filter(col("cluster").isin(probes.toIndexedSeq: _*))
    bruteForceTopK(pruned, idCol, vecCol, array(query.map(lit): _*), k)
  }

  /** PRE-filtered IVF search: [[ivfSearch]] with a metadata predicate
    * applied INSIDE the partition-pruned probe read, before scoring
    * and before the top-k cut. This is the "filtered vector search"
    * production shape (search only docs with lang='en' / license ok):
    * the predicate lands on index columns written via [[ivfWrite]]'s
    * `metaCols`, so Spark pushes it into the parquet scan of the
    * probed clusters — selectivity reduces the SCAN, and k survivors
    * are guaranteed to satisfy it. The alternative (post-filtering a
    * plain top-k) silently under-fills k under selective predicates;
    * graft.queries.SimilarityOps q183 measures that recall gap
    * head-to-head against the exact filtered top-k.
    */
  def ivfSearchFiltered(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, vecCol: String, centroidDf: DataFrame,
      query: Seq[Float], k: Int, nprobe: Int,
      predicate: Column): DataFrame = {
    val probes = probeClusters(centroidDf, query, nprobe)
    val pruned = readLive(spark, path, idCol)
      .filter(col("cluster").isin(probes.toIndexedSeq: _*))
      .filter(predicate)
    bruteForceTopK(pruned, idCol, vecCol, array(query.map(lit): _*), k)
  }

  // ---- product quantization (the next rung after SQ8) -----------------
  // SQ8 compresses 4x and keeps per-dimension fidelity; PQ compresses
  // to m CODES per vector (m bytes when k ≤ 256) by splitting the
  // vector into m contiguous subspaces and snapping each subvector to
  // its nearest per-subspace centroid. Search never touches vectors:
  // an ADC (asymmetric distance computation) scores a candidate as the
  // inner product of the query with the RECONSTRUCTION — equivalently,
  // the sum of m lookup-table entries. 64-dim floats (256 B) become 4
  // codes (4 B) — the 64x rung of the flat → IVF → SQ8 → PQ ladder.

  /** Per-row subspace explode: (row, sub, sv) with sv the `sub`-th
    * contiguous `subDim`-slice of the vector. The fan-out is m — a
    * small constant — and everything downstream of it is map-side.
    */
  private def subVectors(vecs: DataFrame, vecCol: String, m: Int,
      subDim: Int): DataFrame =
    vecs.select(col("*"), explode(array((0 until m).map(j =>
        struct(lit(j).as("sub"),
          slice(col(vecCol), j * subDim + 1, subDim).as("sv"))): _*))
        .as("__s"))
      .select((vecs.columns.map(col) :+ col("__s.sub") :+ col("__s.sv")): _*)

  /** Train a PQ codebook: per subspace, bucket subvectors by two
    * data-independent sign bits (same reproducible-everywhere seeding
    * as [[signBucket]] — positions relative to the subspace) and take
    * per-bucket elementwise means. 4 centroids per subspace; refine
    * with per-subspace Lloyd steps ([[kmeansStep]] on the (sub, sv)
    * frame) if the corpus warrants it. Returns (sub, cluster,
    * centroid); the whole table is m·4 rows — always broadcastable.
    */
  def pqCodebook(vecs: DataFrame, vecCol: String, m: Int,
      subDim: Int): DataFrame = {
    require(m > 0 && subDim >= 4, "need m ≥ 1 subspaces of ≥ 4 dims")
    require(vecCol != "sub" && vecCol != "sv",
      "vector column collides with the subspace working names")
    val pairs = Seq((1, subDim / 2 + 1), (subDim / 4 + 1, 3 * subDim / 4 + 1))
    val sv = subVectors(vecs.select(col(vecCol)), vecCol, m, subDim)
      .select(col("sub"), col("sv"), signBucket(col("sv"), pairs).as("cluster"))
    centroids(sv.select(concat_ws(":", col("sub"), col("cluster")).as("ck"),
        col("sv")), "ck", "sv")
      .select(split(col("cluster"), ":").getItem(0).cast("int").as("sub"),
        split(col("cluster"), ":").getItem(1).as("cluster"), col("centroid"))
  }

  /** Encode every vector as m codes: per (row, subspace), the centroid
    * minimizing L2 distance to the subvector (computed via three dot
    * products — the norms hoist out of the pair loop). Broadcast
    * codebook, deterministic cluster-id tiebreak; entirely map-side
    * except the top-1 cut. Returns (idCol, sub, cluster) long form —
    * the shape ADC joins against; pivot to an array for storage.
    */
  def pqEncode(vecs: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, m: Int, subDim: Int): DataFrame = {
    require(!Seq("sub", "sv", "cluster", "centroid").contains(idCol) &&
      !Seq("sub", "sv").contains(vecCol),
      "id/vector columns collide with the codebook working names")
    val sv = subVectors(vecs.select(col(idCol), col(vecCol)), vecCol, m, subDim)
      .withColumn("__svn", dotNative(col("sv"), col("sv")))
    val cb = codebook.withColumn("__cn",
      dotNative(col("centroid"), col("centroid")))
    graft.functions.ColumnLib.latestWins(
        sv.join(broadcast(cb), Seq("sub"))
          .withColumn("__d2",
            col("__svn") - lit(2.0) * dotNative(col("sv"), col("centroid")) +
              col("__cn")),
        Seq(idCol, "sub"), Seq(col("__d2").asc_nulls_last, col("cluster").asc))
      .select(col(idCol), col("sub"), col("cluster"))
  }

  /** Reconstruct quantized vectors from codes + codebook: the m
    * centroid slices concatenated in subspace order. One broadcast
    * join + one aggregate per vector — used by ADC scoring and by
    * reconstruction-error audits.
    */
  def pqReconstruct(codes: DataFrame, codebook: DataFrame,
      idCol: String): DataFrame =
    codes.join(broadcast(codebook), Seq("sub", "cluster"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("sub"), col("centroid"))))
        .as("__p"))
      .select(col(idCol),
        flatten(transform(col("__p"), p => p.getField("centroid")))
          .as("recon"))

  /** Per-query ADC lookup table: one row per codebook entry with
    * `t = ⟨query_sub, centroid⟩` — the m×|clusters| table the classic
    * ADC recipe precomputes once per query. Built ON the codebook
    * frame (already bounded/broadcastable), with the query subspace
    * sliced out of the literal by each row's own `sub`/centroid width.
    */
  def pqAdcLut(codebook: DataFrame, query: Seq[Float]): DataFrame = {
    val qlit = array(query.map(lit): _*)
    codebook.select(col("sub"), col("cluster"),
      dotNative(
        slice(qlit, col("sub") * size(col("centroid")) + lit(1),
          size(col("centroid"))),
        col("centroid")).as("t"))
  }

  /** ADC top-k: score = query · reconstruction (asymmetric — the query
    * stays full-precision, candidates exist only as codes), computed
    * the way ADC is meant to run at scale: the per-query lookup table
    * [[pqAdcLut]] broadcasts, and each candidate costs m table
    * lookups + adds (a hash join on (sub, cluster) + a plain
    * map-side-combinable sum) instead of reconstruct-then-dot's
    * d multiplies over a materialized `recon` array. ~dim/m fewer
    * FLOPs per candidate, no per-row array allocation, no
    * collect_list/sort in the hot path.
    *
    * Contract: `codes` must carry all m subspaces per id (pqEncode's
    * output shape) — an id with missing codes scores on its present
    * subspaces only. Subspace partials accumulate per-subspace then
    * sum, so low-order float bits can differ from a straight
    * reconstruct-dot; SimilaritySpec pins the two formulations equal
    * on exactly-representable fixtures.
    */
  def pqAdcTopK(codes: DataFrame, codebook: DataFrame, idCol: String,
      query: Seq[Float], k: Int): DataFrame =
    codes.join(broadcast(pqAdcLut(codebook, query)), Seq("sub", "cluster"))
      .groupBy(col(idCol))
      .agg(sum(col("t")).as("score"))
      .orderBy(col("score").desc_nulls_last, col(idCol))
      .limit(k)

  /** Persisted IVF-PQ index: codes (NOT vectors) partitioned by coarse
    * cluster — per candidate row the index stores m codes plus the id,
    * the most compact rung of the index family (float 256 B → SQ8
    * 64 B → PQ ~4 B per 64-dim vector). Coarse assignment is shared
    * with [[ivfWrite]]/[[ivfWriteSq8]] (same [[assignNearest]]), so all
    * four layouts route identically; the PQ codebook rides along from
    * [[pqEncode]].
    */
  def ivfWritePq(vecs: DataFrame, idCol: String, vecCol: String,
      centroidDf: DataFrame, codebook: DataFrame, m: Int, subDim: Int,
      path: String): Unit =
    ivfIngest(vecs, idCol, vecCol, centroidDf, path, None,
      pqRows(idCol, vecCol, codebook, m, subDim))

  /** Probe-limited search over a persisted PQ-code index: rank coarse
    * probes on the driver ([[ivfSearch]]'s contract), read ONLY the
    * nprobe cluster partitions, reconstruct candidates from their
    * codes + the broadcast codebook, and ADC-rank. The scan touches
    * codes only — at 100 TB of vectors the probed read is ~64× smaller
    * than the float index's.
    */
  def ivfSearchPq(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, centroidDf: DataFrame, codebook: DataFrame,
      query: Seq[Float], k: Int, nprobe: Int): DataFrame = {
    val probes = probeClusters(centroidDf, query, nprobe)
    val pruned = readLive(spark, path, idCol)
      .filter(col("cluster").isin(probes.toIndexedSeq: _*))
      .select(col(idCol), col("sub"), col("code").as("cluster"))
    pqAdcTopK(pruned, codebook, idCol, query, k)
  }

  /** Batch search over a persisted PQ-code index: [[ivfSearchBatch]]'s
    * distributed shape (bounded-heap probe selection per query, one
    * equality join against the cluster-partitioned index, bounded-heap
    * top-k) with [[pqAdcTopK]]'s lookup-table score path generalized
    * to a query BATCH: the LUT becomes (qid, sub, code) → t — |Q|·m·
    * |clusters| rows, built once from the query set × the broadcast
    * codebook — and each candidate row costs one LUT hash-lookup + a
    * map-side-combinable sum, never a reconstruction array. With
    * `broadcastLut = false` (query sets too large to broadcast the
    * LUT) scoring falls back to joining the broadcast CODEBOOK
    * (always tiny) and slicing the query inline — d FLOPs per
    * candidate instead of m lookups, same results, no broadcast of
    * anything query-sized. Same self-exclusion contract (and
    * null-unsafe `=!=` corollaries) as [[ivfSearchBatch]].
    */
  def ivfSearchBatchPq(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, centroidDf: DataFrame,
      codebook: DataFrame, queries: DataFrame, qidCol: String,
      qvecCol: String, k: Int, nprobe: Int,
      broadcastLut: Boolean = true): DataFrame = {
    require(Seq("cluster", "centroid", "sub", "code", "__t")
        .forall(c => !queries.columns.contains(c)),
      "queries frame collides with the index working columns; rename first")
    val probes0 = queryProbes(queries, qidCol, qvecCol, centroidDf, nprobe)
      .select(col(qidCol), col(qvecCol), col("cluster"))
    val qsub = (cb: Column) =>
      slice(col(qvecCol), col("sub") * size(cb) + lit(1), size(cb))
    val candidates = readLive(spark, path, idCol)
      .join(broadcast(probes0.select(col(qidCol), col("cluster"))),
        Seq("cluster"))
      .filter(col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol), col("sub"), col("code"))
    val scored =
      if (broadcastLut) {
        val lut = probes0.select(col(qidCol), col(qvecCol)).distinct()
          .crossJoin(broadcast(codebook))
          .select(col(qidCol), col("sub"), col("cluster").as("code"),
            dotNative(qsub(col("centroid")), col("centroid")).as("__t"))
        candidates.join(broadcast(lut), Seq(qidCol, "sub", "code"))
      } else {
        candidates
          .join(broadcast(probes0.select(col(qidCol), col(qvecCol)).distinct()),
            qidCol)
          .join(broadcast(codebook.withColumnRenamed("cluster", "code")),
            Seq("sub", "code"))
          .withColumn("__t", dotNative(qsub(col("centroid")), col("centroid")))
      }
    TopK.perGroup(
      scored.groupBy(col(qidCol), col(idCol))
        .agg(sum(col("__t")).as("score")),
      Seq(qidCol), Seq(col("score").desc_nulls_last, col(idCol).asc), k)
  }

  /** Batch ADC: many queries against the code table in one plan.
    * Reconstructions are computed ONCE (query-independent) and every
    * query scores them off the broadcast query set; the per-query cut
    * runs on the bounded-heap top-k plan. This is deliberately the
    * exhaustive-over-codes shape (ADC's premise — codes are 64x
    * smaller than vectors, so scanning all of them is the point);
    * when even that is too much, route coarsely first and ADC within
    * probed clusters, exactly as the q99 gate composes it.
    *
    * Deliberately NOT the [[pqAdcLut]] form: with a query BATCH the
    * reconstruction cost amortizes over |Q| (one groupBy over id×m
    * rows total), while per-query LUTs would put |Q|·m rows through
    * the code join — the lookup-table trade only wins when one query
    * scans many codes, which is [[pqAdcTopK]]/[[ivfSearchPq]].
    */
  def pqAdcBatchTopK(codes: DataFrame, codebook: DataFrame, idCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int): DataFrame =
    TopK.perGroup(
      pqReconstruct(codes, codebook, idCol)
        .crossJoin(broadcast(queries.select(col(qidCol), col(qvecCol))))
        .select(col(qidCol), col(idCol),
          dotNative(col("recon"), col(qvecCol)).as("score")),
      Seq(qidCol), Seq(col("score").desc_nulls_last, col(idCol).asc), k)

  // ---- incremental index ingest ---------------------------------------
  // At 100 TB the index BUILD is the expensive job; re-running it for
  // every arriving embedding batch is the one cost a production vector
  // store cannot pay. The append path is the FAISS add-after-train
  // recipe: the coarse quantizer (and PQ codebook) stay FROZEN, new
  // vectors are assigned to the existing centroids and their payload
  // rows appended into the cluster-partitioned layout. Because routing
  // depends only on the frozen centroids, search-after-append is
  // IDENTICAL to search-after-full-rebuild over the same rows
  // (SimilaritySpec pins it for all four layouts) — no index
  // invalidation, no re-encode of old data.
  //
  // What appending CANNOT give is adaptation: if the data distribution
  // drifts, frozen centroids describe new batches worse and worse —
  // recall decays silently. So every append (and optionally the build)
  // records ASSIGNMENT TIGHTNESS — n, mean and min cosine of each
  // vector to its assigned centroid — into a 1-row-per-batch sidecar
  // at `path + "_stats"`, measured by an [[org.apache.spark.sql.Observation]]
  // on the very rows being written (zero extra scan). [[ivfStats]]
  // exposes the per-batch drift vs the build baseline; a pipeline
  // triggers re-train when it exceeds tolerance (q131 gates the
  // measurement; SimilaritySpec pins that a shifted batch shows it).

  private val obsSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** The ledgered layout of every IVF index ([[IndexCommit]]): the
    * `_stats` drift ledger is the commit ledger, one row
    * `(batch, n, mean_sim, min_sim)` per committed batch. The build
    * commits by its own overwrite, so `build` is committed whether or
    * not [[ivfRecordBuildStats]] recorded its baseline row.
    */
  private def ivfIndex(path: String) = IndexCommit.Index("vector index",
    path, "batch STRING, n LONG, mean_sim DOUBLE, min_sim DOUBLE",
    Seq(path -> "cluster=*/"))(ledger = path + "_stats",
    tombstones = path + "_tombstones", implicitBuild = true)

  /** Attaches the tightness observation to an assigned frame and
    * returns (observedFrame, row) where `row` reads the batch's ledger
    * row once the caller's write action has run.
    */
  private def observeTightness(
      assigned: DataFrame): (DataFrame, () => Seq[Any]) = {
    val obs = org.apache.spark.sql.Observation(
      s"ivf_ingest_${obsSeq.incrementAndGet()}")
    val observed = assigned.observe(obs,
      count(lit(1)).as("n"),
      avg(col("sim")).as("mean_sim"),
      min(col("sim")).as("min_sim"))
    (observed, () => { val m = obs.get; Seq(m("n"), m("mean_sim"), m("min_sim")) })
  }

  /** An IVF payload layout: renders a batch — its input vectors and
    * their [[assignNearest]] frame — into the index's physical rows,
    * `cluster` last. The four layouts share routing, so they share
    * every write, append, split and compact; only these differ.
    */
  private type Layout = (DataFrame, DataFrame) => DataFrame

  private def floatRows(idCol: String, vecCol: String,
      metaCols: Seq[String] = Nil): Layout = (_, assigned) =>
    assigned.select((Seq(col(idCol), col(vecCol)) ++ metaCols.map(col) :+
      col("cluster")): _*)

  // The int8 self-norm is a pure function of the stored qvec; computing
  // it once at write time turns every search's O(dim) per-candidate
  // fold into a single long read.
  private def sq8Rows(idCol: String, vecCol: String): Layout =
    (_, assigned) => quantizeInt8(assigned, vecCol)
      .select(col(idCol), col("qvec"), col("scale"),
        int8SelfNorm(col("qvec")).as("nrm2"), col("cluster"))

  /** PQ codes of the raw vectors (`code` = the codebook cluster) routed
    * by the assignment. Encoders read the raw rows and JOIN the
    * assignment, so an observed assignment appears once in the plan
    * (its metrics row is the commit payload).
    */
  private def pqRows(idCol: String, vecCol: String, codebook: DataFrame,
      m: Int, subDim: Int): Layout = (vecs, assigned) =>
    routed(pqEncode(vecs, idCol, vecCol, codebook, m, subDim), assigned,
      idCol)

  /** PQ codes of each vector's residual against its own coarse
    * centroid — the same [[assignNearest]] routing, recomputed inside
    * [[residualVectors]]; the stored cluster comes from `assigned`.
    */
  private def pqResidualRows(idCol: String, vecCol: String,
      centroidDf: DataFrame, codebook: DataFrame, m: Int,
      subDim: Int): Layout = (vecs, assigned) =>
    routed(pqEncode(residualVectors(vecs, idCol, vecCol, centroidDf), idCol,
      "residual", codebook, m, subDim), assigned, idCol)

  private def routed(codes: DataFrame, assigned: DataFrame,
      idCol: String): DataFrame =
    codes.withColumnRenamed("cluster", "code")
      .join(assigned.select(col(idCol), col("cluster")), idCol)

  /** The one IVF write: assign → encode → `(cluster, batch)` write. A
    * build (`batch` None) resets the ledger and tombstones and
    * overwrites the index; an append commits under the
    * [[IndexCommit.append]] protocol with its assignment tightness as
    * the ledger row, observed on the write itself (zero extra scan).
    */
  private def ivfIngest(vecs: DataFrame, idCol: String, vecCol: String,
      centroidDf: DataFrame, path: String, batch: Option[String],
      layout: Layout): Unit = {
    val spark = vecs.sparkSession
    val assigned = assignNearest(vecs, idCol, vecCol, centroidDf)
    batch match {
      case None =>
        IndexCommit.reset(spark, ivfIndex(path))
        writeClusters(layout(vecs, assigned), path, "build", overwrite = true)
      case Some(b) =>
        IndexCommit.append(spark, ivfIndex(path), b) { _ =>
          val (observed, row) = observeTightness(assigned)
          writeClusters(layout(vecs, observed), path, b, overwrite = false)
          row()
        }
    }
  }

  /** Co-locate each cluster before the partitioned write: without this
    * every shuffle partition can emit a file per cluster (partitions x
    * clusters small files — the classic partitionBy explosion); with it
    * the layout is one file per cluster. For clusters too large for a
    * single writer task, add a salt column to the repartition to widen
    * writers per cluster. `static`: a rebuild is a snapshot.
    */
  private def writeClusters(rows: DataFrame, path: String, batch: String,
      overwrite: Boolean): Unit =
    rows.withColumn("batch", lit(batch))
      .repartition(col("cluster"))
      .write.mode(if (overwrite) "overwrite" else "append")
      .option("partitionOverwriteMode", "static")
      .partitionBy("cluster", "batch").parquet(path)

  /** Distinct ids whose vectors belong to a COMMITTED batch — the
    * "already indexed" face a streaming ingest diffs its arrivals
    * against ([[graft.streaming.IncrementalStream.vectorIngestSink]];
    * the [[Dedup.bandIndexedIds]] convention). Orphan vectors from
    * torn appends are excluded ON PURPOSE: a torn batch must be
    * re-ingested whole (replace-by-batch deletes its orphan dirs), so
    * counting its ids as "indexed" would make the replay skip them and
    * the retry's orphan delete would then destroy the only copy.
    */
  def ivfIndexedIds(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String): DataFrame =
    IndexCommit.committedRows(spark, path,
      IndexCommit.readLedger(spark, ivfIndex(path)).committed)
      .select(col(idCol)).distinct()

  /** Append a new embedding batch into an existing [[ivfWrite]] float
    * index: assign to the FROZEN centroids (the exact [[assignNearest]]
    * the build used, so placement can never disagree), append the
    * cluster-partitioned rows, and record the batch's assignment
    * tightness under `batch` in the `_stats` sidecar. O(|batch|) work:
    * one broadcast-join scan of the new rows + one cluster-local
    * shuffle — the existing index is never read or rewritten.
    *
    * Crash/retry contract of every `ivfAppend*` face — the
    * [[IndexCommit.append]] protocol ([[TextIndex.append]]'s): the
    * batch's `_stats` ledger row is the COMMIT POINT, a batch id
    * already in the ledger is rejected loudly (exactly-once per id),
    * and a RETRY of a batch that died before its ledger write first
    * deletes the orphan `batch=<id>` partition directories
    * (replace-by-batch — re-running a failed append can never
    * duplicate a vector). What stays weaker than the text index: a
    * torn append's vectors are VISIBLE to searches early (search does
    * not filter on batch — the rows are real vectors, merely
    * uncommitted, and nothing double-counts), and [[ivfCompact]]
    * garbage-collects them if the batch is never retried.
    */
  def ivfAppend(vecs: DataFrame, idCol: String, vecCol: String,
      centroidDf: DataFrame, path: String, batch: String): Unit =
    ivfIngest(vecs, idCol, vecCol, centroidDf, path, Some(batch),
      floatRows(idCol, vecCol))

  /** [[ivfAppend]] for the SQ8 layout: same frozen-centroid routing,
    * int8 payload ([[quantizeInt8]] + hoisted self-norm, exactly the
    * build's columns).
    */
  def ivfAppendSq8(vecs: DataFrame, idCol: String, vecCol: String,
      centroidDf: DataFrame, path: String, batch: String): Unit =
    ivfIngest(vecs, idCol, vecCol, centroidDf, path, Some(batch),
      sq8Rows(idCol, vecCol))

  /** [[ivfAppend]] for the PQ-code layout: frozen coarse centroids AND
    * frozen codebook — new vectors are encoded with the build-time
    * codebook ([[pqEncode]]) and their code rows appended. Tightness is
    * observed on the coarse assignment (the routing that governs which
    * partitions a search reads).
    */
  def ivfAppendPq(vecs: DataFrame, idCol: String, vecCol: String,
      centroidDf: DataFrame, codebook: DataFrame, m: Int, subDim: Int,
      path: String, batch: String): Unit =
    ivfIngest(vecs, idCol, vecCol, centroidDf, path, Some(batch),
      pqRows(idCol, vecCol, codebook, m, subDim))

  /** [[ivfAppend]] for the RESIDUAL-encoded PQ layout
    * ([[ivfWritePqResidual]] — the FAISS production recipe), closing
    * the ingest ladder: frozen coarse centroids route the batch,
    * frozen residual codebook encodes each vector's residual against
    * its own assigned centroid, code rows append into the coarse
    * cluster partitions. Because routing AND encoding depend only on
    * the frozen quantizers, search-after-append is IDENTICAL to
    * search-after-rebuild over the same rows (SimilaritySpec pins it,
    * as for the other three layouts). Tightness is observed on the
    * coarse assignment — residual-codebook drift shows up THROUGH it
    * (a drifting batch has larger residuals ⇔ lower coarse cosine).
    */
  def ivfAppendPqResidual(vecs: DataFrame, idCol: String, vecCol: String,
      centroidDf: DataFrame, codebook: DataFrame, m: Int, subDim: Int,
      path: String, batch: String): Unit =
    ivfIngest(vecs, idCol, vecCol, centroidDf, path, Some(batch),
      pqResidualRows(idCol, vecCol, centroidDf, codebook, m, subDim))

  /** Compact an append-heavy vector index (any of the four layouts —
    * they share the cluster-partitioned parquet shape): every
    * `ivfAppend*` leaves one file per touched cluster per batch, and
    * probe cost at scale is file-count-dominated. The
    * [[IndexCommit.compact]] fold ([[graft.operators.TextIndex.compact]]'s
    * discipline): COMMITTED batches minus tombstoned ids fold into a
    * single `batch=build` layout (one file per cluster) under the
    * writer lock; rows are byte-identical afterwards except the batch
    * label, which no search reads, so search results cannot change
    * (SimilaritySpec pins it). Orphan vectors from appends that died
    * before their ledger commit are DROPPED — compaction is the index's
    * garbage collector, and a dropped batch id can still be retried
    * afterwards (its dirs are gone, its ledger row never existed). The
    * `_stats` ledger itself is untouched: unlike the text index's meta,
    * nothing in serving derives from it — it is pure drift diagnostics,
    * and keeping the rows preserves both the history and the
    * exactly-once guard on committed ids.
    */
  def ivfCompact(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    IndexCommit.compact(spark, ivfIndex(path), "cluster", mergeSchema = true)

  /** Tombstone-delete ids from an IVF-family index — the erasure face
    * ([[graft.operators.TextIndex.delete]]'s protocol, simpler here
    * because IVF scoring is pure geometry: no corpus constant needs a
    * correction, erasure is exactly "these ids never rank"). Works on
    * ALL FOUR layouts: deletion is by id, the payload is irrelevant.
    * Ids land batch-partitioned in a `_tombstones` sidecar; the
    * `del:<batch>` ledger row is the COMMIT POINT (torn deletes
    * invisible, retries replace-by-batch, committed ids exactly-once;
    * [[IndexCommit.delete]]); every search path anti-joins committed
    * tombstones; [[ivfCompact]] removes the bytes and clears the
    * sidecar. An erased id stays erased even if re-appended before the
    * next compact — erased identities are treated as retired, the
    * [[TextIndex.delete]] contract.
    *
    * O(|ids|): the index is never read, let alone rewritten.
    */
  def ivfDelete(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame, batch: String): Unit =
    IndexCommit.delete(spark, ivfIndex(path), batch) { _ =>
      val t = ids.select(col(ids.columns.head).as("__id")).distinct()
        .localCheckpoint(true) // counted AND written
      (t, Seq(t.count(), null, null))
    }

  /** Index rows minus committed tombstones — every search path reads
    * the index through this (deleted ids must never rank, whatever
    * the layout). When no tombstone sidecar exists the plan is the
    * bare scan and no ledger is read: probe-heavy gates call search
    * several times (measured +0.5-1.5 s per gate when the ledger read
    * came first).
    */
  private def readLive(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String): DataFrame = {
    val ix = ivfIndex(path)
    IndexCommit.minusTombstones(spark.read.parquet(path), idCol,
      IndexCommit.tombstones(spark, ix,
        IndexCommit.readLedger(spark, ix).committed))
  }

  /** Record the BUILD's own tightness baseline for an index written by
    * [[ivfWrite]]/[[ivfWriteSq8]]/[[ivfWritePq]] — run it over the same
    * `vecs`/`centroidDf` the build used (one broadcast-join scan + a
    * 1-row aggregate; kept out of the builders so index builds that
    * never append pay nothing). Overwrites the sidecar: a rebuild
    * resets the drift baseline.
    */
  def ivfRecordBuildStats(vecs: DataFrame, idCol: String, vecCol: String,
      centroidDf: DataFrame, path: String): Unit = {
    val row = assignNearest(vecs, idCol, vecCol, centroidDf).agg(
      count(lit(1)).as("n"),
      avg(col("sim")).as("mean_sim"),
      min(col("sim")).as("min_sim")).head()
    IndexCommit.writeRow(vecs.sparkSession, ivfIndex(path), "build",
      row.toSeq, overwrite = true)
  }

  /** The drift ledger: one row per recorded batch with `drift` =
    * build-time mean tightness − batch mean tightness (positive =
    * the frozen centroids fit this batch worse than the data they
    * were trained on). The sidecar is one row per batch — broadcast.
    */
  def ivfStats(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    // del: rows are erasure history (no tightness was observed for
    // them — [[ivfDelete]] records null sims), not ingest batches;
    // they'd show as null-drift noise in the ledger a re-train
    // trigger reads.
    val s = spark.read.parquet(ivfIndex(path).ledger)
      .filter(!col("batch").startsWith("del:"))
    val base = s.filter(col("batch") === "build")
      .select(col("mean_sim").as("__build_mean"))
    s.join(broadcast(base), lit(true), "left")
      .withColumn("drift", col("__build_mean") - col("mean_sim"))
      .drop("__build_mean")
  }

  /** Residual vectors w.r.t. each vector's assigned coarse centroid:
    * r = v − c, computed in double and narrowed back to float (one
    * IEEE rounding, replicable anywhere). Residuals are smaller and
    * better-centered than raw vectors, so a PQ codebook of the same
    * size quantizes them tighter — the reason FAISS's IVF-PQ encodes
    * residuals (add-after-train recipe). Returns (id, cluster,
    * residual); entirely map-side after the broadcast assignment.
    */
  def residualVectors(vecs: DataFrame, idCol: String, vecCol: String,
      centroidDf: DataFrame): DataFrame =
    assignNearest(vecs, idCol, vecCol, centroidDf)
      .select(col(idCol), col("cluster"),
        zip_with(col(vecCol), col("centroid"),
          (a, b) => (a.cast("double") - b.cast("double")).cast("float"))
          .as("residual"))

  /** PQ codebook trained on coarse-assignment residuals — pair with
    * [[ivfWritePqResidual]]/[[ivfSearchPqResidual]].
    */
  def pqResidualCodebook(vecs: DataFrame, idCol: String, vecCol: String,
      centroidDf: DataFrame, m: Int, subDim: Int): DataFrame =
    pqCodebook(residualVectors(vecs, idCol, vecCol, centroidDf)
      .select(col("residual").as(vecCol)), vecCol, m, subDim)

  /** Persisted residual-encoded IVF-PQ index: [[ivfWritePq]]'s layout
    * (codes partitioned by coarse cluster) with the codes encoding
    * RESIDUALS against the vector's own coarse centroid.
    */
  def ivfWritePqResidual(vecs: DataFrame, idCol: String, vecCol: String,
      centroidDf: DataFrame, codebook: DataFrame, m: Int, subDim: Int,
      path: String): Unit =
    ivfIngest(vecs, idCol, vecCol, centroidDf, path, None,
      pqResidualRows(idCol, vecCol, centroidDf, codebook, m, subDim))

  /** Probe-limited search over a residual-encoded PQ index:
    * score = ⟨q, c⟩ + ⟨q, r̂⟩ — the coarse term is EXACT per probe
    * cluster (one scalar each, broadcast) and only the residual rides
    * the ADC lookup table ([[pqAdcLut]] on the residual codebook,
    * cluster-independent because the dot is linear). Same probed
    * partition-pruned read as [[ivfSearchPq]].
    */
  def ivfSearchPqResidual(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, centroidDf: DataFrame,
      codebook: DataFrame, query: Seq[Float], k: Int,
      nprobe: Int): DataFrame = {
    val probes = probeClusters(centroidDf, query, nprobe)
    val qlit = array(query.map(lit): _*)
    val coarseTerm = centroidDf
      .filter(col("cluster").isin(probes.toIndexedSeq: _*))
      .select(col("cluster"), dotNative(qlit, col("centroid")).as("cterm"))
    val pruned = readLive(spark, path, idCol)
      .filter(col("cluster").isin(probes.toIndexedSeq: _*))
    pruned
      .join(broadcast(pqAdcLut(codebook, query)
        .withColumnRenamed("cluster", "code")), Seq("sub", "code"))
      .groupBy(col(idCol), col("cluster"))
      .agg(sum(col("t")).as("rscore"))
      .join(broadcast(coarseTerm), "cluster")
      .select(col(idCol), (col("rscore") + col("cterm")).as("score"))
      .orderBy(col("score").desc_nulls_last, col(idCol))
      .limit(k)
  }

  /** Johnson–Lindenstrauss random projection to `outDim` dimensions
    * with a deterministic ±1 sign matrix (Achlioptas 2003 — public
    * result: a Rademacher matrix satisfies the JL lemma): y_j =
    * round( (Σ_i v_i · r(i,j)) / √outDim, 9 ), with r(i,j) = ±1 from
    * the parity of md5's first nibble over `salt:i:j` — the same
    * portable hash family every sampler here uses, so the matrix
    * needs no storage and regenerates identically anywhere.
    *
    * The dimensionality-reduction rung ahead of the ANN ladder: at
    * 100 TB the index build cost scales with d, and JL-projecting
    * 64 → 16 dims costs one pass while provably (1±ε)-preserving
    * pairwise distances. Physical shape: the sign matrix is a
    * GENERATED d×outDim frame (≤ a few thousand rows) broadcast into
    * the exploded (row, i, v_i) stream; the per-(row, j) partial sums
    * accumulate in DECIMAL(38,18) so the re-assembled vectors are
    * shuffle-order-independent (and match a declarative restatement
    * bit for bit). One data-sized exchange: the groupBy(row) that
    * re-collects output dimensions.
    */
  def randomProject(vecs: DataFrame, idCol: String, vecCol: String,
      outDim: Int, salt: String): DataFrame = {
    require(outDim >= 1, s"need outDim >= 1, got $outDim")
    val spark = vecs.sparkSession
    val dRows = vecs.select(size(col(vecCol)).as("__d"))
      .filter(col("__d").isNotNull).limit(1).collect()
    require(dRows.nonEmpty,
      "randomProject: input has no non-null vectors to infer the dimension from")
    val d = dRows(0).getInt(0)
    val signs = spark.range(d.toLong).select(col("id").cast("int").as("i"))
      .crossJoin(spark.range(outDim.toLong)
        .select(col("id").cast("int").as("j")))
      .select(col("i"), col("j"),
        when(conv(substring(md5(concat_ws(":", lit(salt), col("i"),
            col("j"))), 1, 1), 16, 10).cast("int") % 2 === 0, lit(1.0))
          .otherwise(lit(-1.0)).as("r"))
    // Dimension drift fails LOUDLY: a vector longer than d would
    // silently lose its tail in the sign join; shorter would project
    // from a prefix. Both are data bugs, not cases to absorb.
    val exploded = vecs
      .withColumn(vecCol,
        when(col(vecCol).isNull || size(col(vecCol)) === d, col(vecCol))
          .otherwise(raise_error(concat(
            lit(s"randomProject: expected $d-dim vector, got "),
            size(col(vecCol)).cast("string"), lit(" at "),
            col(idCol).cast("string")))))
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("i", "v")))
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    exploded.join(broadcast(signs), "i")
      .groupBy(col(idCol), col("j"))
      .agg(sum((col("v").cast("double") * col("r"))
        .cast("decimal(38,18)")).as("acc"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("j"),
        round(col("acc").cast("double") * lit(scale), 9).as("y"))))
        .as("ys"))
      .select(col(idCol),
        transform(col("ys"), x => x.getField("y")).as("projected"))
  }

  /** Seeded fast orthogonal rotation y = H·D·x / √d — the
    * randomized-Hadamard core of Ailon & Chazelle's FJLT and the
    * training-free stand-in for OPQ's learned rotation: D a seeded ±1
    * diagonal (md5 first-nibble parity over `salt:i`, the portable
    * hash family every sampler here uses — the matrix is never
    * stored), H the d×d Walsh–Hadamard matrix. The rotation is an
    * exact isometry, and it spreads energy evenly across dimensions —
    * exactly what product quantization wants: per-subspace codebooks
    * waste centroids when a few dimensions carry most of the
    * variance, and a Hadamard rotation equalizes them without
    * training (FAISS ships the same preprocessing as its
    * `OPQ`/random-rotation + PQ recipes).
    *
    * Physical shape: the native `fwht` expression
    * ([[graft.functions.expressions.Fwht]]) — the in-place O(d log d)
    * butterfly in one tight loop inside whole-stage codegen, ZERO
    * shuffle, vs the dense multiply's O(d²) + explode/groupBy
    * exchange. (The declarative butterfly — chained
    * `transform`/`element_at` projections — is a trap: CollapseProject
    * merges the passes into one nested expression and interpreted
    * ArrayTransform then re-evaluates the whole inner array per
    * element access, 2^passes-fold recomputation; observed turning
    * 500 rows into minutes.) Doubles throughout, deliberately: every
    * engine executes the IDENTICAL IEEE-754 operation sequence (the
    * oracle restates the same butterfly in DuckDB list ops), so
    * results are bit-reproducible without decimal accumulation;
    * SimilaritySpec additionally pins the butterfly against the dense
    * decimal H·D·x formulation and the [[srhtRotateInverse]]
    * round-trip.
    *
    * `d` must be a power of two (zero-pad upstream otherwise — the
    * padding dimensions rotate to zero-mean noise the same way).
    * Output elements are `round(y_i, 9)`, the [[randomProject]]
    * convention. Null vectors pass through null; a wrong-length
    * vector fails loudly, never silently truncates.
    */
  def srhtRotate(vecs: DataFrame, idCol: String, vecCol: String,
      salt: String): DataFrame = {
    val (checked, signLit, sqrtD) = srhtInput(vecs, idCol, vecCol, salt,
      "srhtRotate", "input has no non-null vectors")
    checked.select(col(idCol),
      transform(
        call_function("fwht", transform(col(vecCol),
          (x, i) => x.cast("double") * element_at(signLit, i + 1))),
        y => round(y / lit(sqrtD), 9)).as("rotated"))
  }

  /** Inverse of [[srhtRotate]]: x = D·H·y / √d (H symmetric and
    * H² = d·I, D² = I, so (D·H)(H·D) = d·I — note D lands on the
    * OUTSIDE here; applying the forward rotation twice is NOT the
    * identity). The de-rotation face a rotated-PQ serving path needs
    * to reconstruct vectors in the ORIGINAL space (debugging,
    * re-ranking against unrotated queries, exporting). Same native
    * `fwht` physical shape as the forward pass; exact up to the
    * forward output's round-9 quantization, which SimilaritySpec pins.
    */
  def srhtRotateInverse(vecs: DataFrame, idCol: String, vecCol: String,
      salt: String): DataFrame = {
    val (checked, signLit, sqrtD) = srhtInput(vecs, idCol, vecCol, salt,
      "srhtRotateInverse", "no non-null vectors")
    checked.select(col(idCol),
      transform(
        call_function("fwht",
          transform(col(vecCol), x => x.cast("double"))),
        (y, i) => round(y * element_at(signLit, i + 1) / lit(sqrtD), 9))
        .as("restored"))
  }

  /** Shared SRHT prelude: infer the power-of-two dimension d from the
    * first non-null vector (one bounded collect), fail loudly in the
    * plan on a wrong-length vector, and return (checked vectors, D's
    * diagonal as a literal, √d). D: +1 iff the first hex nibble of
    * md5("salt:i") is even — the q169 sign-matrix family, so the oracle
    * regenerates it in SQL.
    */
  private def srhtInput(vecs: DataFrame, idCol: String, vecCol: String,
      salt: String, face: String, empty: String): (DataFrame, Column, Double) = {
    val dRows = vecs.select(size(col(vecCol)).as("__d"))
      .filter(col("__d").isNotNull).limit(1).collect()
    require(dRows.nonEmpty,
      s"$face: $empty to infer the dimension from")
    val d = dRows(0).getInt(0)
    require(d >= 2 && (d & (d - 1)) == 0,
      s"$face needs a power-of-two dimension >= 2, got $d")
    val signLit = array(Array.tabulate(d) { i =>
      val b0 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))(0)
      lit(if (((b0 >> 4) & 0x1) == 0) 1.0 else -1.0)
    }: _*)
    val checked = vecs
      .withColumn(vecCol,
        when(col(vecCol).isNull || size(col(vecCol)) === d, col(vecCol))
          .otherwise(raise_error(concat(
            lit(s"$face: expected $d-dim vector, got "),
            size(col(vecCol)).cast("string"), lit(" at "),
            col(idCol).cast("string")))))
    (checked, signLit, math.sqrt(d.toDouble))
  }

  /** Split ONE hot cluster of a float IVF index in place — the
    * maintenance face a growing or drifting index needs between full
    * rebuilds, completing the incremental story (append / delete /
    * compact / SPLIT): when the drift ledger or the cluster-size
    * histogram flags `cluster` — [[ivfMaintenancePlan]] IS that
    * flagging policy, and [[ivfMaintain]] folds a whole plan through
    * this — 2-means its rows locally and rewrite just that cluster's
    * bytes under two new cluster ids. O(|cluster|): the rest of the
    * index is never read, let alone rewritten — at 100 TB a hot
    * cluster splits in minutes while a rebuild is hours. The writer
    * lease is renewed at every stage boundary
    * ([[Upsert.renewWriterLease]]); if one STAGE of a giant cluster
    * can outrun the lease, size `-Dgraft.lockLeaseMs` to the longest
    * stage.
    *
    * Returns the UPDATED centroid frame (`cluster` replaced by
    * `newIdA`/`newIdB`, centroids = the float means of each side's
    * actual members), which the caller must use for subsequent probes —
    * centroids are caller-owned, the ivfWrite/ivfSearch contract.
    * Float layout here; the quantized layouts split through the same
    * protocol with members re-read from the float source
    * ([[ivfSplitClusterSq8]]/[[ivfSplitClusterPq]]/
    * [[ivfSplitClusterPqResidual]] — 2-means needs raw vectors,
    * quantized payloads cannot seed it). Tombstoned ids are dropped
    * during the rewrite (a split doubles as a cluster-local compact,
    * mirroring [[ivfCompact]]).
    *
    * Crash contract (the DEVIATIONS §11 protocol with the CLUSTER as
    * the replacement unit, [[IndexCommit.replace]]): new dirs are
    * written under `batch=split-<c>-<a>-<b>` first, the ledger row is
    * the commit point, the source dir is deleted after. A crash before
    * the commit leaves orphan new dirs (GC'd by retry or
    * [[ivfCompact]], source intact); a crash between commit and source
    * delete leaves BOTH copies briefly visible — the same
    * torn-visibility window [[ivfAppend]] documents for appends — and a
    * REPLAY of the same split is the recovery: it finishes the source
    * delete and returns the updated centroids (idempotent, the
    * streaming-sink convention). The returned means can differ at ulp level between
    * a fresh run and a replay (float avg over shuffle order); IVF
    * probe selection tolerates ulp wiggle by construction.
    */
  def ivfSplitCluster(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, vecCol: String, centroidDf: DataFrame,
      cluster: Any, newIdA: Any, newIdB: Any, steps: Int = 3): DataFrame =
    splitCluster(spark, path, idCol, vecCol, centroidDf, None, cluster,
      newIdA, newIdB, steps)((rows, observed, _) =>
      floatRows(idCol, vecCol)(rows, observed))

  /** One advised split: `cluster` holds `rows` live vectors against a
    * corpus median of `medianRows`; split it into `newIdA`/`newIdB`
    * (allocated above the existing numeric max, two per split).
    */
  final case class SplitPlan(cluster: Any, rows: Long, medianRows: Long,
      newIdA: Long, newIdB: Long)

  /** The maintenance verdict [[ivfMaintenancePlan]] composes from the
    * index's own sidecars: which clusters to split now (size policy),
    * and whether the frozen centroids have drifted enough that a
    * re-train beats more splitting (drift policy).
    */
  final case class MaintenancePlan(splits: Seq[SplitPlan],
      medianRows: Long, maxDrift: Option[Double], rebuildAdvised: Boolean)

  /** "Which cluster, when" — the POLICY that composes the sidecars the
    * incremental IVF tier already maintains (cluster-partitioned live
    * rows, the `_stats` drift ledger) into actionable maintenance,
    * closing the loop [[ivfSplitCluster]] left manual:
    *
    *  - SPLIT policy: a cluster whose live row count exceeds
    *    `sizeFactor` × the median cluster size is flagged (largest
    *    first, at most `maxSplits` per cycle — each split halves a
    *    hot spot and shifts the median, so plans are cheap to recompute
    *    between cycles). An unsplit hot cluster is a probe-latency
    *    cliff: every query probing it scans `rows/median`× more bytes
    *    than a typical probe.
    *  - REBUILD policy: when any appended batch's assignment-tightness
    *    drift exceeds `driftMax` (the [[ivfStats]] ledger, positive =
    *    frozen centroids describe that batch worse than the build
    *    corpus), splitting no longer addresses the cause — the advice
    *    is a re-train, exactly the trigger the ledger was built for.
    *
    * Cost: one id+partition-column scan of the live index for the
    * histogram (no vector bytes), one broadcast-sized ledger read; the
    * collected histogram is one row per cluster — bounded by the
    * centroid count, the same budget every probe ranking already
    * spends. New cluster ids are allocated above the existing numeric
    * maximum across BOTH the live index and the caller's centroid
    * frame — the frame can hold ids the histogram cannot see (an empty
    * k-means cluster, a fully-tombstoned one), and allocating into one
    * of those would silently merge a split child with an existing
    * centroid. Non-numeric cluster-id schemes must pick ids manually
    * via [[ivfSplitCluster]].
    *
    * Execute with [[ivfMaintain]] (float layout) or by folding
    * [[ivfSplitClusterSq8]]/[[ivfSplitClusterPq]]/
    * [[ivfSplitClusterPqResidual]] over `splits` for quantized layouts.
    */
  def ivfMaintenancePlan(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, centroidDf: DataFrame,
      sizeFactor: Double = 2.0, driftMax: Double = 0.05,
      maxSplits: Int = 8): MaintenancePlan = {
    require(sizeFactor > 1.0, s"sizeFactor must exceed 1, got $sizeFactor")
    require(maxSplits >= 1, s"maxSplits must be >= 1, got $maxSplits")
    val sizes = readLive(spark, path, idCol)
      .groupBy("cluster").agg(count_distinct(col(idCol)).as("n"))
      .collect().map(r => (r.get(0), r.getLong(1)))
    require(sizes.nonEmpty, s"empty index at $path — nothing to maintain")
    val ordered = sizes.map(_._2).sorted
    val median = ordered(ordered.length / 2)
    val flagged = sizes.filter(_._2 > sizeFactor * median.toDouble)
      .sortBy(-_._2).take(maxSplits)
    def asLong(c: Any): Option[Long] = c match {
      case n: java.lang.Number => Some(n.longValue())
      case s: String => s.toLongOption
      case _ => None
    }
    val splits =
      if (flagged.isEmpty) Seq.empty[SplitPlan]
      else {
        val centIds = centroidDf.select(col("cluster")).collect()
          .map(r => asLong(r.get(0))).toSeq // bounded: one row per centroid
        val numeric = sizes.map(s => asLong(s._1)) ++ centIds
        require(numeric.forall(_.isDefined),
          "cluster ids are not numeric — allocate split ids manually " +
            "via ivfSplitCluster")
        var next = numeric.flatten.max + 1
        flagged.map { case (c, n) =>
          val p = SplitPlan(c, n, median, next, next + 1); next += 2; p
        }.toSeq
      }
    // Drift verdict from the ledger (absent when the build never
    // recorded its baseline or nothing was appended — then there is
    // simply no drift evidence).
    val statsP = new org.apache.hadoop.fs.Path(ivfIndex(path).ledger)
    val sfs = statsP.getFileSystem(spark.sessionState.newHadoopConf())
    val maxDrift =
      if (!sfs.exists(statsP)) None
      else {
        val r = ivfStats(spark, path)
          .filter(col("batch") =!= "build" && col("drift").isNotNull)
          .agg(max(col("drift"))).head()
        if (r.isNullAt(0)) None else Some(r.getDouble(0))
      }
    MaintenancePlan(splits, median, maxDrift,
      rebuildAdvised = maxDrift.exists(_ > driftMax))
  }

  /** Execute a [[MaintenancePlan]] on a FLOAT index: fold the advised
    * splits through [[ivfSplitCluster]], converting each allocated id
    * to the centroid frame's cluster type, and return the updated
    * centroid frame the caller must probe with from now on. Each split
    * is individually crash-safe (the DEVIATIONS §11 protocol); a crash
    * mid-plan leaves the earlier splits committed and the plan
    * re-computable.
    */
  def ivfMaintain(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String, centroidDf: DataFrame,
      plan: MaintenancePlan, steps: Int = 3): DataFrame = {
    val dt = centroidDf.schema("cluster").dataType
    def conv(x: Long): Any = dt match {
      case org.apache.spark.sql.types.LongType => x
      case org.apache.spark.sql.types.IntegerType => x.toInt
      case org.apache.spark.sql.types.ShortType => x.toShort
      case org.apache.spark.sql.types.StringType => x.toString
      case other => throw new IllegalArgumentException(
        s"cannot allocate split ids for cluster type $other — " +
          "split manually via ivfSplitCluster")
    }
    plan.splits.foldLeft(centroidDf)((cents, sp) =>
      ivfSplitCluster(spark, path, idCol, vecCol, cents, sp.cluster,
        conv(sp.newIdA), conv(sp.newIdB), steps))
  }

  /** The one split protocol ([[IndexCommit.replace]] with the CLUSTER as
    * the replacement unit): claim-locked, the children written under
    * `batch=split-<c>-<a>-<b>`, the ledger row as the commit point, the
    * source dir retired after, and a replay of a committed split
    * finishing that retirement idempotently. The split doubles as a
    * cluster-local compact (tombstoned ids are dropped).
    *
    * The faces differ only in how they get member vectors and how
    * `payload` renders (member rows, observed assignment, child
    * centroids) into the layout's rows. With `floatSource` None (the
    * float layout) members are the index rows themselves. Quantized
    * payloads cannot seed a 2-means, so their members are RE-READ FROM
    * THE FLOAT SOURCE, which must cover every live member id (checked
    * loudly — a partial source would silently drop vectors) and carry
    * one row per id; their child centroids are pinned before the write
    * so a payload that encodes against them (residual PQ) references
    * EXACTLY the centroids returned. The OBSERVED frame must appear
    * exactly once in the rendered plan (its metrics row is the commit
    * payload), so encoders read the raw member rows and join the
    * assignment.
    */
  private def splitCluster(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, vecCol: String, centroidDf: DataFrame,
      floatSource: Option[DataFrame], cluster: Any, newIdA: Any,
      newIdB: Any, steps: Int)(
      payload: (DataFrame, DataFrame, DataFrame) => DataFrame): DataFrame = {
    val tag = s"split-$cluster-$newIdA-$newIdB"
      .replaceAll("[^A-Za-z0-9._-]", "_")
    val srcDir = new org.apache.hadoop.fs.Path(path, s"cluster=$cluster")
    def retireSource(): Unit = {
      val fs = srcDir.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(srcDir)) fs.delete(srcDir, true)
    }
    val src = floatSource.map(_.select(col(idCol), col(vecCol)))
    def updatedCents(two: DataFrame): DataFrame =
      centroidDf.filter(!(col("cluster") <=> lit(cluster)))
        .unionByName(two)
    def means(members: DataFrame): DataFrame =
      centroids(members.select(col("cluster"), col(vecCol)), "cluster", vecCol)
    def requireCovered(ids: DataFrame, what: Long => String): Unit =
      src.foreach { s =>
        val missing = ids.join(s, Seq(idCol), "left_anti").count()
        require(missing == 0, what(missing))
      }
    IndexCommit.replace(spark, ivfIndex(path), tag) { _ =>
      // Replay after a crash in the commit→retire window: finish the
      // retirement, rebuild the two centroids from the committed
      // members (their SOURCE vectors when the index rows are codes —
      // coverage checked here too: a partial source would silently
      // rebuild the child centroids from a subset).
      retireSource()
      val committed = IndexCommit.committedRows(spark, path, Set(tag))
      updatedCents(src.fold(means(committed)) { s =>
        val members = committed.select(col(idCol), col("cluster")).distinct()
          .localCheckpoint(true) // coverage check AND the means join
        requireCovered(members, n => s"$n committed members of split " +
          s"batch $tag are absent from the float source — aborting replay " +
          "(child centroids would be rebuilt from a subset)")
        means(members.join(s, idCol))
      })
    } { _ =>
      val live = readLive(spark, path, idCol)
        .filter(col("cluster") <=> lit(cluster))
      val rows = src.fold(live.select(col(idCol), col(vecCol))) { s =>
        val liveIds = live.select(col(idCol)).distinct()
          .localCheckpoint(true) // coverage check + the member join
        requireCovered(liveIds, n => s"$n live members of cluster $cluster " +
          "are absent from the float source — aborting split (rewriting " +
          "without them would drop vectors)")
        s.join(liveIds, Seq(idCol), "left_semi")
      }.localCheckpoint(true) // seeds + Lloyd steps + the write read it
      val n = rows.count()
      require(n >= 2, s"cluster $cluster has $n live rows — nothing to split")
      // One row per id, checked on the CLUSTER-BOUNDED member frame (an
      // O(corpus) distinct on the raw source would defeat the
      // O(cluster) split): duplicate source rows would silently write
      // duplicate index rows.
      require(src.isEmpty || rows.select(col(idCol)).distinct().count() == n,
        s"float source carries duplicate ids for cluster $cluster members " +
          "— deduplicate it (one row per id) before splitting")
      // Deterministic 2-seed: the min-id vector and the vector LEAST
      // similar to it (one bounded pass each, never pairwise).
      val aRow = rows.orderBy(col(idCol)).limit(1).collect()(0)
      val aVec = aRow.getSeq[Float](1)
      val bRow = rows.filter(col(idCol) =!= lit(aRow.get(0)))
        .orderBy(cosineNative(col(vecCol), array(aVec.map(lit): _*))
          .asc_nulls_last, col(idCol))
        .limit(1).collect()(0)
      val cSchema = StructType(Seq(
        StructField("cluster", centroidDf.schema("cluster").dataType),
        StructField("centroid", ArrayType(FloatType))))
      var two = spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(newIdA, aVec),
        org.apache.spark.sql.Row(newIdB, bRow.getSeq[Float](1))), cSchema)
      for (_ <- 1 to steps) {
        val next = kmeansStep(rows, idCol, vecCol, two).localCheckpoint(true)
        // A step that empties one side would degenerate the split —
        // keep the last 2-sided iterate instead.
        if (next.count() == 2) two = next
        // Heartbeat: at 100 TB a hot cluster's Lloyd steps are long
        // Spark jobs, and a split that outruns the fixed lock lease
        // invites takeover mid-rewrite. Renewing at every stage
        // boundary bounds lease staleness to ONE stage; if a single
        // stage can exceed the lease, size -Dgraft.lockLeaseMs to the
        // longest stage (see [[Upsert.renewWriterLease]]).
        Upsert.renewWriterLease(spark, path)
      }
      val assigned = assignNearest(rows, idCol, vecCol, two)
        .localCheckpoint(true) // written AND averaged for the result
      Upsert.renewWriterLease(spark, path) // fresh lease for the rewrite
      // The member means under the final assignment: the RETURNED
      // centroids. The serving path's coarse term comes from the
      // caller-held frame, so a payload encoding against any other
      // reference (e.g. the last Lloyd iterate, which equals the means
      // only at convergence) would leave a per-cluster bias
      // ⟨q, mean(c) − iterate(c)⟩ in every served score.
      val finalCents =
        if (src.isEmpty) means(assigned)
        else means(assigned).localCheckpoint(true) // payload AND the result
      val (observed, row) = observeTightness(assigned)
      writeClusters(payload(rows, observed, finalCents), path, tag,
        overwrite = false)
      (row(), () => { retireSource(); updatedCents(finalCents) })
    }
  }

  /** [[ivfSplitCluster]] for the SQ8 layout: members' float vectors are
    * re-read from `floatSource` (the corpus the index was built from —
    * int8 payloads cannot seed a 2-means), the split rows land in the
    * build's exact SQ8 shape ([[quantizeInt8]] + hoisted self-norm).
    * Same commit protocol, replay idempotence, and heartbeat as the
    * float split; returns the updated centroid frame.
    */
  def ivfSplitClusterSq8(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, vecCol: String, centroidDf: DataFrame,
      floatSource: DataFrame, cluster: Any, newIdA: Any, newIdB: Any,
      steps: Int = 3): DataFrame =
    splitCluster(spark, path, idCol, vecCol, centroidDf, Some(floatSource),
      cluster, newIdA, newIdB, steps)((rows, observed, _) =>
      sq8Rows(idCol, vecCol)(rows, observed))

  /** [[ivfSplitCluster]] for the PQ-code layout: float vectors re-read
    * from `floatSource`, codes re-emitted with the FROZEN build
    * codebook ([[ivfAppendPq]]'s posture — only the coarse routing
    * changes, the fine quantizer is untouched). Returns the updated
    * centroid frame.
    */
  def ivfSplitClusterPq(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, vecCol: String, centroidDf: DataFrame,
      floatSource: DataFrame, codebook: DataFrame, m: Int, subDim: Int,
      cluster: Any, newIdA: Any, newIdB: Any, steps: Int = 3): DataFrame =
    splitCluster(spark, path, idCol, vecCol, centroidDf, Some(floatSource),
      cluster, newIdA, newIdB, steps)((rows, observed, _) =>
      pqRows(idCol, vecCol, codebook, m, subDim)(rows, observed))

  /** [[ivfSplitCluster]] for the RESIDUAL-encoded PQ layout, completing
    * the four-layout split ladder (float/SQ8/PQ/residual-PQ — every
    * layout now has the full append/delete/compact/split maintenance
    * story). Residual codes depend on the vector's OWN coarse centroid
    * (r = v − c), so unlike the plain-PQ split the members' codes MUST
    * be recomputed against the two child centroids — with the FROZEN
    * residual codebook ([[ivfAppendPqResidual]]'s posture; the fine
    * quantizer never re-trains between rebuilds). Serving through
    * [[ivfSearchPqResidual]] with the returned centroids stays exact in
    * its coarse term automatically, because that term comes from the
    * caller-held centroid frame this returns.
    */
  def ivfSplitClusterPqResidual(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, vecCol: String, centroidDf: DataFrame,
      floatSource: DataFrame, codebook: DataFrame, m: Int, subDim: Int,
      cluster: Any, newIdA: Any, newIdB: Any, steps: Int = 3): DataFrame =
    splitCluster(spark, path, idCol, vecCol, centroidDf, Some(floatSource),
      cluster, newIdA, newIdB, steps)((_, observed, finalCents) => {
        // Residuals against the centroids the RETURNED frame holds (see
        // the finalCents note in the core): the row's storage cluster
        // and its residual reference MUST be the same centroid the
        // serving path's coarse term reads, or every score carries a
        // per-cluster offset. One observed reference: this frame is
        // checkpointed and then feeds both the encode and the cluster
        // carry (the CollectMetrics node must execute exactly once).
        val res = observed
          // assignNearest keeps the assignment's own `centroid` column —
          // project it away before joining the final centroids in.
          .select(col(idCol), col(vecCol), col("cluster"))
          .join(broadcast(finalCents), "cluster")
          .select(col(idCol), col("cluster"),
            zip_with(col(vecCol), col("centroid"),
              (a, b) => (a.cast("double") - b.cast("double")).cast("float"))
              .as("residual"))
          .localCheckpoint(true)
        routed(pqEncode(res, idCol, "residual", codebook, m, subDim), res,
          idCol)
      })

  /** Margin-criterion bitext mining (Artetxe & Schwenk 2019, the
    * LASER/CCMatrix parallel-pair miner): mine aligned pairs across two
    * embedding corpora.  Plain cosine thresholds can't separate true
    * translations from "hub" vectors that sit close to everything; the
    * ratio margin normalizes each pair's cosine by the mean of both
    * endpoints' k-NN cosines:
    *
    *   margin(x,y) = cos(x,y) / ((avgK(x -> T) + avgK(S <- y)) / 2)
    *
    * Candidates meet on sign-LSH bucket equality — a cross-frame
    * equi-join, never |S| x |T| — and the k-NN means are computed over
    * the SAME candidate set (the approximate-kNN margin the mining
    * deployments use; exact kNN would be the quadratic scan this
    * operator exists to avoid).  Buckets with more than `maxBucket`
    * rows on either side are dropped whole (skew guard — an all-zero
    * or boilerplate embedding cluster must not quadratically dominate
    * the join; same discipline as Dedup.lshCandidatePairs). Size
    * `pairs` from the corpus count ([[scaledSignPairs]]) so the guard
    * only ever fires on genuine pathologies.
    *
    * Returns one row per source vector that has candidates: its best
    * target by margin (deterministic tiebreak: margin desc, target id
    * asc), with `mutual` = true when the source is also that target's
    * best source — the high-precision subset a translation-pair
    * harvest keeps.  Filter `margin >= minMargin` is applied last so
    * the caller sees the same frontier the threshold was tuned on.
    *
    * Scale shape: one shuffle on `bucket` (join + both guards reuse
    * it), one on `s_id`, one on `t_id` (window + grouped kNN mean
    * share each exchange); everything else is map-side. 100 TB posture:
    * all frames are id+vector projections, the mined-pair frame is
    * O(candidates), bounded by maxBucket^2 per bucket.
    */
  def bitextMine(src: DataFrame, tgt: DataFrame, idCol: String,
      vecCol: String, pairs: Seq[(Int, Int)] = defaultPairs, k: Int = 4,
      minMargin: Double = 0.0, maxBucket: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def side(d: DataFrame, p: String): DataFrame = {
      val b = signLshBuckets(d.select(col(idCol), col(vecCol)), vecCol, pairs)
        .select(col(idCol).as(p + "id"), col(vecCol).as(p + "vec"),
          col("bucket"))
      val fat = b.groupBy("bucket").agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxBucket).select("bucket")
      b.join(fat, Seq("bucket"), "left_anti")
    }
    val cand = side(src, "s_").join(side(tgt, "t_"), "bucket")
      .withColumn("cos", cosineNative(col("s_vec"), col("t_vec")))
      .filter(col("cos").isNotNull)
      .select("s_id", "t_id", "cos")
    val wF = Window.partitionBy("s_id").orderBy(col("cos").desc, col("t_id"))
    val wB = Window.partitionBy("t_id").orderBy(col("cos").desc, col("s_id"))
    val ranked = cand
      .withColumn("__rf", row_number().over(wF))
      .withColumn("__rb", row_number().over(wB))
    val fAvg = ranked.filter(col("__rf") <= k).groupBy("s_id")
      .agg(avg(col("cos")).as("__favg"))
    val bAvg = ranked.filter(col("__rb") <= k).groupBy("t_id")
      .agg(avg(col("cos")).as("__bavg"))
    val scored = cand.join(fAvg, "s_id").join(bAvg, "t_id")
      .withColumn("margin",
        col("cos") * 2 / (col("__favg") + col("__bavg")))
    val wBestF = Window.partitionBy("s_id")
      .orderBy(col("margin").desc, col("t_id"))
    val wBestB = Window.partitionBy("t_id")
      .orderBy(col("margin").desc, col("s_id"))
    scored
      .withColumn("__bf", row_number().over(wBestF))
      .withColumn("__bb", row_number().over(wBestB))
      // A pair is mutual iff IT is both its source's and its target's
      // argmax — flag computable on the pair row itself, no self-join.
      .withColumn("mutual", col("__bf") === 1 && col("__bb") === 1)
      .filter(col("__bf") === 1 && col("margin") >= minMargin)
      .select(col("s_id"), col("t_id"), col("cos").as("cosine"),
        col("margin"), col("mutual"))
  }
}
