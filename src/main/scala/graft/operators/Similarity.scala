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
  *  - [[signLshBuckets]]: a deterministic sign-bit LSH coarse
  *    quantizer; search prunes to the query's bucket before exact
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
    * cluster id).
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

  // ---- incremental index ingest ---------------------------------------
  // At 100 TB the index BUILD is the expensive job; re-running it for
  // every arriving embedding batch is the one cost a production vector
  // store cannot pay. The append path is the FAISS add-after-train
  // recipe: the coarse quantizer stays FROZEN, new vectors are assigned
  // to the existing centroids and their payload rows appended into the
  // cluster-partitioned layout. Because routing depends only on the
  // frozen centroids, search-after-append is IDENTICAL to
  // search-after-full-rebuild over the same rows (SimilaritySpec pins
  // it) — no index invalidation, no re-encode of old data.
  //
  // What appending CANNOT give is adaptation: if the data distribution
  // drifts, frozen centroids describe new batches worse and worse —
  // recall decays silently. So every append records ASSIGNMENT
  // TIGHTNESS — n, mean and min cosine of each vector to its assigned
  // centroid — as its ledger row in the `path + "_stats"` sidecar,
  // measured by an [[org.apache.spark.sql.Observation]] on the very
  // rows being written (zero extra scan; q131 gates the measurement).

  private val obsSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** The ledgered layout of every IVF index ([[IndexCommit]]): the
    * `_stats` drift ledger is the commit ledger, one row
    * `(batch, n, mean_sim, min_sim)` per committed batch. The build
    * commits by its own overwrite, so `build` is committed without a
    * ledger row.
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

  /** An IVF payload layout: renders a batch's [[assignNearest]] frame
    * into the index's physical rows, `cluster` last. The float and SQ8
    * layouts share routing, so they share every write, delete and
    * compact; only these differ.
    */
  private type Layout = DataFrame => DataFrame

  private def floatRows(idCol: String, vecCol: String,
      metaCols: Seq[String] = Nil): Layout = assigned =>
    assigned.select((Seq(col(idCol), col(vecCol)) ++ metaCols.map(col) :+
      col("cluster")): _*)

  // The int8 self-norm is a pure function of the stored qvec; computing
  // it once at write time turns every search's O(dim) per-candidate
  // fold into a single long read.
  private def sq8Rows(idCol: String, vecCol: String): Layout =
    assigned => quantizeInt8(assigned, vecCol)
      .select(col(idCol), col("qvec"), col("scale"),
        int8SelfNorm(col("qvec")).as("nrm2"), col("cluster"))

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
        writeClusters(layout(assigned), path, "build", overwrite = true)
      case Some(b) =>
        IndexCommit.append(spark, ivfIndex(path), b) { _ =>
          val (observed, row) = observeTightness(assigned)
          writeClusters(layout(observed), path, b, overwrite = false)
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

  /** Append a new embedding batch into an existing [[ivfWrite]] float
    * index: assign to the FROZEN centroids (the exact [[assignNearest]]
    * the build used, so placement can never disagree), append the
    * cluster-partitioned rows, and record the batch's assignment
    * tightness under `batch` in the `_stats` sidecar. O(|batch|) work:
    * one broadcast-join scan of the new rows + one cluster-local
    * shuffle — the existing index is never read or rewritten.
    *
    * Crash/retry contract — the [[IndexCommit.append]] protocol ([[TextIndex.append]]'s): the
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

  /** Compact an append-heavy vector index (float or SQ8 — they share
    * the cluster-partitioned parquet shape): every
    * [[ivfAppend]] leaves one file per touched cluster per batch, and
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
    * every layout: deletion is by id, the payload is irrelevant.
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
    * came first). The float rows carry the caller's `metaCols`, so the
    * scan takes its schema from one file's footer ([[IndexCommit.payload]]).
    */
  private def readLive(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String): DataFrame = {
    val ix = ivfIndex(path)
    IndexCommit.minusTombstones(IndexCommit.payload(spark, path), idCol,
      IndexCommit.tombstones(spark, ix,
        IndexCommit.readLedger(spark, ix).committed))
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
    * H·D·x formulation.
    *
    * `d` must be a power of two (zero-pad upstream otherwise — the
    * padding dimensions rotate to zero-mean noise the same way).
    * Output elements are `round(y_i, 9)`, the [[randomProject]]
    * convention. Null vectors pass through null; a wrong-length
    * vector fails loudly, never silently truncates.
    */
  def srhtRotate(vecs: DataFrame, idCol: String, vecCol: String,
      salt: String): DataFrame = {
    // d from the first non-null vector (one bounded collect); D: +1 iff
    // the first hex nibble of md5("salt:i") is even — the q169
    // sign-matrix family, so the oracle regenerates it in SQL.
    val dRows = vecs.select(size(col(vecCol)).as("__d"))
      .filter(col("__d").isNotNull).limit(1).collect()
    require(dRows.nonEmpty,
      "srhtRotate: input has no non-null vectors to infer the dimension from")
    val d = dRows(0).getInt(0)
    require(d >= 2 && (d & (d - 1)) == 0,
      s"srhtRotate needs a power-of-two dimension >= 2, got $d")
    val signLit = array(Array.tabulate(d) { i =>
      val b0 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))(0)
      lit(if (((b0 >> 4) & 0x1) == 0) 1.0 else -1.0)
    }: _*)
    vecs
      .withColumn(vecCol,
        when(col(vecCol).isNull || size(col(vecCol)) === d, col(vecCol))
          .otherwise(raise_error(concat(
            lit(s"srhtRotate: expected $d-dim vector, got "),
            size(col(vecCol)).cast("string"), lit(" at "),
            col(idCol).cast("string")))))
      .select(col(idCol),
        transform(
          call_function("fwht", transform(col(vecCol),
            (x, i) => x.cast("double") * element_at(signLit, i + 1))),
          y => round(y / lit(math.sqrt(d.toDouble)), 9)).as("rotated"))
  }

  /** Split ONE hot cluster of a float IVF index in place — the
    * maintenance face a growing or drifting index needs between full
    * rebuilds, completing the incremental story (append / delete /
    * compact / SPLIT): 2-means the cluster's rows locally and rewrite
    * just that cluster's bytes under two new cluster ids. O(|cluster|):
    * the rest of the index is never read, let alone rewritten — at
    * 100 TB a hot cluster splits in minutes while a rebuild is hours.
    * The writer lease is renewed at every stage boundary
    * ([[Upsert.renewWriterLease]]); if one STAGE of a giant cluster
    * can outrun the lease, size `-Dgraft.lockLeaseMs` to the longest
    * stage.
    *
    * Returns the UPDATED centroid frame (`cluster` replaced by
    * `newIdA`/`newIdB`, centroids = the float means of each side's
    * actual members under the final assignment), which the caller must
    * use for subsequent probes — centroids are caller-owned, the
    * ivfWrite/ivfSearch contract. Tombstoned ids are dropped during the
    * rewrite (a split doubles as a cluster-local compact, mirroring
    * [[ivfCompact]]).
    *
    * Crash contract (the DEVIATIONS §11 protocol with the CLUSTER as
    * the replacement unit, [[IndexCommit.replace]]): claim-locked, new
    * dirs are written under `batch=split-<c>-<a>-<b>` first, the ledger
    * row is the commit point, the source dir is deleted after. A crash
    * before the commit leaves orphan new dirs (GC'd by retry or
    * [[ivfCompact]], source intact); a crash between commit and source
    * delete leaves BOTH copies briefly visible — the same
    * torn-visibility window [[ivfAppend]] documents for appends — and a
    * REPLAY of the same split is the recovery: it finishes the source
    * delete and returns the updated centroids (idempotent, the
    * index-commit replay convention). The returned means can differ at
    * ulp level between a fresh run and a replay (float avg over shuffle
    * order); IVF probe selection tolerates ulp wiggle by construction.
    */
  def ivfSplitCluster(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, vecCol: String, centroidDf: DataFrame,
      cluster: Any, newIdA: Any, newIdB: Any, steps: Int = 3): DataFrame = {
    val tag = s"split-$cluster-$newIdA-$newIdB"
      .replaceAll("[^A-Za-z0-9._-]", "_")
    val srcDir = new org.apache.hadoop.fs.Path(path, s"cluster=$cluster")
    def retireSource(): Unit = {
      val fs = srcDir.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(srcDir)) fs.delete(srcDir, true)
    }
    def updatedCents(two: DataFrame): DataFrame =
      centroidDf.filter(!(col("cluster") <=> lit(cluster)))
        .unionByName(two)
    def means(members: DataFrame): DataFrame =
      centroids(members.select(col("cluster"), col(vecCol)), "cluster", vecCol)
    IndexCommit.replace(spark, ivfIndex(path), tag) { _ =>
      // Replay after a crash in the commit→retire window: finish the
      // retirement, rebuild the two centroids from the committed members.
      retireSource()
      updatedCents(means(IndexCommit.committedRows(spark, path, Set(tag))))
    } { _ =>
      val rows = readLive(spark, path, idCol)
        .filter(col("cluster") <=> lit(cluster))
        .select(col(idCol), col(vecCol))
        .localCheckpoint(true) // seeds + Lloyd steps + the write read it
      val n = rows.count()
      require(n >= 2, s"cluster $cluster has $n live rows — nothing to split")
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
      val (observed, row) = observeTightness(assigned)
      writeClusters(floatRows(idCol, vecCol)(observed), path, tag,
        overwrite = false)
      (row(), () => { retireSource(); updatedCents(means(assigned)) })
    }
  }
}
