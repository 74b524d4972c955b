package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities. AQE's runtime skew-join splitting
  * (enabled in [[graft.Engine]]) is the first line of defense; salting
  * is the explicit, planner-independent fallback for *known* hot keys —
  * e.g. the null/shared phone numbers of the reporting phone join
  * (SURVEY.md §4 "Skew handling").
  */
object Skew {

  /** Salted equi-join: the skewed (large) side gets a random-but-
    * deterministic salt in [0, salts); the small side is replicated
    * `salts` times; the join key becomes (key, salt). A key processed
    * by one reducer before is now spread over `salts` reducers.
    *
    * Join type may be "inner" or "left" (left = the skewed side —
    * replication of the right side never duplicates left rows because
    * each left row carries exactly one salt value).
    */
  def saltedJoin(skewed: DataFrame, small: DataFrame, key: String,
      salts: Int, joinType: String = "inner"): DataFrame = {
    require(salts > 0)
    require(joinType == "inner" || joinType == "left",
      s"salted join supports inner/left, got $joinType")
    // Deterministic salt: spreads a hot key across reducers without a
    // nondeterministic rand() (which would break retries/AQE replays).
    val salted = skewed.withColumn("__salt",
      pmod(xxhash64(skewed.columns.map(col): _*), lit(salts)))
    val replicated = small
      .withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
      .withColumn("__salt", col("__salt").cast("bigint"))
    salted.join(replicated, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Exact COUNT(DISTINCT value) per key, salted — the aggregation
    * analog of [[saltedJoin]]. A plain
    * `groupBy(key).agg(countDistinct(value))` exchanges the dedup
    * stage on the KEY alone, so one hot key's entire value set lands
    * on one reducer — at 100 TB with a 3-value key column that is
    * three reducers doing all the work. Bucketing the value by a
    * deterministic hash FIRST makes the dedup exchange partition on
    * (key, bucket): each hot key spreads over `buckets` reducers, and
    * because the hash partitions the value space disjointly, the
    * per-bucket distinct counts SUM to the exact global distinct count
    * — no approximation, no second scan. The final per-key aggregate
    * reduces `buckets` rows per key — trivial by construction.
    *
    * NULL values are FILTERED before the dedup stage: countDistinct
    * ignores them anyway, and xxhash64 of a null is the constant seed
    * — without the filter every null row of a hot key would land on
    * ONE (key, bucket) reducer, recreating exactly the hot spot the
    * salting exists to spread. A key whose values are all null
    * therefore yields no row (a plain countDistinct would report 0);
    * left-join the key dimension and coalesce if the zero row matters.
    */
  def saltedDistinctCount(df: DataFrame, keyCols: Seq[String],
      valueCol: String, buckets: Int = 64,
      out: String = "n_distinct"): DataFrame = {
    require(buckets > 0, s"need buckets > 0, got $buckets")
    df.filter(col(valueCol).isNotNull)
      .select((keyCols.map(col) :+ col(valueCol) :+
        pmod(xxhash64(col(valueCol)), lit(buckets)).as("__b")): _*)
      .groupBy((keyCols.map(col) :+ col("__b")): _*)
      .agg(countDistinct(col(valueCol)).as("__d"))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("__d")).as(out))
  }

  /** Key-distribution profiler — the "should I salt this join?" number.
    * For each requested column, the top-k values by row count with
    * their fraction of all rows. NULL is a value (and on real fact
    * tables often THE hot key).
    *
    * ONE scan for all profiled columns: each row explodes into
    * (key_col, value) pairs — column count is a small constant, so the
    * fan-out is bounded — and one count aggregation covers every
    * column. The aggregation's input is maximally skewed by definition
    * (the hot keys being hunted), which is exactly what map-side
    * partial aggregation absorbs: every mapper emits at most one row
    * per (column, distinct value), so the exchange carries partial
    * counts, never raw rows. Per-column totals reduce the counted
    * table again (tiny, broadcast back), and the bounded-heap TopK
    * cuts k rows per column with no sort. Values travel as strings —
    * the profile is a diagnostic, and a union across column types
    * needs one type.
    */
  def heavyHitters(df: DataFrame, keyCols: Seq[String], k: Int): DataFrame = {
    require(keyCols.nonEmpty, "need at least one column to profile")
    require(k > 0, "need a positive k")
    val missing = keyCols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"no such columns: ${missing.mkString(", ")}")
    val pairs = df.select(explode(array(keyCols.map(c =>
        struct(lit(c).as("key_col"), col(c).cast("string").as("value"))): _*))
        .as("kv"))
      .select(col("kv.key_col"), col("kv.value"))
    val counted = pairs.groupBy("key_col", "value")
      .agg(count(lit(1)).as("cnt"))
    val totals = counted.groupBy("key_col")
      .agg(sum(col("cnt")).as("__total"))
    TopK.perGroup(
        counted.join(broadcast(totals), Seq("key_col")),
        keys = Seq("key_col"),
        order = Seq(col("cnt").desc, col("value").asc_nulls_first), k = k)
      .select(col("key_col"), col("value"), col("cnt"),
        round(col("cnt").cast("double") / col("__total"), 9).as("frac"))
  }

  /** Distribution drift between two snapshots of the same table — the
    * ingest monitor that catches "today's crawl shifted the language
    * mix" before it poisons a training run. Per key value: both row
    * counts, both shares, and |Δshare| (the per-key term of total
    * variation distance; TVD = Σ/2, on the 1e-9 grid after the
    * round). Keys missing from one side count 0 there (full-outer).
    * Two count aggregates (map-side combined) + tiny broadcast
    * totals — never a shuffle of raw rows; the same scale posture as
    * [[heavyHitters]].
    */
  def distributionDrift(a: DataFrame, b: DataFrame,
      keyCol: String): DataFrame = {
    def counted(df: DataFrame, n: String) =
      df.groupBy(col(keyCol).cast("string").as("key"))
        .agg(count(lit(1)).as(n))
    val ca = counted(a, "n_a")
    val cb = counted(b, "n_b")
    val ta = ca.agg(sum(col("n_a")).as("__ta"))
    val tb = cb.agg(sum(col("n_b")).as("__tb"))
    ca.join(cb, ca("key") <=> cb("key"), "full_outer")
      .select(coalesce(ca("key"), cb("key")).as("key"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
      .select(col("key"), col("n_a"), col("n_b"),
        round(col("n_a").cast("double") / col("__ta"), 9).as("share_a"),
        round(col("n_b").cast("double") / col("__tb"), 9).as("share_b"),
        round(abs(col("n_a").cast("double") / col("__ta") -
          col("n_b").cast("double") / col("__tb")), 9).as("share_diff"))
  }

  /** Sketch-based corpus profile — the 100 TB shape of "how many
    * distinct tokens / what's the median length per group". Exact
    * distinct-token counting shuffles every distinct token and exact
    * medians sort whole partitions; the sketches (HLL++ cardinality,
    * quantile summary) are one-scan aggregates with small mergeable
    * per-group state, so the exchange carries O(groups · sketch) bytes
    * no matter the corpus size. Per group: exact doc count (free on
    * the same scan), HLL distinct-token estimate over word tokens of
    * `body`, and the approximate median of `lenCol`.
    *
    * Two scans by necessity (doc-level stats vs token-level
    * cardinality — the explode changes the row universe), joined on
    * the group key: a broadcast of one tiny side. Accuracy is a
    * CONTRACT, not a hope: q112 gates `rsd` (±3σ) and the quantile
    * error against exact recomputation in the oracle, the same
    * measured-accuracy posture as the ANN/dedup recall gates.
    */
  def sketchProfile(docs: DataFrame, groupCol: String, body: String,
      lenCol: String, rsd: Double = 0.05, pctAccuracy: Int = 10000): DataFrame = {
    val docAgg = docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        percentile_approx(col(lenCol), lit(0.5), lit(pctAccuracy))
          .as("p50_len_approx"))
    val tokAgg = docs
      .select(col(groupCol),
        explode(graft.functions.TextFunctions.words(col(body))).as("__w"))
      .groupBy(col(groupCol))
      .agg(approx_count_distinct(col("__w"), rsd).as("n_tok_approx"))
    docAgg.join(tokAgg, Seq(groupCol))
  }

  /** Count-min sketch build (Cormode & Muthukrishnan 2005 — public
    * algorithm): `depth × width` counter cells, cell (r, c) counts the
    * rows whose key hashes to column c under row-r's hash. The
    * frequency summary that fits in KB when the key space doesn't:
    * mergeable across partitions/batches (cells just add), one-sided
    * error (estimates never undercount), ε ≈ e/width overcount bound.
    *
    * Hashing is the house portable family (md5 over `salt:r:key`, first
    * 12 hex chars as an integer) so an engine-independent restatement
    * builds bit-identical cells —
    * the q170 gate proves BOTH the sketch construction and the
    * estimate query. Build is one map-side ×depth fan-out collapsing
    * into ≤ depth·width cells before the exchange (map-side combine);
    * the cells table is broadcast-sized by construction.
    */
  def countMinCells(df: DataFrame, keyCol: String, depth: Int, width: Int,
      salt: String, weight: Column = lit(1L)): DataFrame = {
    require(depth >= 1 && width >= 1,
      s"need depth >= 1 and width >= 1, got $depth x $width")
    // `weight` defaults to 1 per row (the streaming build); passing a
    // pre-aggregated count column builds IDENTICAL cells from a
    // key-count table (CMS is additive), turning d×|rows| hash calls
    // into d×|keys| when counts already exist.
    df.select(explode(sequence(lit(0), lit(depth - 1))).as("r"), col(keyCol),
        weight.cast("long").as("__w"))
      .select(col("r"), col("__w"),
        (conv(substring(md5(concat_ws(":", lit(salt), col("r"),
          col(keyCol).cast("string"))), 1, 12), 16, 10).cast("long")
          % lit(width)).as("c"))
      .groupBy("r", "c").agg(sum(col("__w")).as("cnt"))
  }

  /** A built sketch with the parameters it was hashed under. Probing
    * MUST reuse the build's (depth, width, salt) — a mismatch lands
    * probes in cells the key never incremented and silently breaks
    * the never-undercount guarantee — so the handle pairs them at the
    * type level instead of trusting call sites to repeat them.
    */
  final case class CmsSketch(cells: DataFrame, depth: Int, width: Int,
      salt: String)

  def countMinSketchWeighted(df: DataFrame, keyCol: String, depth: Int,
      width: Int, salt: String, weight: Column): CmsSketch =
    CmsSketch(countMinCells(df, keyCol, depth, width, salt, weight),
      depth, width, salt)

  // ---- KMV distinct-count sketch --------------------------------------
  // K-minimum-values (Bar-Yossef et al. 2002, public result): keep the
  // k smallest hash values per group; estimate distinct count as
  // (k-1)/h_(k) with h in [0,1). The mergeable-rollup staple — daily
  // sketches union into monthly ones by re-taking the k smallest — in
  // a form that, UNLIKE HLL register banks, is a pure deterministic
  // function of md5 order statistics: both engines can restate it
  // EXACTLY, so the estimate itself is oracle-checkable, not just
  // "close to exact". 48 hash bits ride as 12 md5 hex chars; h_(k) is
  // that integer over 2^48 (both exact in a double, one IEEE divide).

  private val KmvDenom = 281474976710656.0 // 2^48

  private def kmvHash(keyCol: Column, salt: String): Column =
    substring(md5(concat(lit(salt + ":"), keyCol.cast("string"))), 1, 12)

  /** One sketch row per group: `kmv` = the sorted k smallest DISTINCT
    * key hashes. Bounded-heap top-k per group (never a per-group
    * sort); ≤ k·12 bytes per group. Groups with < k distinct keys
    * carry all their hashes — the sketch is EXACT there.
    */
  def kmvSketch(df: DataFrame, groupCols: Seq[String], keyCol: String,
      k: Int, salt: String): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val hs = df
      .select((groupCols.map(col) :+ kmvHash(col(keyCol), salt).as("__h")): _*)
      .distinct()
    TopK.perGroup(hs, groupCols, Seq(col("__h").asc), k)
      .groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(col("__h"))).as("kmv"))
  }

  /** Merge sketches into coarser groups (day → month, shard → table):
    * explode, dedup, re-take the k smallest. Correct by the KMV merge
    * property (the union's k smallest hashes are all present in some
    * input sketch), so a rollup never re-reads the raw data.
    */
  def kmvMerge(sketches: DataFrame, groupCols: Seq[String], k: Int): DataFrame = {
    val hs = sketches
      .select((groupCols.map(col) :+ explode(col("kmv")).as("__h")): _*)
      .distinct()
    TopK.perGroup(hs, groupCols, Seq(col("__h").asc), k)
      .groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(col("__h"))).as("kmv"))
  }

  /** Incremental sketch maintenance — the IVM shape for distinct
    * rollups: fold a NEW batch into an existing sketch table without
    * ever re-reading raw history. Untouched groups pass through
    * unchanged (anti-join on the delta's group set); touched groups
    * merge their stored sketch with the batch's. O(batch + touched
    * sketches): the raw corpus the sketches summarize is never
    * scanned.
    */
  def kmvUpdate(sketches: DataFrame, batch: DataFrame,
      groupCols: Seq[String], keyCol: String, k: Int, salt: String)
      : DataFrame = {
    val delta = kmvSketch(batch, groupCols, keyCol, k, salt)
      .localCheckpoint(true) // touched-group semi/anti joins + merge
    val touched = kmvMerge(
      sketches.join(delta.select(groupCols.map(col): _*),
          groupCols, "left_semi")
        .unionByName(delta), groupCols, k)
    sketches.join(delta.select(groupCols.map(col): _*), groupCols, "left_anti")
      .unionByName(touched)
  }

  /** Distinct-count estimate from a sketch row: exact (= size) below
    * k; (k-1)/h_(k) at capacity, rounded to the 1e-9 grid. The divide
    * order (v/2^48 first, then (k-1)/frac) is part of the portable
    * contract — restate it identically or the low bits drift.
    */
  def kmvEstimate(kmv: Column, k: Int): Column =
    when(size(kmv) < k, size(kmv).cast("double"))
      .otherwise(round(lit((k - 1).toDouble) /
        (conv(element_at(kmv, k), 16, 10).cast("double") / lit(KmvDenom)), 9))

  /** KMV set algebra (Beyer et al., SIGMOD'07, public result): union,
    * intersection, and Jaccard ESTIMATES for every unordered pair of
    * group sketches, without touching the raw data. The union of two
    * KMV sketches is itself a KMV sketch of A∪B (merge, re-take the k
    * smallest); within that union sketch the fraction of hashes
    * present in BOTH input sketches is an unbiased Jaccard estimator
    * (each of the union's k minima is a uniform sample of A∪B); the
    * intersection estimate is that fraction times the union's
    * (k-1)/h_(k) cardinality estimate. Everything is a deterministic
    * function of md5 order statistics — exactly restatable by an
    * independent engine, the [[kmvSketch]] contract.
    *
    * Pairs are enumerated with a bounded nested-loop self-join: the
    * sketch table is one ≤ k·12-byte row per group, so this is for
    * LOW-CARDINALITY group keys (sources, shards, days — the q109
    * blocking posture). Guarded: refuses more than `maxGroups` rows
    * rather than silently going quadratic on a data-sized key.
    *
    * Output: (src1, src2, jaccard_est, union_est, inter_est), one row
    * per unordered pair, estimates on the 1e-9 grid.
    */
  def kmvPairwiseSetOps(sketches: DataFrame, groupCol: String, k: Int,
      maxGroups: Int = 4096): DataFrame = {
    val n = sketches.count()
    require(n <= maxGroups,
      s"kmvPairwiseSetOps: $n groups exceeds maxGroups=$maxGroups — " +
        "pairwise sketch comparison is quadratic in the group count; " +
        "raise the cap only for genuinely bounded keys")
    val a = sketches.select(col(groupCol).as("src1"), col("kmv").as("__ka"))
    val b = sketches.select(col(groupCol).as("src2"), col("kmv").as("__kb"))
    val merged = slice(array_sort(array_union(col("__ka"), col("__kb"))), 1, k)
    val m = size(array_intersect(col("__merged"),
      array_intersect(col("__ka"), col("__kb"))))
    a.join(broadcast(b), col("src1") < col("src2"))
      .withColumn("__merged", merged)
      .withColumn("jaccard_est",
        round(m.cast("double") / size(col("__merged")).cast("double"), 9))
      .withColumn("union_est", kmvEstimate(col("__merged"), k))
      .withColumn("inter_est",
        round(col("jaccard_est") * col("union_est"), 9))
      .select("src1", "src2", "jaccard_est", "union_est", "inter_est")
  }

  /** All unordered within-block pairs of a blocked SELF-join, with the
    * pair space decomposed into bucket-pair sub-blocks so parallelism
    * is `|blocks| · B(B+1)/2` instead of `|blocks|` — the fix for the
    * classic entity-resolution shape where a low-cardinality blocking
    * key (brand, zip, domain: tens of values) caps a Σ|block|² pair
    * expansion at a handful of straggler tasks no matter how many
    * cores exist. Each row lands in bucket `u = hash(key) % B`; the
    * canonical sub-block of a pair is (min(u_a, u_b), max(u_a, u_b)),
    * so the left side replicates a row to sub-blocks (u, u..B-1) and
    * the right side to (0..u, u) — every unordered pair meets exactly
    * once, on an EQUI join key (block, i, j) that distributes. Skew in
    * the blocking key itself is handled by the same mechanism: a hot
    * block's quadratic work spreads over its B(B+1)/2 sub-blocks.
    *
    * Replication is ~B/2× per side of the (small: key + block + the
    * compared columns) pair input — choose B so that
    * `blocks · B(B+1)/2` comfortably exceeds the cluster's cores;
    * B=8 turns 25 brands into 900 tasks.
    *
    * Returns one row per unordered pair: the block columns plus
    * structs `a` and `b` carrying the full input rows, normalized so
    * `a.keyCol < b.keyCol`.
    */
  def blockedSelfPairs(df: DataFrame, blockCols: Seq[String], keyCol: String,
      buckets: Int): DataFrame = {
    require(buckets >= 1, s"need buckets >= 1, got $buckets")
    require(blockCols.nonEmpty, "need at least one blocking column")
    // a NULL key cannot order a pair (and a null-keyed entity cannot be
    // linked to itself meaningfully): excluded up front, loudly simple
    val withB = df.filter(col(keyCol).isNotNull)
      .withColumn("__bkt", pmod(xxhash64(col(keyCol)), lit(buckets)).cast("int"))
      .withColumn("__row", struct(df.columns.map(col).toIndexedSeq: _*))
    val left = withB
      .select((blockCols.map(col) :+ col("__bkt").as("__i") :+
        col("__row").as("__a")): _*)
      .withColumn("__j", explode(sequence(col("__i"), lit(buckets - 1))))
    val right = withB
      .select((blockCols.map(col) :+ col("__bkt").as("__j") :+
        col("__row").as("__b")): _*)
      .withColumn("__i", explode(sequence(lit(0), col("__j"))))
    val aKey = col("__a").getField(keyCol)
    val bKey = col("__b").getField(keyCol)
    // The join INPUTS are tiny (the pair expansion happens in the join
    // output), so AQE's size-based coalescing would fold the sub-blocks
    // back into one or two tasks and serialize the per-pair compute —
    // the exact pathology this operator exists to fix. An explicit
    // fixed-N repartition on the join key is one AQE must preserve,
    // and both sides sharing it means the join adds no further
    // exchange; sub-blocks spread evenly (there are far more of them
    // than partitions).
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    val keys = blockCols.map(col) ++ Seq(col("__i"), col("__j"))
    left.repartition(nPart, keys: _*)
      .join(right.repartition(nPart, keys: _*), blockCols ++ Seq("__i", "__j"))
      // same-bucket sub-blocks see both orderings of a pair: keep one.
      // (cross-bucket sub-blocks meet each pair exactly once already;
      // the null-rejecting '<' also drops degenerate null-key rows.)
      .filter(col("__i") =!= col("__j") || aKey < bKey)
      .select((blockCols.map(col) :+
        when(aKey < bKey, col("__a")).otherwise(col("__b")).as("a") :+
        when(aKey < bKey, col("__b")).otherwise(col("__a")).as("b")): _*)
  }

  /** Point-frequency estimates from a sketch: min over the key's depth
    * cells. `keys` is a (small) table of keys to probe; the cells
    * table broadcasts, so probing is map-side.
    */
  def cmsEstimate(sketch: CmsSketch, keys: DataFrame, keyCol: String)
      : DataFrame =
    keys
      .select(col(keyCol),
        explode(sequence(lit(0), lit(sketch.depth - 1))).as("r"))
      .withColumn("c",
        conv(substring(md5(concat_ws(":", lit(sketch.salt), col("r"),
          col(keyCol).cast("string"))), 1, 12), 16, 10).cast("long")
          % lit(sketch.width))
      .join(broadcast(sketch.cells), Seq("r", "c"), "left")
      .groupBy(col(keyCol))
      // A key hashing into an untouched cell has true count 0 in that
      // row — the min must see 0, not skip the null.
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
}
