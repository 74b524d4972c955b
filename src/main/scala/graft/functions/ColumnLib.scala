package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core column library — the reference's pandas/SQL scalar surface
  * re-expressed as pure Spark `Column` combinators (SURVEY.md §2.2/§2.7).
  * Everything here stays inside whole-stage codegen: built-in functions
  * only, no UDFs.
  */
object ColumnLib {

  // ---------------------------------------------------------------------
  // Timezone-duality date derivation (reference X-date semantics).
  // The reference derives ingestion dates in UTC (runner.py:135-136,300)
  // but reporting dates in Asia/Ho_Chi_Minh (runner.py:610,641). Both are
  // first-class named helpers so call sites state which they mean.
  // ---------------------------------------------------------------------

  /** Epoch-millis → civil DATE in UTC (reference runner.py:135-136). */
  def civilDateUtc(ms: Column): Column =
    to_date(timestamp_millis(ms.cast(LongType)))

  /** Epoch-millis → civil DATE in UTC+7 (reference runner.py:610, 641:
    * `DATE(TIMESTAMP_MILLIS(ms), 'Asia/Ho_Chi_Minh')`). Vietnam has no
    * DST so the zone is a constant +7h offset.
    */
  def civilDateVn7(ms: Column): Column =
    to_date(from_utc_timestamp(timestamp_millis(ms.cast(LongType)),
      "Asia/Ho_Chi_Minh"))

  /** TIMESTAMP → civil DATE in UTC+7 for already-typed timestamps. */
  def tsToDateVn7(ts: Column): Column =
    to_date(from_utc_timestamp(ts, "Asia/Ho_Chi_Minh"))

  // ---------------------------------------------------------------------
  // Permissive arithmetic (GoogleSQL SAFE_DIVIDE, runner.py:625).
  // ---------------------------------------------------------------------

  /** SAFE_DIVIDE(x, y): null on zero/null divisor (runner.py:625). */
  def safeDivide(x: Column, y: Column): Column = try_divide(x, y)

  // ---------------------------------------------------------------------
  // Change-detection row hash (reference utils.py:46-66).
  // Excludes the volatile column set so timestamp churn does not defeat
  // the hash-guarded upsert (runner.py:177-181). We hash a '|'-joined
  // canonical string, not Python's json.dumps — parity with the
  // reference's *semantics* (same row ⇒ same hash within our engine),
  // not its bytes; the hash is only ever compared to hashes we wrote.
  // ---------------------------------------------------------------------

  /** Volatile columns excluded from the row hash (utils.py:49-58). */
  val volatileColumns: Set[String] = Set(
    "row_hash", "updateTime", "createTime", "updatedAt", "createdAt",
    "NgayTao", "NgayUpdate", "NgayAssign")

  /** Stable change-detection hash over the non-volatile columns, sorted by
    * name (utils.py:46-66). Null is encoded distinctly from empty string.
    */
  def rowHash(df: DataFrame): Column = {
    val cols = df.columns.filterNot(volatileColumns.contains).sorted
    rowHashOf(cols.map(col).toIndexedSeq)
  }

  /** Hash of an explicit column list (callers control volatility). */
  def rowHashOf(cols: Seq[Column]): Column =
    md5(concat_ws("|", cols.map(c => coalesce(c.cast(StringType), lit("\u0000"))): _*))

  // ---------------------------------------------------------------------
  // Column template conformance (reference runner.py:114-133, 268-282:
  // fixed output schema, missing columns backfilled as NULL, reordered).
  // ---------------------------------------------------------------------

  /** Project `df` onto `schema` exactly: present columns are cast to the
    * declared type, absent columns appear as typed NULLs, order follows
    * the template (P1/P2 in SURVEY.md §2.2).
    */
  def conformTo(df: DataFrame, schema: StructType): DataFrame = {
    val have = df.columns.toSet
    df.select(schema.fields.map { f =>
      if (have.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }

  // ---------------------------------------------------------------------
  // Latest-record-wins dedup (reference runner.py:169-172, 477-480:
  // QUALIFY ROW_NUMBER() OVER (PARTITION BY keys ORDER BY ord DESC) = 1).
  // ---------------------------------------------------------------------

  /** First name in the `base`, `base1`, `base2`, ... sequence not taken
    * by the input — collision-proofing for operators that add-then-drop
    * a working column: an input that legitimately carries the base name
    * (e.g. a re-ingested export) must survive untouched, not be
    * clobbered-then-dropped.
    */
  def freeColumn(df: DataFrame, base: String): String =
    Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
      .find(n => !df.columns.contains(n)).get

  /** Repartition a frame that is ALREADY materialized
    * (localCheckpoint output) to the session's shuffle parallelism,
    * and do nothing when it is already wide (within 2x of the target).
    * The guard reads the frame's actual
    * runtime partition count — which planning-time guards cannot know
    * once AQE has coalesced the producing exchange — and the plan
    * walked by `.rdd` is a single ExistingRDD, so the probe is free.
    * The repartition itself is lazy: it runs as part of the consumer's
    * job, so only the caller's lineage cut is materialized.
    * AQE coalesces post-shuffle stages BY BYTES; a byte-light but
    * CPU-heavy consumer (posexplode + decimal accumulation) of a small
    * buffer otherwise inherits 1-3 partitions and serializes on one
    * core (guide §2.5 — the skew is in CPU per byte, not in bytes).
    * At production scale the materialized buffer is already wide and
    * this is a no-op; the runtime guard is the scale-safety.
    * Unmaterialized scans are deliberately NOT widened: the
    * order-corrected same-JVM A/B measured a scan-side repartition
    * 1.07-1.28x slower on every affected gate at these input sizes.
    */
  def widenMaterialized(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions * 2 > target) df
    else df.repartition(target)
  }

  /** Run an independent blocking subtree off-thread (guide §2.6:
    * "actions are only sequential because your driver code calls them
    * sequentially"). Returns a handle; calling it awaits the result.
    * Exceptions surface at the await, as with any action. Measured
    * against eager in-order evaluation in a same-JVM A/B over the
    * fork-heavy gates: 0.770 of the total time on 4 cpus, 0.706 on 8
    * (OPTIMIZATION_r16.md).
    */
  def fork[T](f: => T): () => T = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fut = Future(f); () => Await.result(fut, Duration.Inf)
  }

  /** Join every [[fork]] handle, THEN rethrow the first failure in
    * argument order (later ones ride along as suppressed). Awaiting
    * handles one by one would unwind on the first failure while a
    * sibling still runs, so a caller's retry or lock release would race
    * that sibling's writes. After this returns, calling a handle
    * returns its value without waiting.
    */
  def awaitAll(handles: (() => Any)*): Unit = {
    val failures = handles.flatMap(h => scala.util.Try(h()).failed.toOption)
    failures.headOption.foreach { first =>
      failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
      throw first
    }
  }

  /** Keep the first row per key under `ordering` (descending-first wins).
    * `ordering` must be a total order within each key group for
    * deterministic output; callers append a unique tiebreaker.
    *
    * Stays on the sort-based window plan DELIBERATELY, not on
    * [[graft.operators.TopK.perGroup]] with k = 1: latest-wins key sets
    * are usually near-unique (one row per (tenant, _id)), and the heap
    * operator's per-partition hash map is sized by DISTINCT KEYS — on
    * near-unique keys it would pin roughly the whole partition in
    * executor memory with no spill path, while SortExec spills to disk
    * gracefully. The heap plan wins only when groups ≪ rows; use
    * `TopK.perGroup` directly for that shape (TopKSpec pins that both
    * formulations agree under the total-order contract).
    */
  def latestWins(df: DataFrame, keys: Seq[String], ordering: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rn = freeColumn(df, "__rn")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1)
      .drop(rn)
  }

  // ---------------------------------------------------------------------
  // Exact-sum helper: floating-point SUM is order-dependent, so a shuffle
  // re-order changes low bits run-to-run. For deterministic (and
  // oracle-comparable) totals we sum in decimal — exact, associative —
  // then surface a double. At 100 TB this also makes partial/final
  // aggregation bit-stable across retries and AQE re-plans.
  // ---------------------------------------------------------------------

  /** Order-insensitive exact sum of a double column, returned as double. */
  def exactSum(c: Column): Column =
    sum(c.cast(DecimalType(28, 6))).cast(DoubleType)
}
