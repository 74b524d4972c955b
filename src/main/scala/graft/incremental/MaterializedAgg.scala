package graft.incremental

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance of a materialized additive aggregate: given
  * the STORED aggregate state and a new delta batch, produce the
  * refreshed aggregate touching only O(|delta| groups) of work beyond
  * a state merge — never re-scanning the base fact table. The
  * classic warehouse pattern the reference's fact-refresh MERGEs
  * approximate with full-window recompute (runner.py's merge windows);
  * here it is exact and windowless for the self-maintainable
  * aggregates (SUM/COUNT, and MIN/MAX under insert-only deltas).
  *
  * State schema contract: `keys ++ (for each measure m: sum_m, plus
  * n_rows)`. AVG is derived (sum/n) at read time — storing the ratio
  * would make the state non-mergeable. Deletes/updates arrive as
  * COMPENSATING rows (negative measures, n = -1), the standard
  * incremental-view-maintenance encoding, so one code path handles
  * I/U/D. Groups whose row count reaches 0 are dropped from the
  * state (a group whose every row was retracted must disappear, not
  * linger as a zero row).
  *
  * Scale: the delta is aggregated first (one shuffle over the BATCH,
  * map-side combined), then merged with the state via one
  * unionByName + re-aggregate over two ALREADY-AGGREGATED inputs —
  * cost proportional to the touched group count, not the base table.
  * Sums accumulate in DECIMAL(38,6) so the merged totals are
  * shuffle-order-independent and exactly equal a from-scratch
  * recompute (the q163 gate).
  */
object MaterializedAgg {

  /** Aggregate a raw batch into state form: `keys`, one decimal
    * `sum_<m>` per measure, `n_rows`. `rowWeight` is +1 for ordinary
    * inserts (default); an IVM changelog passes its sign column (+1
    * insert / -1 retraction, with the measure values in the
    * retraction rows already negated by the producer).
    */
  def aggregate(batch: DataFrame, keys: Seq[String],
      measures: Seq[String], rowWeight: org.apache.spark.sql.Column = lit(1L))
      : DataFrame = {
    require(keys.nonEmpty && measures.nonEmpty, "need keys and measures")
    val aggs = measures.map(m =>
      sum(col(m).cast("decimal(38,6)")).as(s"sum_$m")) :+
      sum(rowWeight.cast("long")).as("n_rows")
    batch.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge stored state with a NEW DELTA of raw rows (positive or
    * compensating): returns the refreshed state. `state` must be in
    * [[aggregate]]'s schema; pass a 0-row frame for a cold start.
    */
  def refresh(state: DataFrame, delta: DataFrame, keys: Seq[String],
      measures: Seq[String],
      rowWeight: org.apache.spark.sql.Column = lit(1L)): DataFrame = {
    val deltaAgg = aggregate(delta, keys, measures, rowWeight)
    val sumCols = measures.map(m => s"sum_$m") :+ "n_rows"
    require(sumCols.forall(state.columns.contains),
      s"state schema missing ${sumCols.filterNot(state.columns.contains)
        .mkString(", ")} — was it produced by MaterializedAgg.aggregate?")
    state.unionByName(deltaAgg)
      .groupBy(keys.map(col): _*)
      .agg(
        sum(col(sumCols.head)).as(sumCols.head),
        sumCols.tail.map(c => sum(col(c)).as(c)): _*)
      .filter(col("n_rows") =!= 0)
  }
}
