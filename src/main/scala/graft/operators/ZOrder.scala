package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering for multi-dimensional data skipping —
  * the layout lever behind "cluster by (a, b)" in modern lakehouse
  * writers: interleaving the bits of several column buckets gives ONE
  * sort key under which file/partition min-max ranges stay tight in
  * EVERY clustered dimension, so a scan filtered on any of them prunes
  * most files. A linear sort gives the same benefit only for its
  * leading column.
  *
  * All of it is plain column arithmetic (bucket normalize → shift/and/
  * or interleave), fully inside whole-stage codegen and restatable in
  * any SQL engine — no UDF, no driver loop. A writer range-repartitions
  * on the z-value ([[withZValue]]): the sampling-based range exchange
  * balances output files even when the z-space is unevenly populated.
  */
object ZOrder {

  /** Bit-interleave already-normalized integer buckets (each in
    * [0, 2^bits)): z bit `i·n + d` = bit `i` of `buckets(d)` — dim 0
    * occupies the lowest position of each bit group, so the HIGH bits
    * of the z-value alternate the high bits of every dimension.
    * `n·bits` must fit a long (≤ 63).
    */
  def interleave(buckets: Seq[Column], bits: Int): Column = {
    val n = buckets.size
    require(n >= 1 && bits >= 1 && n * bits <= 63,
      s"interleave needs 1+ columns and n*bits <= 63, got n=$n bits=$bits")
    val terms = for {
      i <- 0 until bits
      d <- 0 until n
    } yield shiftleft(
      shiftright(buckets(d), i).bitwiseAND(lit(1L)), i * n + d)
    terms.reduce(_ + _)
  }

  /** Min-max normalize a column to an integer bucket in [0, 2^bits):
    * `floor((x - min) · (2^bits - 1) / (max - min))`, 0 when the
    * column is constant (span 0) or null. Exact for integral inputs
    * below 2^52 (the double mantissa); rank-based bucketing can be
    * substituted upstream for heavy skew.
    */
  def minMaxBucket(x: Column, minV: Column, maxV: Column, bits: Int): Column = {
    val span = maxV.cast("double") - minV.cast("double")
    when(x.isNull || span <= 0, lit(0L)).otherwise(
      floor((x.cast("double") - minV.cast("double")) *
        lit(((1L << bits) - 1).toDouble) / span).cast("long"))
  }

  /** Add a z-value column over `cols` (min-max normalized to `bits`
    * each). The min/max aggregate is one tiny job broadcast back —
    * at 100 TB these bounds come from table stats instead; pass them
    * via `interleave`+[[minMaxBucket]] directly to skip the scan.
    */
  def withZValue(df: DataFrame, cols: Seq[String], bits: Int,
      zCol: String = "__z"): DataFrame = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c")))
    val bounds = df.agg(aggs.head, aggs.tail: _*)
    val z = interleave(cols.map(c =>
      minMaxBucket(col(c), col(s"__mn_$c"), col(s"__mx_$c"), bits)), bits)
    df.crossJoin(broadcast(bounds))
      .withColumn(zCol, z)
      .drop(cols.flatMap(c => Seq(s"__mn_$c", s"__mx_$c")): _*)
  }
}
