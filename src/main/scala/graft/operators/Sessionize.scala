package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization: group a per-key event stream into sessions
  * separated by inactivity gaps larger than `gapMs` — the batch
  * equivalent of a session window.
  *
  * Shape: one shuffle on the key + per-key sort, then two window
  * passes (lag → gap flag → running sum = session index). No state
  * store, no cross-key data movement; a hot key costs a local sort,
  * which is the floor for any order-dependent computation. (The
  * Structured Streaming face of the same semantics is Spark's
  * `session_window()`.)
  */
object Sessionize {

  /** Assign `session_id` (0-based per key) to every event. `timeCol`
    * must be numeric millis (cast timestamps first).
    */
  def assign(events: DataFrame, keyCol: String, timeCol: String,
      gapMs: Long): DataFrame = {
    val byKey = Window.partitionBy(keyCol).orderBy(col(timeCol).asc)
    val newSession = when(
      col(timeCol) - lag(col(timeCol), 1).over(byKey) > gapMs, 1)
      .otherwise(0)
    events
      .withColumn("__new_session", newSession)
      .withColumn("session_id",
        sum(col("__new_session")).over(
          byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__new_session")
  }

  /** Per-session rollup: bounds, duration, and event count. */
  def summarize(events: DataFrame, keyCol: String, timeCol: String,
      gapMs: Long): DataFrame =
    assign(events, keyCol, timeCol, gapMs)
      .groupBy(col(keyCol), col("session_id"))
      .agg(
        min(col(timeCol)).as("session_start"),
        max(col(timeCol)).as("session_end"),
        (max(col(timeCol)) - min(col(timeCol))).as("duration_ms"),
        count(lit(1)).as("n_events"))
}
