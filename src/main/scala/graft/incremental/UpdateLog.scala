package graft.incremental

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Run-audit log — the engine's `update_log` table (reference
  * checkpoints.py:13-50, bigquery_service.py:240-260): one row per stage
  * outcome, modes NOOP/STAGED/MERGED/APPEND/TRUNCATE/ERROR_LOGIN
  * (SURVEY.md §2.9 I5). STAGED counts the fetched rows a merge took;
  * there is no staging table, so it is logged only once the merge has
  * succeeded, next to MERGED (DEVIATIONS.md 16). Entries are buffered
  * in memory and appended in one micro-batch per flush
  * (UpdateLogBuffer.flush, checkpoints.py:41-50) — at scale this keeps
  * the audit write path to one small file per run instead of one per
  * stage.
  */
object UpdateLog {

  val schema: StructType = StructType(Seq(
    StructField("table_name", StringType, nullable = false),
    StructField("tenant", StringType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false),
    StructField("rows_loaded", LongType, nullable = false),
    StructField("max_updateTime", LongType),
    StructField("mode", StringType, nullable = false)))

  final case class Entry(
      tableName: String, tenant: String, updatedAt: java.sql.Timestamp,
      rowsLoaded: Long, maxUpdateTime: Option[Long], mode: String)
}

/** Buffered audit appender (reference checkpoints.py:25-50). */
final class UpdateLogBuffer(spark: SparkSession, path: String) {
  private val pending = scala.collection.mutable.ArrayBuffer.empty[UpdateLog.Entry]

  def add(tenant: String, table: String, rows: Long,
      maxUpdate: Option[Long], mode: String): Unit =
    pending += UpdateLog.Entry(table, tenant,
      new java.sql.Timestamp(System.currentTimeMillis()), rows, maxUpdate, mode)

  def flush(): Unit = if (pending.nonEmpty) {
    val rows = pending.map(e => Row(e.tableName, e.tenant, e.updatedAt,
      e.rowsLoaded, e.maxUpdateTime.map(Long.box).orNull, e.mode))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toList.asJava, UpdateLog.schema)
      .write.mode("append").parquet(path)
    pending.clear()
  }

  def pendingCount: Int = pending.size
}

/** Checkpoint cache — per-(table, tenant) high-watermark millis, derived
  * from `MAX(max_updateTime)` over the update log exactly as the
  * reference does (checkpoints.py:60-88, SURVEY.md §2.9 I1/A7): the
  * audit log IS the durable checkpoint store; `warm()` is one
  * aggregation over it.
  */
final class CheckpointStore(spark: SparkSession, path: String) {
  private val checkpoints =
    scala.collection.mutable.Map.empty[(String, String), Long]
  private val lastRun =
    scala.collection.mutable.Map.empty[(String, String), java.sql.Timestamp]

  /** Table-name normalization (checkpoints.py:79-81). */
  private def norm(table: String): String =
    table.trim.toLowerCase.replace("-", "_").replace(" ", "_")

  /** Load the cache from the audit log (checkpoints.py:60-77). */
  def warm(): Unit = {
    if (!graft.sources.Storage.exists(spark, path)) return
    graft.sources.Storage.read(spark, path, UpdateLog.schema)
      .groupBy(lower(col("table_name")).as("t"), col("tenant"))
      .agg(max(col("max_updateTime")).as("ck"), max(col("updated_at")).as("lr"))
      .collect().foreach { r =>
        val key = (r.getString(0), r.getString(1))
        if (!r.isNullAt(2)) checkpoints(key) = r.getLong(2)
        if (!r.isNullAt(3)) lastRun(key) = r.getTimestamp(3)
      }
  }

  def getCheckpoint(table: String, tenant: String): Option[Long] =
    checkpoints.get((norm(table), tenant))

  def setCheckpoint(table: String, tenant: String, value: Long): Unit =
    checkpoints((norm(table), tenant)) = value

  /** Forward-only advance (reference runner.py:306-311: the call_log
    * checkpoint only ever moves forward).
    */
  def advanceCheckpoint(table: String, tenant: String, value: Long): Unit = {
    val cur = getCheckpoint(table, tenant)
    if (cur.forall(value > _)) setCheckpoint(table, tenant, value)
  }

  def getLastRunAny(table: String): Option[java.sql.Timestamp] = {
    val n = norm(table)
    val vs = lastRun.collect { case ((t, _), dt) if t == n => dt }
    if (vs.isEmpty) None else Some(vs.maxBy(_.getTime))
  }
}
