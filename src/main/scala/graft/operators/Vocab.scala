package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Persisted stable token vocabulary — the id-assignment artifact a
  * training pipeline freezes: once a token has an id, that id must
  * never change (checkpoints, packed shards, and eval sets all bake
  * ids in), and new tokens must get fresh ids ABOVE every existing id
  * so an embedding table grows by concatenation, never by reindexing.
  *
  * Layout: `(token, id)` parquet rows partitioned by `batch` (build
  * writes `batch=build`), plus a `__meta` ledger row per batch
  * `(batch, n_tokens, max_id)` — one of the five artifact families on
  * the [[IndexCommit]] protocol (text postings, vector clusters, LSH
  * bands, window digests, ids): the ledger row is the COMMIT POINT, a torn append
  * is invisible, a retry replaces the failed batch's dirs, a
  * committed batch id is exactly-once, and the writer lock excludes
  * concurrent assignment (two uncoordinated appends would mint
  * colliding ids — the one failure mode this artifact exists to
  * prevent).
  *
  * Id order: build assigns 0..V−1 by (count DESC, token ASC) — the
  * frequency convention every tokenizer uses, so frequent tokens get
  * small ids and downstream tables can be truncated by id. Appends
  * assign maxId+1.. to NEW tokens only, same order within the batch.
  * Assignment is a global order, realized with `zipWithIndex` over
  * the sorted frame (order-preserving and distributed — never a
  * one-partition row_number window).
  */
object Vocab {

  private def index(path: String) = IndexCommit.Index("vocab", path,
    "batch STRING, n_tokens LONG, max_id LONG", Seq(path -> ""))()

  /** The payload's data columns; `batch` is the partition directory. */
  private val payload = StructType.fromDDL("token STRING, id LONG")

  /** (token, id) from a token-occurrence stream (one row per
    * occurrence; counting is internal). Overwrites any existing vocab
    * at `path` and resets the ledger.
    */
  def build(toks: DataFrame, tokenCol: String, path: String): Unit =
    IndexCommit.build(toks.sparkSession, index(path)) {
      val ids = assignIds(counts(toks, tokenCol), startId = 0L)
        .localCheckpoint(true) // write + the max-id aggregate
      ids.withColumn("batch", lit("build"))
        .write.mode("overwrite").option("partitionOverwriteMode", "static")
        .partitionBy("batch").parquet(path)
      ledgerRow(ids)
    }

  /** Mint ids for the batch's NEW tokens only (anti-join against the
    * committed vocab), starting at maxId+1. O(batch + one vocab
    * anti-join): existing rows are never read into the write path,
    * let alone rewritten.
    */
  def append(toks: DataFrame, tokenCol: String, path: String,
      batch: String): Unit =
    IndexCommit.append(toks.sparkSession, index(path), batch) { ledger =>
      val existing = IndexCommit.committedRows(toks.sparkSession, path,
        ledger.committed, Some(payload)).select("token")
      val fresh = counts(toks, tokenCol)
        .join(existing, Seq("token"), "left_anti")
      val ids = assignIds(fresh, startId = maxId(ledger) + 1)
        .localCheckpoint(true) // write + the max-id aggregate
      ids.withColumn("batch", lit(batch))
        .write.mode("append").option("partitionOverwriteMode", "static")
        .partitionBy("batch").parquet(path)
      ledgerRow(ids)
    }

  /** The committed vocabulary: (token, id), torn appends invisible. */
  def read(spark: SparkSession, path: String): DataFrame =
    IndexCommit.committedRows(spark, path,
      IndexCommit.readLedger(spark, index(path)).committed, Some(payload))
      .select("token", "id")

  private def counts(toks: DataFrame, tokenCol: String): DataFrame =
    toks.filter(col(tokenCol).isNotNull)
      .groupBy(col(tokenCol).as("token"))
      .agg(count(lit(1)).as("__c"))

  /** Dense ids in (count DESC, token ASC) order from `startId`.
    * zipWithIndex preserves the sort order across partitions and
    * never funnels the vocab into one task.
    */
  private def assignIds(cnt: DataFrame, startId: Long): DataFrame = {
    val spark = cnt.sparkSession
    val sorted = cnt.orderBy(col("__c").desc, col("token").asc)
    spark.createDataFrame(
      sorted.select("token").rdd.zipWithIndex().map {
        case (r, i) => Row(r.getString(0), startId + i)
      }, payload)
  }

  private def maxId(ledger: IndexCommit.Ledger): Long =
    ledger.rows.map(_.getAs[Long]("max_id")).max

  /** The batch's ledger row: (n_tokens, max_id), max_id −1 when empty. */
  private def ledgerRow(ids: DataFrame): Seq[Any] = {
    val st = ids.agg(count(lit(1)).as("n"),
      coalesce(max(col("id")), lit(-1L)).as("mx")).head()
    Seq(st.getLong(0), st.getLong(1))
  }
}
