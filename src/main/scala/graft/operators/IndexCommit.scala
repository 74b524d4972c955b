package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** The batch-ledger commit protocol of every ledgered index family —
  * text postings ([[TextIndex]]), the four IVF vector layouts
  * ([[Similarity]]), LSH bands and window digests ([[Dedup]]), and the
  * stable vocabulary ([[Vocab]]); DEVIATIONS.md §11/§13. Implemented
  * once, here:
  *
  *  - a batch's payload lives in `batch=<id>` partition directories and
  *    its ledger row is the COMMIT POINT, written last;
  *  - a committed id is exactly-once ([[AlreadyCommittedException]]),
  *    and a retry of an uncommitted id first deletes its orphan dirs
  *    (replace-by-batch);
  *  - a delete writes its ids to a `batch=<id>` tombstone sidecar and
  *    commits with a `del:<id>` ledger row;
  *  - compaction folds committed batches minus tombstoned ids into one
  *    `batch=build` layout and drops the sidecar (the garbage
  *    collector: orphans of torn appends vanish).
  *
  * The families keep only what is theirs: payload and ledger-row
  * content, extra sidecars, and every search path. The ledger is never
  * rewritten: its rows keep the exactly-once guard after a compaction.
  */
private[graft] object IndexCommit {

  /** Thrown when a batch id already has a ledger row. Subtype of
    * IllegalArgumentException so contract-level callers/specs that
    * treat it as a plain argument error keep working; replay handlers
    * catch THIS type.
    */
  final class AlreadyCommittedException(msg: String)
    extends IllegalArgumentException(msg)

  /** Where one ledgered index lives.
    *
    * @param kind     names the family in error messages
    * @param root     the payload, partitioned `<dirs>/batch=<id>`
    * @param schema   DDL of one ledger row; its first column is `batch`
    * @param dirs     every (root, glob prefix) holding a batch's
    *                 payload dirs — a retry drops `prefix + "batch=<id>"`
    * @param ledger   the ledger parquet
    * @param tombstones the tombstone sidecar
    * @param tombCol  the sidecar's id column
    * @param frozen   integer ledger columns every row must agree on
    *                 (geometry a probe or append must reuse)
    * @param implicitBuild "build" is committed by the build's own
    *                 overwrite and the ledger may be absent (IVF: the
    *                 ledger is drift diagnostics the build may skip)
    * @param rebuildWith when a missing ledger means a legacy layout:
    *                 the write face that rebuilds it
    */
  final case class Index(kind: String, root: String, schema: String,
      dirs: Seq[(String, String)])(
      val ledger: String = s"${root}__meta",
      val tombstones: String = s"${root}__tombstones",
      val tombCol: String = "__id",
      val frozen: Seq[String] = Nil,
      val implicitBuild: Boolean = false,
      val rebuildWith: Option[String] = None)

  /** The ledger as read under the writer lock (or by a reader). */
  final class Ledger(val rows: Array[Row], val committed: Set[String],
      geometry: Map[String, Int]) {
    /** A [[Index.frozen]] column's one value. */
    def apply(column: String): Int = geometry(column)
    def sum(column: String): Long = rows.map(_.getAs[Long](column)).sum
  }

  /** The ledger, read with the declared [[Index.schema]]: no
    * schema-inference job. A declared-schema read would fill a column
    * that the files lack with nulls, so one file's footer is checked
    * first ([[graft.sources.Storage.checkFooter]]), and a ledger that
    * lacks a declared column or types it differently fails loudly. Every
    * ledger file is written by [[writeRow]] with the declared schema.
    */
  def readLedger(spark: SparkSession, ix: Index): Ledger = {
    val rows =
      if (ix.implicitBuild && !fs(spark, ix.ledger).exists(new Path(ix.ledger)))
        Array.empty[Row]
      else
        try {
          val declared = StructType.fromDDL(ix.schema)
          val ledger = spark.read.schema(declared).parquet(ix.ledger)
          graft.sources.Storage.checkFooter(ledger, declared)
            .foreach(c => throw new IllegalStateException(s"${ix.kind} ledger " +
              s"${ix.ledger} lacks column $c, which the ledger schema declares."))
          ledger.collect()
        } catch { case e: org.apache.spark.sql.AnalysisException
            if ix.rebuildWith.isDefined =>
          // A legacy layout without a ledger cannot be probed or
          // appended: its geometry is not recoverable from bare payload
          // rows, and guessing it would silently produce garbage.
          throw new IllegalStateException(
            s"${ix.kind} at ${ix.root} has no ledger at ${ix.ledger} — it " +
              s"predates the ledgered layout or is not a ${ix.kind}. Rebuild " +
              s"it with ${ix.rebuildWith.get}; geometry cannot be inferred.", e)
        }
    require(ix.implicitBuild || rows.nonEmpty,
      s"empty ${ix.kind} ledger at ${ix.ledger}")
    val geometry = ix.frozen.map { c =>
      val vs = rows.map(_.getAs[Int](c)).distinct
      require(vs.length == 1,
        s"corrupt ${ix.kind} meta: inconsistent $c ${vs.mkString("/")}")
      c -> vs.head
    }.toMap
    val batches = rows.map(_.getAs[String]("batch")).toSet
    new Ledger(rows, if (ix.implicitBuild) batches + "build" else batches,
      geometry)
  }

  /** One ledger row: `batch` then `values` in [[Index.schema]] order
    * and types (build them as a `Seq[Any]`: a plain `Seq` widens an Int
    * among Longs). `overwrite` only for a build, which resets the ledger.
    */
  def writeRow(spark: SparkSession, ix: Index, batch: String,
      values: Seq[Any], overwrite: Boolean): Unit =
    spark.createDataFrame(java.util.List.of(Row.fromSeq(batch +: values)),
        StructType.fromDDL(ix.schema))
      .coalesce(1)
      .write.mode(if (overwrite) "overwrite" else "append")
      .parquet(ix.ledger)

  /** A build starts a fresh index: the old ledger and tombstones must
    * not block re-used batch ids or shadow re-used ids.
    */
  def reset(spark: SparkSession, ix: Index): Unit =
    Seq(ix.ledger, ix.tombstones).foreach(drop(spark, _))

  /** Build: [[reset]], the payload overwrite `write`, then the `build`
    * ledger row it returns.
    */
  def build(spark: SparkSession, ix: Index)(write: => Seq[Any]): Unit = {
    reset(spark, ix)
    writeRow(spark, ix, "build", write, overwrite = true)
  }

  /** Rows of `root` whose `batch` is committed. `batch` is a partition
    * directory, so the filter is partition pruning: orphan dirs are
    * never listed into the scan.
    */
  def committedRows(spark: SparkSession, root: String,
      committed: Set[String]): DataFrame =
    spark.read.parquet(root)
      .filter(col("batch").cast("string").isin(committed.toSeq: _*))

  /** Append one batch: writer lock → sane id → not-committed check →
    * orphan-dir drop → `write` (payload, given the ledger read under
    * the lock) → the ledger row `write` returns, LAST.
    */
  def append(spark: SparkSession, ix: Index, batch: String)(
      write: Ledger => Seq[Any]): Unit =
    commit[Unit](spark, ix, batch, batch, ix.dirs, None)(
      l => (write(l), () => ()))

  /** [[append]] with a replacement unit: `write` also returns what
    * runs after the commit (retiring the replaced dirs), and an id that
    * is already committed runs `replay` instead of failing — the
    * idempotent recovery of a crash between commit and retirement.
    */
  def replace[T](spark: SparkSession, ix: Index, batch: String)(
      replay: Ledger => T)(write: Ledger => (Seq[Any], () => T)): T =
    commit(spark, ix, batch, batch, ix.dirs, Some(replay))(write)

  /** Tombstone-delete under the [[append]] order: `tombs` returns the
    * ids to retire (one column, [[Index.tombCol]]) and the `del:<id>`
    * ledger row; the ids land in the sidecar's `batch=<id>` dir first.
    */
  def delete(spark: SparkSession, ix: Index, batch: String)(
      tombs: Ledger => (DataFrame, Seq[Any])): Unit =
    commit[Unit](spark, ix, batch, s"del:$batch", Seq(ix.tombstones -> ""),
        None) { l =>
      val (ids, row) = tombs(l)
      ids.withColumn("batch", lit(batch)).coalesce(1)
        .write.mode("append").partitionBy("batch").parquet(ix.tombstones)
      (row, () => ())
    }

  private def commit[T](spark: SparkSession, ix: Index, batch: String,
      ledgerId: String, dirs: Seq[(String, String)],
      replay: Option[Ledger => T])(
      write: Ledger => (Seq[Any], () => T)): T =
    Upsert.withWriterLock(spark, ix.root) {
      requireSaneBatchId(batch)
      val l = readLedger(spark, ix)
      val done = l.committed.contains(ledgerId)
      replay match {
        case Some(r) if done => r(l)
        case _ =>
          if (done)
            throw new AlreadyCommittedException(
              s"batch '$ledgerId' is already committed in the ledger at " +
                s"${ix.ledger} — appends are exactly-once per batch id; " +
                "pick a new id")
          dirs.foreach { case (root, prefix) =>
            dropOrphanDirs(spark, root, s"${prefix}batch=$batch") }
          val (row, after) = write(l)
          writeRow(spark, ix, ledgerId, row, overwrite = false) // COMMIT POINT
          after()
      }
    }

  /** Ids of COMMITTED delete batches, or None when nothing is
    * tombstoned on disk. The ledger keeps `del:` rows forever, but a
    * compact drops the sidecar and a delete of only-absent ids writes no
    * files, so the gate is what is on disk. That probe is one
    * filesystem call and runs first: `committed` (a ledger read for a
    * caller that has not read it) is evaluated only when tombstone dirs
    * exist, so an index without them costs a search no Spark job.
    */
  def tombstones(spark: SparkSession, ix: Index,
      committed: => Set[String]): Option[DataFrame] = {
    val p = new Path(ix.tombstones)
    val f = fs(spark, ix.tombstones)
    val hasDirs = f.exists(p) && {
      val g = f.globStatus(new Path(p, "batch=*"))
      g != null && g.nonEmpty
    }
    if (!hasDirs) return None
    val dels = committed.collect {
      case b if b.startsWith("del:") => b.stripPrefix("del:")
    }
    if (dels.isEmpty) None
    else Some(committedRows(spark, ix.tombstones, dels)
      .select(col(ix.tombCol)))
  }

  /** `d` minus rows whose `idCol` is tombstoned. */
  def minusTombstones(d: DataFrame, idCol: String,
      tomb: Option[DataFrame]): DataFrame =
    tomb.fold(d)(t => d.join(t, d(idCol) === t(t.columns.head), "left_anti"))

  /** Compaction under the writer lock: the committed batches of each
    * (root, partition column) — the index's own root, then `sidecars`
    * that exist — minus tombstoned ids (matched on `idCol`, default the
    * first payload column), reshaped by `shape`, fold into one
    * `batch=build` layout through [[graft.sources.Storage.rewriteInPlace]]'s
    * swap; then the tombstone sidecar is dropped (a crash before that
    * leaves stale tombstones of absent ids — harmless, and the next
    * compact clears them). The ledger is untouched: folded ids keep
    * their rows, so retrying one is still rejected. `mergeSchema` reads
    * payloads whose files differ in columns (IVF float `metaCols`).
    */
  def compact(spark: SparkSession, ix: Index, part: String,
      idCol: Option[String] = None, mergeSchema: Boolean = false,
      sidecars: Seq[(String, String)] = Nil,
      shape: DataFrame => DataFrame = identity): Unit =
    Upsert.withWriterLock(spark, ix.root) {
      val committed = readLedger(spark, ix).committed
      val tomb = tombstones(spark, ix, committed)
        .map(_.localCheckpoint(true)) // read by every fold inside the swaps
      ((ix.root -> part) +: sidecars.filter(s => fs(spark, s._1)
          .exists(new Path(s._1)))).foreach { case (root, p) =>
        graft.sources.Storage.rewriteInPlace(spark, root) { tmp =>
          val all = spark.read.option("mergeSchema", mergeSchema).parquet(root)
            .filter(col("batch").cast("string").isin(committed.toSeq: _*))
          shape(minusTombstones(all, idCol.getOrElse(all.columns.head), tomb))
            .withColumn("batch", lit("build"))
            .repartition(col(p))
            .write.mode("overwrite").partitionBy(p, "batch")
            .option("maxRecordsPerFile", 5000000L).parquet(tmp)
        }
      }
      drop(spark, ix.tombstones)
    }

  /** Batch ids are partition DIRECTORY names (replace-by-batch deletes
    * them by glob), so they must be path- and glob-safe; an all-digit
    * id would make partition-type inference read the batch column as
    * a NUMBER and the committed-batch filter's string cast would then
    * defeat partition pruning.
    */
  private def requireSaneBatchId(batch: String): Unit = {
    require(batch != "build", "batch id 'build' is reserved for the build")
    require(batch.matches("[A-Za-z0-9._-]+"),
      s"batch id must match [A-Za-z0-9._-]+ (it names a partition " +
        s"directory), got '$batch'")
    require(batch.exists(!_.isDigit),
      s"batch id must contain a non-digit (got '$batch'): all-digit ids " +
        "flip the partition column to a numeric type on read")
  }

  /** Replace-by-batch: delete the orphan partition dirs a previous
    * attempt at this id left behind (`glob` like "shard=*&#47;batch=b1").
    */
  private def dropOrphanDirs(spark: SparkSession, root: String,
      glob: String): Unit = {
    val f = fs(spark, root)
    f.globStatus(new Path(root, glob)) match {
      case null => ()
      case orphans => orphans.foreach(o => f.delete(o.getPath, true))
    }
  }

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def drop(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    if (f.exists(new Path(path))) f.delete(new Path(path), true)
  }
}
