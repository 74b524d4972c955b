package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructField

/** Generic conditional upsert (Delta-less MERGE) — the Spark-first
  * re-expression of the reference's three MERGE statements
  * (reference runner.py:148-210 `merge_customer_window`,
  * runner.py:418-491 `merge_staff_from_staging`,
  * runner.py:589-874 `run_fact_staff_daily_pk_refresh`).
  *
  * Semantics, per the reference:
  *   1. optional partition-range prune of the target (the redundant
  *      MERGE-ON range predicates at runner.py:174-176, 699-701, 852-854);
  *      pruned-out target rows pass through untouched,
  *   2. optional latest-record-wins dedup of the source (the QUALIFY
  *      ROW_NUMBER()=1 sub-select at runner.py:169-172, 477-480),
  *   3. WHEN MATCHED AND <cond> THEN UPDATE (hash-guarded update,
  *      runner.py:177-181) — with optional partial-column update
  *      expressions (MERGE B preserves Team/MaNV via IFNULL(T.x,S.x),
  *      runner.py:858-859),
  *   4. WHEN NOT MATCHED THEN INSERT.
  *
  * Scale design (100 TB): the target read must be partition-pruned
  * *before* the join (a MERGE over a 7-day window must never scan the
  * whole fact table); the join is a shuffle hash/sort-merge on the merge
  * keys, so both sides arrive co-partitioned by key and AQE handles skew;
  * when the deduped source is small (an incremental batch usually is) a
  * broadcast of the source side makes the merge a single pass over the
  * pruned target. The physical write replaces only the pruned
  * partitions (see [[rewritePartitions]]).
  *
  * Update/insert conditions are SQL expression strings over the aliases
  * `t` (target) and `s` (source), mirroring MERGE syntax.
  */
object Upsert {

  /** Thrown when a physical merge finds another writer's lock on the
    * target — the reference's strictly-serial orchestration (SURVEY
    * §7.4.3) violated. NOT retried internally: two interleaving merges
    * into one parquet root would corrupt partitions silently, so the
    * contract is enforced loudly and the caller decides.
    */
  final class ConcurrentWriterException(msg: String)
    extends IllegalStateException(msg)

  /** Create-exclusive writer lock on a table root, with LEASE-WAIT
    * serialization. `fs.create(p, false)` is atomic on HDFS; on the
    * LOCAL filesystem Hadoop implements overwrite=false as
    * check-then-create — NOT atomic (two racers can both "win"; the
    * UpsertSpec 6-thread lease race reproduces it), so local paths
    * acquire via NIO `CREATE_NEW` (kernel O_EXCL) instead — see
    * `createExclusive` below.
    *
    * Concurrency contract (the consumers are [[rewritePartitions]],
    * which a double-scheduled batch slot can enter twice, and the index
    * commits and compactions of [[IndexCommit]]):
    *  - a second writer WAITS (polling) up to `waitMs` for the holder
    *    to release, then proceeds — two interleaved appends serialize
    *    instead of one dying;
    *  - every lock carries a lease expiry (`lease_expires_at`, now +
    *    `leaseMs`). A waiter that finds an EXPIRED lease breaks the
    *    lock and takes over: the holder is presumed dead (hard JVM
    *    kill), and every protected operation is idempotent and
    *    crash-repairable, so takeover after a crash is safe. Size
    *    `leaseMs` (default 15 min, `-Dgraft.lockLeaseMs`) above the
    *    longest expected write — a LIVE writer that outruns its lease
    *    can be overtaken, the standard lease tradeoff;
    *  - a lease-less lock (operator-made, or pre-lease writers) is
    *    never broken — waited on, then failed LOUDLY with the holder
    *    identity, as before;
    *  - `waitMs` exhausted (default 60 s, `-Dgraft.lockWaitMs`) →
    *    [[ConcurrentWriterException]]: the caller decides, nothing was
    *    mutated.
    *
    * The lock is released on BOTH success and failure: the merge is
    * idempotent and crash-repairable (see recovery block in
    * [[rewritePartitions]]), so only LIVE concurrency needs
    * excluding.
    */
  private[graft] def withWriterLock[T](
      spark: org.apache.spark.sql.SparkSession, path: String)(body: => T): T =
    withWriterLock(spark, path,
      waitMs = sys.props.get("graft.lockWaitMs").map(_.toLong)
        .getOrElse(60000L),
      leaseMs = defaultLeaseMs)(body)

  private def defaultLeaseMs: Long =
    sys.props.get("graft.lockLeaseMs").map(_.toLong).getOrElse(15L * 60 * 1000)

  private def isLocal(fs: org.apache.hadoop.fs.FileSystem): Boolean =
    fs.getUri.getScheme == null || fs.getUri.getScheme == "file"

  /** A lock or claim file's content, trimmed. */
  private def readLockFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String =
    try {
      val in = fs.open(p)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
    } catch { case _: Throwable => "<unreadable>" }

  /** Lock-file content, single-sourced: `leaseRe` in [[withWriterLock]]
    * parses it and [[renewWriterLease]] matches ownership on its
    * prefix — two hand-built copies of the format would drift.
    */
  private def lockOwnerTag(
      spark: org.apache.spark.sql.SparkSession): String =
    s"pid=${ProcessHandle.current().pid()} " +
      s"app=${spark.sparkContext.applicationId}"

  private def lockContent(spark: org.apache.spark.sql.SparkSession,
      leaseMs: Long): String =
    s"${lockOwnerTag(spark)} " +
      s"at=${java.time.Instant.now()} " +
      s"lease_expires_at=${System.currentTimeMillis() + leaseMs}"

  private[graft] def withWriterLock[T](
      spark: org.apache.spark.sql.SparkSession, path: String,
      waitMs: Long, leaseMs: Long)(body: => T): T = {
    val hLock = new org.apache.hadoop.fs.Path(path + ".merge-lock")
    val hClaim = new org.apache.hadoop.fs.Path(path + ".merge-lock.claim")
    val fs = hLock.getFileSystem(spark.sessionState.newHadoopConf())
    Option(hLock.getParent).foreach(fs.mkdirs)
    val leaseRe = """lease_expires_at=(\d+)""".r
    val deadline = System.currentTimeMillis() + waitMs
    val pollMs = math.max(50L, math.min(1000L, waitMs / 10))

    // ATOMIC create-exclusive-with-content. On HDFS `fs.create(p, false)`
    // is atomic, but Hadoop's LOCAL filesystem implements overwrite=false
    // as check-then-create — two racing creators can BOTH pass the exists
    // check and both believe they won (the UpsertSpec lease-race spec
    // reproduces it). Local paths therefore go through NIO CREATE_NEW
    // (O_CREAT|O_EXCL — kernel-atomic); the Hadoop branch keeps serving
    // genuinely-atomic DFS creates. Content is written at create time, so
    // a lock never exists in an empty half-created state.
    def createExclusive(p: org.apache.hadoop.fs.Path, content: String): Boolean =
      if (isLocal(fs)) {
        try {
          java.nio.file.Files.write(
            java.nio.file.Paths.get(p.toUri.getPath),
            content.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else {
        try {
          val out = fs.create(p, false)
          try {
            out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            out.close()
            true
          } catch { case e: Throwable =>
            // A half-written file must not masquerade as a held lock.
            try fs.delete(p, false) catch { case _: Throwable => () }
            throw e
          }
        } catch { case e: java.io.IOException =>
          val held = try fs.exists(p) catch { case _: Throwable => false }
          if (held) false else throw e
        }
      }

    def holderInfo(): String = readLockFile(fs, hLock)

    // Break an expired lease SAFELY. A blind fs.delete(hLock) here has a
    // TOCTOU hole: between this waiter reading the expired content and
    // deleting, another waiter can break the same lock and re-create it
    // with a FRESH lease — the stale delete then removes a LIVE writer's
    // lock and a third writer acquires concurrently. The break therefore
    // goes through a create-exclusive CLAIM file: exactly one waiter
    // holds the claim, and ONLY claim holders ever delete a lock they
    // did not create. Under the claim the breaker re-reads the lock; if
    // the bytes still equal the expired content it observed, the holder
    // is dead (a dead holder cannot rewrite its lock, the normal release
    // path only deletes one's OWN lock, and no other waiter can break
    // without the claim) — deleting is then safe. If the bytes changed,
    // the lock was released and re-acquired by a live writer: no break.
    // The claim carries its own short lease so a waiter that dies inside
    // this (tiny, body-free) window cannot wedge every future breaker;
    // the uuid re-check before the delete guards the claim's own expiry
    // takeover, narrowing the residual race from the seconds-scale poll
    // window to a double-fault (holder dead AND claimer stalled past its
    // claim lease at the exact re-check instant) measured in microseconds.
    val claimLeaseMs = 60000L
    def breakExpired(sawContent: String): Unit = {
      val uuid = java.util.UUID.randomUUID().toString
      val claimed = createExclusive(hClaim,
        s"claim=$uuid lease_expires_at=" +
          s"${System.currentTimeMillis() + claimLeaseMs}")
      if (claimed) {
        try {
          if (holderInfo() == sawContent &&
              readLockFile(fs, hClaim).contains(s"claim=$uuid")) {
            try fs.delete(hLock, false) catch { case _: Throwable => () }
          }
        } finally {
          try fs.delete(hClaim, false) catch { case _: Throwable => () }
        }
      } else {
        // Another waiter holds the claim. If ITS lease expired (it died
        // between claim-create and claim-delete), clear it; else yield.
        val cInfo = readLockFile(fs, hClaim)
        val cExpired = leaseRe.findFirstMatchIn(cInfo)
          .exists(_.group(1).toLong < System.currentTimeMillis())
        if (cExpired) { try fs.delete(hClaim, false) catch { case _: Throwable => () } }
        else Thread.sleep(math.min(pollMs, 100L))
      }
    }

    var acquired = false
    while (!acquired) {
      if (createExclusive(hLock, lockContent(spark, leaseMs))) acquired = true
      else {
        val holder = holderInfo()
        val expired = leaseRe.findFirstMatchIn(holder)
          .exists(_.group(1).toLong < System.currentTimeMillis())
        if (expired && System.currentTimeMillis() < deadline) {
          // Presumed-dead holder: break the lock (claim-guarded, see
          // breakExpired) and re-race for the create. Create-exclusive
          // still admits exactly one winner. The deadline applies HERE
          // TOO: a wedged break (e.g. an orphaned lease-less claim
          // file) must fail loudly within waitMs, never hang writers
          // forever.
          breakExpired(holder)
        } else if (System.currentTimeMillis() < deadline) {
          Thread.sleep(pollMs)
        } else {
          throw new ConcurrentWriterException(
            s"merge target $path is locked by another writer [$holder] " +
              s"(lock file $hLock) and did not release within ${waitMs}ms. " +
              "Concurrent merges into one target are undefined — this " +
              "engine serializes writers via the lock's lease. If the " +
              "holder crashed, its lease expires and the next writer " +
              "takes over; a lease-less (operator-made) lock must be " +
              "deleted manually: the merge is idempotent and " +
              "crash-recovered.")
        }
      }
    }
    try body
    finally fs.delete(hLock, false)
  }

  /** Heartbeat for long-running lock bodies: rewrite `path`'s writer
    * lock with a FRESH lease, extending the current holder's tenure by
    * `leaseMs` (default: the same `-Dgraft.lockLeaseMs` the acquire
    * used). A protected operation whose runtime scales with data — a
    * 100 TB cluster split, a full compact — can outrun a fixed lease,
    * and an expired lease invites takeover while the holder is still
    * writing (the documented lease tradeoff); calling this at stage
    * boundaries bounds the staleness to ONE stage instead of the whole
    * body. Must only be called INSIDE a [[withWriterLock]] body for the
    * same path, and BEFORE the current lease expires — renewing an
    * already-expired lease races any waiter that has begun a
    * claim-guarded break, which is exactly the window renewal exists to
    * avoid. If no stage boundary comes often enough, size
    * `-Dgraft.lockLeaseMs` to the longest single stage instead.
    * Renewal verifies OWNERSHIP first (pid+app prefix of the on-disk
    * content): a writer whose lease already lapsed and was taken over
    * fails loudly instead of clobbering the new holder's lock. Two
    * threads of ONE JVM share that tag and are not distinguished —
    * in-process callers already serialize on the lock itself.
    */
  private[graft] def renewWriterLease(
      spark: org.apache.spark.sql.SparkSession, path: String,
      leaseMs: Long = defaultLeaseMs): Unit = {
    val hLock = new org.apache.hadoop.fs.Path(path + ".merge-lock")
    val fs = hLock.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(hLock),
      s"renewWriterLease($path): no lock held — call inside withWriterLock")
    // Ownership check before the rewrite: if THIS writer's lease already
    // lapsed and a waiter took over, the lock on disk belongs to the
    // NEW holder — overwriting it would re-admit the overtaken writer
    // and run two writers concurrently (exactly what the lock exists to
    // prevent). Fail loudly instead: the overtaken body must abort.
    val current = readLockFile(fs, hLock)
    if (!current.startsWith(lockOwnerTag(spark)))
      throw new ConcurrentWriterException(
        s"renewWriterLease($path): the lock is now held by [$current], " +
          s"not this writer [${lockOwnerTag(spark)}] — this writer's " +
          "lease expired and was taken over mid-body. Abort: continuing " +
          "would run two writers into one target.")
    val content = lockContent(spark, leaseMs)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (isLocal(fs))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(hLock.toUri.getPath), content,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING,
        java.nio.file.StandardOpenOption.WRITE)
    else {
      val out = fs.create(hLock, true)
      try out.write(content) finally out.close()
    }
    ()
  }

  /** Pure relational merge: returns the post-MERGE state of `target`.
    *
    * @param target       current target table
    * @param source       staged rows (may contain key duplicates)
    * @param keys         merge key columns (must exist on both sides)
    * @param sourceOrder  if non-empty, source is deduped latest-wins per
    *                     key under this ordering (first row wins)
    * @param updateCond   SQL over `s`/`t`: extra WHEN MATCHED condition;
    *                     default always update
    * @param updateExprs  partial-column update map col -> SQL over `s`/`t`
    *                     (unlisted non-key columns keep the target value);
    *                     empty map = full-row update from source
    * @param targetPrune  partition-range predicate over target columns;
    *                     rows outside it bypass the merge untouched
    */
  def upsert(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      sourceOrder: Seq[Column] = Nil,
      updateCond: Option[String] = None,
      updateExprs: Map[String, String] = Map.empty,
      targetPrune: Option[Column] = None): DataFrame = {
    require(keys.nonEmpty, "upsert requires at least one key column")
    val outCols = target.columns.toIndexedSeq

    val (inScope, outOfScope) = targetPrune match {
      case Some(p) => (target.filter(p), Some(target.filter(!p || p.isNull)))
      case None    => (target, None)
    }

    val deduped =
      if (sourceOrder.isEmpty) source
      else graft.functions.ColumnLib.latestWins(source, keys, sourceOrder)

    // Presence markers distinguish "row absent from this side" from "row
    // present with a null key" — a null-key target row must survive
    // untouched and a null-key source row must INSERT (SQL MERGE ON
    // equality never matches nulls), neither may be conflated with the
    // other side's absence.
    val t = inScope.withColumn("__t_present", lit(1)).alias("t")
    val s = deduped.withColumn("__s_present", lit(1)).alias("s")
    val joinCond = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    val joined = t.join(s, joinCond, "full_outer")

    val matched = col("t.__t_present").isNotNull && col("s.__s_present").isNotNull
    val sourceOnly = col("t.__t_present").isNull
    val doUpdate = matched && updateCond.map(expr).getOrElse(lit(true))

    // Target-only columns (schema evolution can leave the target wider
    // than the source, reference runner.py:445 works over common
    // columns only): kept on update, null on insert.
    val sCols = deduped.columns.toSet
    def fromSource(c: String): Column =
      if (sCols.contains(c)) col(s"s.$c") else lit(null)

    def updated(c: String): Column =
      if (keys.contains(c)) col(s"t.$c")
      else updateExprs.get(c) match {
        case Some(e)                     => expr(e)
        case None if updateExprs.isEmpty =>
          if (sCols.contains(c)) col(s"s.$c") else col(s"t.$c")
        case None                        => col(s"t.$c") // partial update: keep
      }

    val merged = joined.select(outCols.map { c =>
      when(sourceOnly, fromSource(c))           // WHEN NOT MATCHED: INSERT
        .when(doUpdate, updated(c))             // WHEN MATCHED AND cond
        .otherwise(col(s"t.$c"))                // keep target row
        .as(c)
    }: _*)

    outOfScope match {
      case Some(rest) => merged.unionByName(rest.select(outCols.map(col): _*))
      case None       => merged
    }
  }

  /** SCD Type-2 history from a change log — the warehouse pattern for
    * "what was this attribute at time t": one validity-interval row
    * per VALUE RUN of each key. Consecutive equal values collapse
    * (null-safely: a null value is a run like any other), `valid_from`
    * is the run's first change time, `valid_to` the NEXT run's start
    * (open interval — null on the current run), `is_current` flags the
    * open row. Total order within a key is (timeCol, tieCol) — the
    * unique-tiebreaker discipline every windowed dedup here follows.
    *
    * Shape: one key-keyed window pass (lag for run starts, lead for
    * interval ends) — a single shuffle on the key, no self-join, no
    * collect. Point-in-time lookups then join with
    * `valid_from <= t AND (valid_to IS NULL OR t < valid_to)`;
    * interval-bucket that probe with [[IntervalJoin]] at scale.
    */
  def scd2FromChangeLog(changes: DataFrame, keyCols: Seq[String],
      valueCol: String, timeCol: String, tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(timeCol).asc, col(tieCol).asc)
    val runs = changes
      // A change with no time has no position on the timeline — the
      // AsofJoin convention: drop it rather than let Spark's
      // NULLS FIRST order it as the oldest run (and diverge from any
      // NULLS LAST engine).
      .filter(col(timeCol).isNotNull)
      .withColumn("__prev", lag(col(valueCol), 1).over(w))
      .withColumn("__first", row_number().over(w) === 1)
      // A run starts at the first row or on a (null-safe) value change.
      .filter(col("__first") || !(col(valueCol) <=> col("__prev")))
    // Same window spec closes the intervals: the lead() over the runs
    // frame returns the NEXT run's start.
    runs.select((keyCols.map(col) :+ col(valueCol) :+
        col(timeCol).as("valid_from") :+
        lead(col(timeCol), 1).over(w).as("valid_to")): _*)
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Apply a CDC batch (insert/update/delete ops) to a target — the
    * merge shape [[upsert]] lacks a path for: DELETE. Change rows
    * carry an op column ('I'/'U'/'D', case-insensitive) and an
    * ordering column; per key the LATEST change wins (orderCol desc,
    * op desc as the deterministic tiebreak — alphabetically
    * 'U' beats 'I' beats 'D' at identical versions; pass a unique
    * orderCol to make the tiebreak irrelevant). A winning D removes
    * the key; a winning I/U replaces the full row with the change's
    * payload (the non-op, non-order columns, which must match the
    * target schema). Any op outside I/U/D — including NULL — fails
    * the job loudly at execution: a malformed op must never silently
    * delete (NULL fails the =!= filter) or upsert garbage.
    *
    * Shape: one latest-wins cut over the batch (batch-sized window),
    * one anti-join of the target against ALL touched keys, one union
    * of the survivors with the winning upserts — the target is
    * scanned once and only its touched keys move.
    */
  def applyCdc(target: DataFrame, changes: DataFrame, keys: Seq[String],
      opCol: String, orderCol: String): DataFrame = {
    val opNorm = when(upper(col(opCol)).isin("I", "U", "D"),
      upper(col(opCol)))
      .otherwise(raise_error(concat(
        lit("applyCdc: invalid op '"),
        coalesce(col(opCol).cast("string"), lit("NULL")),
        lit("' — only I/U/D are defined"))))
    val latest = graft.functions.ColumnLib.latestWins(
      changes.withColumn("__op", opNorm), keys,
      Seq(col(orderCol).desc, col("__op").desc))
    val payloadCols = target.columns.toSeq
    require(payloadCols.forall(latest.columns.contains),
      s"CDC payload must carry every target column; missing " +
        s"${payloadCols.filterNot(latest.columns.contains).mkString(", ")}")
    val upserts = latest.filter(col("__op") =!= "D")
      .select(payloadCols.map(col): _*)
    target.join(latest.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(upserts)
  }

  /** Schema-adaptive merge, mirroring the reference's dynamic SQL
    * generation (runner.py:418-491): work over the columns common to both
    * sides; build the update guard from whichever of {row_hash,
    * updateTime} exist (runner.py:450-455: update when the hash differs
    * or the source is newer); order the source dedup by updateTime
    * descending when present, else by name (runner.py:470).
    */
  def upsertAuto(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    val common = target.columns.toSet & source.columns.toSet
    val src = source.select(target.columns.filter(common).map(col).toIndexedSeq: _*)
    val hasHash = common.contains("row_hash")
    val hasTime = common.contains("updateTime")
    // Guards joined with AND, exactly as the reference's dynamic MERGE
    // builder (runner.py:450-455): update only when the payload changed
    // AND the source is not older — a stale re-served row whose payload
    // differs must NOT overwrite a newer target.
    val hashClause = "(t.row_hash IS NULL OR t.row_hash != s.row_hash)"
    val timeClause = "(try_cast(s.updateTime AS long) >= " +
      "try_cast(t.updateTime AS long) OR t.updateTime IS NULL)"
    val cond = (hasHash, hasTime) match {
      case (true, true)  => Some(s"$hashClause AND $timeClause")
      case (true, false) => Some(hashClause)
      case (false, true) => Some(timeClause)
      case _             => None
    }
    val order =
      if (hasTime) Seq(expr("try_cast(updateTime as long)").desc_nulls_last)
      else Seq(col(keys.head).asc)
    upsert(target, src, keys, sourceOrder = order, updateCond = cond)
  }

  /** Physical MERGE into a date-partitioned parquet table: read-prune the
    * affected partition range, merge, and rewrite ONLY those partitions —
    * never the whole table. This is the 100 TB-safe equivalent of the
    * reference's partition-scoped MERGE (runner.py:174-176), and the
    * one-source call of [[rewritePartitions]], pruned to the source's
    * own partition range.
    */
  def applyToPartitionedParquet(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      source: DataFrame,
      keys: Seq[String],
      partitionCol: String,
      sourceOrder: Seq[Column] = Nil,
      updateCond: Option[String] = None,
      updateExprs: Map[String, String] = Map.empty): Unit =
    rewritePartitions(spark, path, Seq(source), partitionCol) { srcs =>
      // The source is materialized once, with the min and max of its
      // partition column observed on that same job, so the range and the
      // merge see the same rows. Without partition values it has no range
      // and nothing to merge.
      val range = Observation()
      val src = srcs.head.observe(range, min(col(partitionCol)).as("lo"),
        max(col(partitionCol)).as("hi")).localCheckpoint(eager = true)
      Option(range.get("lo")).map(Scope(Seq(src), _, range.get("hi")))
    } { (target, srcs) => upsert(target, srcs.head, keys, sourceOrder, updateCond, updateExprs) }

  /** The sources of a rewrite, and the inclusive range of partition
    * values, in the partition column's type, that their merge can change.
    */
  final case class Scope(sources: Seq[DataFrame], lo: Any, hi: Any)

  /** One physical rewrite of a partitioned parquet table by an in-memory
    * `merge` of one or more sources: writer lock → recovery → the
    * caller's prune → target read pruned to it → `merge(target, sources)`
    * → one temp write → one per-partition displace/install swap. The
    * swap creates the table root first, so each install is a rename into
    * an existing directory, as HDFS requires.
    *
    * The caller supplies the prune. `prune` runs inside the lock, after
    * recovery, and only for an existing table: it returns the sources to
    * merge and the range of partitions their merge can change, or None
    * when there is nothing to merge. [[applyToPartitionedParquet]]
    * observes its source's range; the fact refresh states its window
    * (DEVIATIONS.md 14), so its sources are read once, by the write.
    * Target rows outside the prune are neither read nor rewritten (the
    * reference's MERGE-ON range predicate, runner.py:174-176). The target
    * is read in the first source's schema; a missing table reads as an
    * empty frame of that schema and takes the same merge and swap.
    *
    * Every target partition directory within the prune was read, so one
    * that the merge leaves empty is installed as an empty directory: the
    * swap displaces the old copy, and a row that moved out of it is not
    * left behind (DEVIATIONS.md 7). When no source row reaches the write
    * (row counts observed on the write itself), the table is left as it
    * is.
    */
  def rewritePartitions(
      spark: SparkSession,
      path: String,
      sources: Seq[DataFrame],
      partitionCol: String)(
      prune: Seq[DataFrame] => Option[Scope])(
      merge: (DataFrame, Seq[DataFrame]) => DataFrame): Unit =
    // The lock wraps recovery + merge + swap: every one of those phases
    // mutates the target root, so a second writer must be excluded from
    // ALL of them, not just the swap.
    withWriterLock(spark, path) {
    val hPath = new Path(path)
    val hBak = new Path(path + ".merge-bak")
    val tmp = path + ".merge-tmp"
    val hTmp = new Path(tmp)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    // RECOVERY first, before anything reads (or existence-probes) the
    // target: a previous attempt may have died between displacing an old
    // partition into the backup dir and installing its replacement,
    // leaving that partition missing from the live table. Restore any
    // displaced partition whose destination is absent, then clear the
    // staging dirs — the idempotent merge below recomputes the rest.
    // (Without this, a crash mid-swap followed by a retry would delete
    // the backup — the only surviving copy — as stale staging state.)
    if (fs.exists(hBak)) {
      fs.listStatus(hBak).foreach { st =>
        val dest = new Path(hPath, st.getPath.getName)
        // A failed restore must ABORT with the backup intact — deleting
        // hBak below would destroy the only copy of the partition.
        if (!fs.exists(dest) && !fs.rename(st.getPath, dest))
          throw new java.io.IOException(
            s"merge recovery: cannot restore displaced partition to $dest")
      }
      fs.delete(hBak, true)
    }
    val exists = graft.sources.Storage.exists(spark, path)
    (if (exists) prune(sources) else Some(Scope(sources, null, null))).foreach { scope =>
      val schema = scope.sources.head.schema
      val target =
        if (!exists) spark.createDataFrame(java.util.List.of[Row](), schema)
        else graft.sources.Storage.read(spark, path, schema)
          .filter(col(partitionCol).between(lit(scope.lo), lit(scope.hi)))
      val read = if (exists) partitionsWithin(spark, fs, hPath, schema(partitionCol), scope) else Nil
      val rows = scope.sources.map(_ => Observation())
      val merged = merge(target, scope.sources.zip(rows).map { case (s, o) =>
        s.observe(o, count(lit(1)).as("rows")) })
      // Write-to-temp + per-partition swap (same staging pattern as
      // [[graft.sources.Storage.rewriteInPlace]]): the merge streams from the
      // ORIGINAL files into a sibling temp dir, then each affected
      // partition is swapped in by DISPLACING the old directory into the
      // backup dir and renaming the new one into place — never
      // delete-then-rename, so at every instant each partition has a live
      // copy in exactly one of {table, backup}. Unlike a localCheckpoint
      // + in-place overwrite, this (a) never pins the merged partitions
      // in executor memory/disk, and (b) is failure-safe: a crash during
      // the write leaves the table untouched, a crash mid-swap is healed
      // by the recovery block above, and a crash between installs leaves
      // whole partitions either old or new — all repaired by re-running
      // the (idempotent) merge. Rename results are CHECKED: a false
      // return keeps the old copy in the backup for recovery and aborts.
      // Single-writer assumption as everywhere else.
      //
      // Clear any staging output from a crashed prior attempt BEFORE
      // writing: a stale partition left by an older crashed merge would
      // otherwise survive and be swapped into the live table below.
      fs.delete(hTmp, true)
      merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy(partitionCol).parquet(tmp)
      // A source whose branch the plan dropped as empty reports no count.
      if (rows.exists(_.get.getOrElse("rows", 0L) != 0L)) {
        // A partition read and not written is installed empty. Recovery
        // restores only a displaced partition whose destination is
        // absent, so after a crash each partition is still old or new.
        val emptied = read.filterNot(n => fs.exists(new Path(hTmp, n)))
        emptied.foreach(n => fs.mkdirs(new Path(hTmp, n)))
        // The first write installs into a root that does not exist yet: a
        // rename into a missing parent fails on HDFS.
        fs.mkdirs(hPath)
        fs.mkdirs(hBak)
        fs.listStatus(hTmp).iterator
          .filter(st => st.isDirectory && st.getPath.getName.contains("="))
          .foreach { st =>
            val name = st.getPath.getName
            val dest = new Path(hPath, name)
            if (fs.exists(dest) && !fs.rename(dest, new Path(hBak, name)))
              throw new java.io.IOException(
                s"merge swap: cannot displace existing partition $dest")
            if (!fs.rename(st.getPath, dest))
              throw new java.io.IOException(
                s"merge swap: cannot install partition $dest (old copy preserved in $hBak)")
          }
        fs.delete(hBak, true)
        // Non-recursive: only a directory that is still empty goes.
        emptied.foreach(n => fs.delete(new Path(hPath, n), false))
      }
      fs.delete(hTmp, true)
    }
  }

  /** The partition directories of `table` within `scope`'s range. Each
    * directory's value is cast to the column's type as a read of the
    * table casts it, and compared on the Spark driver: no query, no job.
    */
  private def partitionsWithin(spark: SparkSession, fs: FileSystem, table: Path,
      partitionCol: StructField, scope: Scope): Seq[String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils._
    import org.apache.spark.sql.catalyst.expressions._
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    fs.listStatus(table).toSeq.map(_.getPath.getName).filter { name =>
      val raw = name.stripPrefix(partitionCol.name + "=")
      val v = Cast(Literal(if (raw == DEFAULT_PARTITION_NAME) null else unescapePathName(raw)),
        partitionCol.dataType, tz)
      raw != name && And(GreaterThanOrEqual(v, Literal(scope.lo)),
        LessThanOrEqual(v, Literal(scope.hi))).eval() == true
    }
  }
}
