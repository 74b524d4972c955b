package graft.streaming

import graft.operators.{Dedup, Similarity, Upsert}
import graft.sources.Storage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming face of the incremental-ingestion semantics
  * (SURVEY.md §2.9): the reference's checkpointed batch pulls map onto
  * readStream → watermarked dedup → foreachBatch upsert sink, with
  * Spark's own checkpointing replacing the manual watermark table.
  *
  *  - overlap re-read tolerance (I3, reference runner.py:64) ⇒
  *    `withWatermark` lateness allowance;
  *  - in-batch + cross-batch `_id` dedup (D1/D2) ⇒ `dropDuplicates`
  *    within the watermark;
  *  - hash-guarded MERGE (M1) ⇒ the same [[Upsert]] operator inside
  *    `foreachBatch`;
  *  - daily slots (I7) ⇒ `Trigger.AvailableNow` per scheduler tick, or
  *    a processing-time trigger for a true daemon.
  *
  * Scale notes: state for dropDuplicates is bounded by the watermark
  * horizon; the foreachBatch upsert only rewrites partitions the batch
  * touches (a per-partition swap), so steady-state cost tracks
  * batch size, not table size.
  */
object IncrementalStream {

  /** Watermarked, id-deduplicated event stream: the streaming analog of
    * the overlap + dedup semantics. `eventTimeCol` must be a timestamp.
    */
  def dedupedStream(docs: DataFrame, idCol: String, eventTimeCol: String,
      lateness: String): DataFrame =
    docs.withWatermark(eventTimeCol, lateness)
      .dropDuplicates(idCol, eventTimeCol)

  /** Id-only dedup within the watermark horizon: the semantic the paged
    * feed actually needs — a RE-SERVED document arrives with a newer
    * `updateTime`, so the (id, eventTime) pair differs and
    * [[dedupedStream]] would emit it twice. Here the id alone is the
    * dedup key and the event-time column only bounds state eviction
    * (`dropDuplicatesWithinWatermark`): first occurrence wins within the
    * overlap window, state stays O(ids per horizon).
    */
  def dedupedStreamById(docs: DataFrame, idCol: String, eventTimeCol: String,
      lateness: String): DataFrame =
    docs.withWatermark(eventTimeCol, lateness)
      .dropDuplicatesWithinWatermark(idCol)

  /** Streaming exact CONTENT dedup: first occurrence of each body
    * digest wins within the watermark horizon — the streaming face of
    * [[graft.operators.Dedup.exactGroups]] for a live document feed
    * (the "drop exact re-crawls as they arrive" stage of an ingestion
    * pipeline). Dedup state is keyed on the 16-byte md5 of the body,
    * never the body itself, so the state store holds digests + ids,
    * not corpus text; eviction is bounded by the watermark horizon.
    */
  def dedupedStreamByContent(docs: DataFrame, textCol: String,
      eventTimeCol: String, lateness: String): DataFrame = {
    val digest = graft.functions.ColumnLib.freeColumn(docs, "__digest")
    docs.withColumn(digest, md5(col(textCol)))
      .withWatermark(eventTimeCol, lateness)
      .dropDuplicatesWithinWatermark(digest)
      .drop(digest)
  }

  /** Tumbling daily counts per key — the streaming restatement of the
    * daily GROUP BY (I6 note: the reference has no stream windows; daily
    * granularity comes from the derived civil date, which a `window()`
    * of 1 day over event time reproduces).
    */
  def dailyCounts(docs: DataFrame, eventTimeCol: String, keyCol: String,
      lateness: String): DataFrame =
    docs.withWatermark(eventTimeCol, lateness)
      .groupBy(window(col(eventTimeCol), "1 day"), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("day"), col(keyCol), col("n"))

  /** Event-time session windows — the streaming face of
    * [[graft.operators.Sessionize]]: sessions close `gap` after their
    * last event; state is bounded by the watermark.
    */
  def sessionCounts(docs: DataFrame, eventTimeCol: String, keyCol: String,
      gap: String, lateness: String): DataFrame =
    docs.withWatermark(eventTimeCol, lateness)
      .groupBy(session_window(col(eventTimeCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col(keyCol), col("n"))

  /** foreachBatch sink that MERGEs each micro-batch into a partitioned
    * parquet table via the shared upsert operator (exactly-once per the
    * sink's idempotent rewrite + Spark's batch-id checkpointing).
    */
  def upsertSink(writer: DataStreamWriter[Row], spark: SparkSession,
      path: String, keys: Seq[String], partitionCol: String,
      checkpointDir: String): DataStreamWriter[Row] =
    writer
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          Upsert.applyToPartitionedParquet(spark, path, batch, keys, partitionCol)
      }

  /** One scheduler-tick run: drain everything available now, then stop
    * (the streaming analog of the reference's once-mode slot run).
    */
  def runAvailableNow(writer: DataStreamWriter[Row]): StreamingQuery =
    writer.trigger(Trigger.AvailableNow()).start()

  /** Watermarked stream-stream time-bound join — the live analog of
    * [[graft.operators.AsofJoin]]/[[graft.operators.IntervalJoin]]:
    * each left event pairs with right events on the same key whose
    * time falls in [leftTime, leftTime + within]. The attribution
    * shape (impression ↔ click inside the conversion window), run on
    * Spark's native stream-stream join so BOTH sides' buffered state
    * is evicted once the watermark clears the bound — without the
    * time bound the state store grows without limit, which is why the
    * bound is mandatory here, not optional. `leftOuter` additionally
    * emits unmatched left rows AFTER the watermark proves no match
    * can still arrive (exactly the semantics batch attribution gets
    * from an as-of join with tolerance).
    *
    * Column names must be disjoint across the two sides (Spark
    * surfaces stream-stream join outputs unqualified) — violations
    * fail loudly here rather than as ambiguous-reference errors
    * somewhere downstream.
    */
  def timeBoundJoin(left: DataFrame, leftKey: String, leftTime: String,
      right: DataFrame, rightKey: String, rightTime: String,
      within: String, lateness: String,
      joinType: String = "inner"): DataFrame = {
    require(Set("inner", "leftOuter", "left_outer").contains(joinType),
      s"stream-stream time-bound join supports inner/leftOuter, got $joinType")
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"left/right column names must be disjoint; both sides carry: " +
        overlap.mkString(", "))
    val l = left.withWatermark(leftTime, lateness)
    val r = right.withWatermark(rightTime, lateness)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTime) >= col(leftTime) &&
        col(rightTime) <= col(leftTime) + expr(s"interval $within"),
      joinType)
  }

  /** foreachBatch sink composing [[graft.operators.Dedup]]'s
    * incremental near-dup machinery into a streaming ingest: each
    * micro-batch is probed against the PERSISTED corpus band index
    * ([[Dedup.bandIndexWrite]] layout at `indexPath`), survivors are
    * appended to the corpus table at `corpusPath`, and the survivors'
    * OWN bands are appended to the index — so later batches dedup
    * against everything accepted so far without any corpus-scale
    * recompute. Within-batch near-dups are removed first (losers =
    * non-minimum ids of [[Dedup.nearDupPairs]] components at batch
    * scale, which is small by the micro-batch premise).
    *
    * Exactly-once posture: foreachBatch is AT-LEAST-once, and these
    * are plain appends — so the sink makes the replay idempotent
    * itself: the batch transform is deterministic (md5/minhash — no
    * rand), survivors are anti-joined against ids already in the
    * corpus (a column-pruned scan riding the same read the probe
    * needs), and a replayed batch therefore appends nothing.
    */
  def dedupIngestSink(writer: DataStreamWriter[Row],
      spark: SparkSession, idCol: String, textCol: String,
      corpusPath: String, indexPath: String,
      checkpointDir: String, minJaccard: Double = 0.5): DataStreamWriter[Row] =
    writer
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val b = batch.select(col(idCol), col(textCol))
            .localCheckpoint(true)
          // Within-batch dedup: keep each component's minimum id.
          val pairs = Dedup.nearDupPairs(b, idCol, textCol,
            minJaccard = minJaccard)
          val losersIn = Dedup.connectedComponents(pairs)
            .filter(col("node") =!= col("component"))
            .select(col("node").as(idCol))
          val fresh = b.join(losersIn, Seq(idCol), "left_anti")
          // Cross-corpus dedup: probe the persisted index (if the
          // stream has ingested anything yet). The id anti-join makes
          // a REPLAYED batch a no-op — its survivors already sit in
          // the corpus — which is what turns the at-least-once
          // foreachBatch appends into exactly-once ingest.
          val survivors =
            if (Storage.exists(spark, indexPath)) {
              val corpus = spark.read.parquet(corpusPath)
              val dup = Dedup.incrementalNearDupPairs(spark, indexPath,
                  corpus, fresh, idCol, textCol, minJaccard = minJaccard)
                .select(col("new_id").as(idCol)).distinct()
              fresh.join(dup, Seq(idCol), "left_anti")
                .join(corpus.select(col(idCol)), Seq(idCol), "left_anti")
            } else fresh
          val kept = survivors.localCheckpoint(true)
          kept.write.mode("append").parquet(corpusPath)
          // Index catch-up: bands for every corpus doc the index
          // LACKS — on a clean run exactly this batch's survivors,
          // and after a crash between the corpus and index writes it
          // also heals the gap a survivors-derived append would
          // leave permanently unindexed. The index rides the
          // ledgered [[Dedup.bandIndexWrite]]/[[Dedup.bandIndexAppend]]
          // layout: only COMMITTED ids count as indexed (an orphan
          // batch from a crashed append must be re-healed, and will be
          // GC'd by compaction), and the append's exactly-once guard
          // turns a replay of an already-committed micro-batch into a
          // no-op instead of a duplicate.
          if (!Storage.exists(spark, indexPath)) {
            Dedup.bandIndexWrite(spark.read.parquet(corpusPath),
              idCol, textCol, k = 4, n = 3, bandWidth = 2, indexPath)
          } else {
            val indexed = Dedup.bandIndexedIds(spark, indexPath, idCol)
            val unindexed = spark.read.parquet(corpusPath)
              .join(indexed, Seq(idCol), "left_anti")
            if (!unindexed.isEmpty)
              try Dedup.bandIndexAppend(unindexed, idCol, textCol,
                indexPath, batch = s"stream-$batchId")
              catch {
                // replayed micro-batch whose index append already
                // committed: the work is done, not an error
                case _: graft.operators.IndexCommit.AlreadyCommittedException => ()
              }
          }
        }
      }

  /** foreachBatch sink composing the FROZEN-quantizer vector-index
    * ingest ([[graft.operators.Similarity.ivfAppend]]) into a
    * streaming pipeline: each embedding micro-batch is assigned to the
    * build-time centroids and appended into the cluster-partitioned
    * float index, with the batch's assignment tightness recorded in
    * the drift ledger (`batch` = the micro-batch id, so the ledger
    * doubles as a per-batch ingest log). Because plain appends under
    * foreachBatch are AT-LEAST-once, the sink makes replays idempotent
    * the dedupIngestSink way: arrivals dedup WITHIN the batch first
    * (an at-least-once source can deliver an id twice in one trigger),
    * then anti-join against the ids already in the index (a
    * column-pruned scan), so a replayed batch appends nothing.
    *
    * Crash/replay semantics ride the ivfAppend commit protocol: the
    * anti-join diffs against COMMITTED ids only
    * ([[Similarity.ivfIndexedIds]]) — a torn append's orphan rows must
    * NOT count as indexed, or the replay would compute an empty
    * "fresh" set and the prologue's replace-by-batch delete would then
    * destroy the only copy of those vectors while committing a 0-row
    * ledger entry. And a replay of a batch whose append fully
    * COMMITTED (crash landed between the ledger row and the stream
    * checkpoint) is a no-op, not a poison pill: the typed
    * exactly-once rejection is caught and skipped.
    */
  def vectorIngestSink(writer: DataStreamWriter[Row],
      spark: SparkSession, idCol: String, vecCol: String,
      centroidDf: DataFrame, indexPath: String,
      checkpointDir: String): DataStreamWriter[Row] =
    writer
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // dropDuplicates: duplicate ids within one trigger keep one
          // arbitrary-but-single payload (at-least-once duplicates are
          // byte-identical in practice; differing payloads for one id
          // are an upstream bug this sink must not amplify into two
          // index rows).
          val arrivals = batch.select(col(idCol), col(vecCol))
            .dropDuplicates(idCol)
          val fresh =
            if (Storage.exists(spark, indexPath))
              arrivals.join(
                Similarity.ivfIndexedIds(spark, indexPath, idCol),
                Seq(idCol), "left_anti")
            else arrivals
          if (!fresh.isEmpty)
            try Similarity.ivfAppend(fresh, idCol, vecCol, centroidDf,
              indexPath, s"b$batchId")
            catch {
              // replayed micro-batch whose append already committed:
              // the work is done, not an error
              case _: graft.operators.IndexCommit.AlreadyCommittedException => ()
            }
        }
      }

  /** Streaming text-index ingest — the sparse-retrieval analog of
    * [[vectorIngestSink]], completing the streaming face across the
    * text, vector and band indexes: each micro-batch's documents append into
    * the persisted BM25 index under the frozen shard routing, batch id
    * = micro-batch id, exactly-once by the ledger-commit protocol.
    * Already-indexed doc ids are diffed away first, so at-least-once
    * redelivery across DIFFERENT micro-batches is safe, and a replayed
    * trigger whose append already committed is recognized and skipped.
    * The index must exist ([[graft.operators.TextIndex.write]] the
    * bootstrap corpus first) — shard routing is frozen by the build.
    */
  def textIngestSink(writer: DataStreamWriter[Row], spark: SparkSession,
      idCol: String, bodyCol: String, indexPath: String,
      checkpointDir: String): DataStreamWriter[Row] =
    writer
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val arrivals = batch.select(col(idCol), col(bodyCol))
            .dropDuplicates(idCol)
          val fresh = arrivals.join(
            graft.operators.TextIndex.indexedIds(spark, indexPath)
              .select(col("doc").as(idCol)),
            Seq(idCol), "left_anti")
          if (!fresh.isEmpty)
            try graft.operators.TextIndex.append(fresh, idCol, bodyCol,
              indexPath, s"b$batchId")
            catch {
              // replayed micro-batch whose append already committed:
              // the work is done, not an error
              case _: graft.operators.IndexCommit.AlreadyCommittedException =>
                ()
            }
        }
      }

  /** Streaming erasure propagation — right-to-be-forgotten requests
    * arrive as a stream of ids and must reach every serving artifact
    * without a batch job in the loop: each micro-batch
    * tombstone-deletes its ids from the text, band, and vector
    * indexes (whichever paths are given), under the per-family commit
    * protocol. Replay-idempotent the [[vectorIngestSink]] way: the
    * delete batch id is the micro-batch id, so a replayed trigger
    * whose deletes already committed is recognized
    * ([[graft.operators.IndexCommit.AlreadyCommittedException]]) and
    * skipped — ids are never double-decremented (the text ledger's
    * negative rows make that the one real hazard). Already-tombstoned
    * or absent ids are no-ops inside the operators themselves, so
    * at-least-once delivery of the same request across DIFFERENT
    * batches is also safe.
    */
  def erasureSink(writer: DataStreamWriter[Row], spark: SparkSession,
      idCol: String, textIndexPath: Option[String],
      bandIndexPath: Option[String], vectorIndexPath: Option[String],
      checkpointDir: String): DataStreamWriter[Row] =
    writer
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val ids = batch.select(col(idCol)).dropDuplicates(idCol)
            .localCheckpoint(true) // read once per target artifact
          def applyDelete(f: () => Unit): Unit =
            try f()
            catch {
              // replayed micro-batch whose delete already committed:
              // the work is done, not an error
              case _: graft.operators.IndexCommit.AlreadyCommittedException =>
                ()
            }
          textIndexPath.foreach(p => applyDelete(() =>
            graft.operators.TextIndex.delete(spark, p, ids, s"d$batchId")))
          bandIndexPath.foreach(p => applyDelete(() =>
            graft.operators.Dedup.bandIndexDelete(spark, p, ids,
              s"d$batchId")))
          vectorIndexPath.foreach(p => applyDelete(() =>
            Similarity.ivfDelete(spark, p, ids, s"d$batchId")))
        }
      }

  final case class KeyCount(key: String, n: Long)

  /** A completed session's training example — the streaming analog of
    * the q138 batch constructor's row.
    */
  final case class SessionExample(user_id: Long, session_start: Long,
      session_end: Long, n_events: Long, input_seq: String, label: String)

  /** Buffered open session per user (event millis + type, in arrival
    * order; sorted at emission).
    */
  final case class OpenSession(events: List[(Long, String)])

  /** Streaming next-event-dataset constructor — the
    * flatMapGroupsWithState rung that `session_window` aggregates
    * cannot reach: each completed session emits an ARBITRARY payload
    * (here the ordered event-type sequence split into input/label, the
    * q138 example shape), not just an aggregate. Per-user state
    * buffers the open session; a session completes either when a
    * later in-stream event breaks the gap (emitted immediately) or
    * when the EVENT-TIME watermark passes `last event + gap` (the
    * timeout path — so tail sessions emit without needing a successor,
    * and state is bounded by watermark + gap, never by stream
    * length). Sessions shorter than 2 events carry no (input, label)
    * pair and are dropped. Within a session the order is (ms, type) —
    * callers needing a stronger tiebreak thread a unique id into
    * `typeCol`.
    */
  def sessionExamples(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, gapMs: Long, lateness: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._

    def toExample(u: Long, ev: List[(Long, String)]): Option[SessionExample] = {
      val s = ev.sorted
      if (s.size < 2) None
      else Some(SessionExample(u, s.head._1, s.last._1, s.size.toLong,
        s.init.map(_._2).mkString(" "), s.last._2))
    }

    // Split a sorted run into gap-delimited sessions; all but the last
    // are closed by construction.
    def sessions(ev: List[(Long, String)]): List[List[(Long, String)]] =
      ev.sorted.foldLeft(List.empty[List[(Long, String)]]) {
        case (acc, e) => acc match {
          case cur :: rest if e._1 - cur.head._1 <= gapMs =>
            (e :: cur) :: rest // cur is newest-first; head = latest event
          case _ => List(e) :: acc
        }
      }.map(_.reverse).reverse

    val func = (u: Long, rows: Iterator[(Long, java.sql.Timestamp, String)],
        state: GroupState[OpenSession]) => {
      val buffered = state.getOption.map(_.events).getOrElse(Nil)
      if (state.hasTimedOut) {
        state.remove()
        toExample(u, buffered).iterator
      } else {
        val all = buffered ++ rows.map(r => (r._2.getTime, r._3)).toList
        val runs = sessions(all)
        val open = runs.last
        state.update(OpenSession(open))
        // Timeout must sit strictly above the current watermark
        // (setTimeoutTimestamp rejects the past); an open session the
        // watermark already passed times out on the next trigger.
        state.setTimeoutTimestamp(math.max(open.map(_._1).max + gapMs,
          state.getCurrentWatermarkMs() + 1))
        runs.init.flatMap(toExample(u, _)).iterator
      }
    }

    events
      // Project FIRST, then attach the watermark to the projected
      // column: a cast or alias on an already-watermarked attribute
      // strips the event-time metadata and EventTimeTimeout rejects
      // the plan. tsCol must already be a timestamp column.
      .select(col(userCol).cast("long").as("__u"),
        col(tsCol).as("__ts"),
        col(typeCol).cast("string").as("__e"))
      .withWatermark("__ts", lateness)
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(func)
      .toDF()
  }

  /** Custom per-key state via mapGroupsWithState: a running count per
    * key that survives across micro-batches — the template for any
    * arbitrary-state stream op (dedup caches, session carriers,
    * incremental sketches). State lives in the state store, sized by
    * distinct keys, checkpointed with the query.
    */
  def runningCountsWithState(docs: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.sql.streaming.GroupState
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(keyCol).cast("string")).as[String]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (k: String, rows: Iterator[String], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          KeyCount(k, n)
      }.toDF()
  }
}
