package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted inverted text index with partition-pruned BM25 serving —
  * the sparse-retrieval analog of the dense-index ladder
  * ([[Similarity.ivfWrite]]/`ivfSearch`): build once, append batches,
  * then serve a query reading ONLY the token shards its terms hash
  * into, never the corpus. q136 scores one probe query with a full
  * corpus pass; this is the shape a repeated-query curation workload
  * wants.
  *
  * Layout: posting rows `(token, doc, tf, dl, df)` partitioned by
  * `shard = pmod(xxhash64(token), nShards)` and then by `batch` (the
  * ingest batch id; the build writes `batch=build`). Because sharding
  * is by token HASH, every posting of a term — build-time or appended
  * — lands in the same shard, so a probe read of a term's shard sees
  * that term's COMPLETE posting list. Serving therefore derives the
  * authoritative document frequency from the probed postings
  * themselves (`count over token`), which makes the stored `df`
  * column a build-time cache that appends cannot go stale against.
  * Corpus constants live in `path + "__meta"` as an APPEND-ONLY
  * ledger — one row per batch `(batch, n_docs, sum_dl, n_postings,
  * n_tokens, n_shards)`, the [[Similarity.ivfStats]] convention —
  * and serving sums them; no read-modify-write on any sidecar.
  *
  * Atomicity ([[IndexCommit]]'s protocol, shared by every ledgered
  * index): the LEDGER ROW IS THE COMMIT POINT. Serving reads only
  * postings whose `batch` appears in the ledger, so a crash between
  * the posting write and the ledger write leaves an orphan batch that
  * is INVISIBLE — never half-counted. Because `batch` is a partition
  * directory, a retry of a failed batch is replace-by-batch: any
  * orphan `batch=<id>` directories are deleted before the rewrite, so
  * re-running a failed append can never duplicate postings, and a
  * batch id already in the ledger is rejected loudly (exactly-once
  * per id). [[compact]] garbage-collects orphans as a side effect.
  *
  * Scale: the build is two token-keyed exchanges (tf groupBy, df
  * count + join-back — the second join lands on the same token
  * partitioning) and a `repartition(shard)` write (one file per
  * shard per batch, no partitionBy small-file explosion). [[append]]
  * is O(batch): the existing index is never read or rewritten, new
  * postings ride `mode("append")` into their shards. A query touches
  * |terms| shards = a |terms|/nShards fraction of the index bytes;
  * the per-doc score sum accumulates 1e-9-snapped contributions in
  * DECIMAL so the aggregation is shuffle-order-independent (plain
  * double summation over a groupBy is not associativity-safe).
  *
  * What appending CANNOT freeze: avgdl. BM25's length normalization
  * is calibrated to the corpus mean document length, so a drifting
  * batch shifts every score slightly — the ledger's per-batch
  * `sum_dl/n_docs` vs the build row ([[indexStats]]) is the rebuild
  * trigger, the text analog of the IVF assignment-tightness drift.
  */
object TextIndex {

  val K1 = 1.2
  val B = 0.75

  /** The ledgered layout ([[IndexCommit]]): a batch's postings and
    * its doclens rows are both replaced on retry.
    */
  private def index(path: String) = IndexCommit.Index("index", path,
    "batch STRING, n_docs LONG, sum_dl LONG, n_postings LONG, " +
      "n_tokens LONG, n_shards INT",
    Seq(path -> "shard=*/", doclenPath(path) -> "dbucket=*/"))(
    tombCol = "doc", frozen = Seq("n_shards"))

  /** Doc-hash bucket count of the `__doclens` sidecar layout — part of
    * the ON-DISK contract (readers prune `dbucket` partitions computed
    * with this constant; changing it would silently miss rows written
    * under the old value). Bucketing is what makes erasure cheap: a
    * delete of k docs touches ≤ min(k, DocLenBuckets) partition dirs of
    * a sidecar holding one tiny row per doc — O(deleted), not O(index).
    * 16, not more: every partition dir costs a file-commit rename at
    * write time (measured ~30 ms each locally, so the original 64-dir
    * sidecar taxed EVERY index build ~2 s), while erasure already
    * prunes to ≤ min(k, buckets) dirs — at 16 the build tax is ~0.5 s
    * and a production bucket dir simply holds more files.
    */
  private val DocLenBuckets = 16

  private def dbucket(doc: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(doc), lit(DocLenBuckets))

  /** One corpus scan → postings frame + per-doc lengths + 1-row batch
    * stats.
    */
  private def tokenize(docs: DataFrame, id: String, body: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // Runs on the scan's own splits: a same-JVM A/B of repartitioning
    // a narrow input first measured the tokenize pass NET SLOWER
    // (q201 +28%, q206 +30%, q212 +40% — the split/size map work is
    // too cheap to amortize the extra exchange; the heavy aggregates
    // below parallelize at their own shuffles).
    val base = docs.select(col(id).as("doc"), words(col(body)).as("__ws"))
      .select(col("doc"), col("__ws"), size(col("__ws")).cast("long").as("dl"))
      .localCheckpoint(true) // postings AND doclens AND stats: one scan
    val postings = base
      .select(col("doc"), col("dl"), explode(col("__ws")).as("token"))
      .groupBy("token", "doc", "dl").agg(count(lit(1)).as("tf"))
    (postings,
      base.select(col("doc"), col("dl")),
      base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")))
  }

  private def doclenPath(path: String): String = s"${path}__doclens"

  /** True iff the `__doclens` sidecar covers EVERY ingest batch that
    * PHYSICALLY EXISTS in the postings (∩ committed) — the guard that
    * keeps a pre-sidecar build appended by a post-sidecar writer
    * correct: partial coverage falls back to the postings scan instead
    * of silently under-counting victims. Coverage is judged against the
    * postings' on-disk batch dirs, NOT the ledger's batch set: the
    * ledger keeps folded ids forever (the exactly-once guard), so after
    * a [[compact]] — which folds BOTH stores to `batch=build` — the
    * ledger over-states what the sidecar must cover, and a ledger-based
    * check would permanently disable the sidecar on any index that was
    * ever appended to and then compacted. Two globs over
    * ≤ DocLenBuckets/nShards × batches partition dirs.
    */
  private[graft] def doclensCover(spark: SparkSession, path: String): Boolean =
    doclensCover(spark, path, IndexCommit.readLedger(spark, index(path)))

  private def doclensCover(spark: SparkSession, path: String,
      meta: IndexCommit.Ledger): Boolean = {
    val dlp = new org.apache.hadoop.fs.Path(doclenPath(path))
    val fs = dlp.getFileSystem(spark.sessionState.newHadoopConf())
    def batchDirs(root: String, pattern: String): Set[String] = {
      val g = fs.globStatus(
        new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(root),
          pattern))
      if (g == null) Set.empty[String]
      else g.map(_.getPath.getName.stripPrefix("batch=")).toSet
    }
    fs.exists(dlp) && {
      val have = batchDirs(doclenPath(path), "dbucket=*/batch=*")
      val served = batchDirs(path, "shard=*/batch=*")
        .intersect(meta.committed.filterNot(_.startsWith("del:")))
      served.subsetOf(have)
    }
  }

  /** Write a batch's (doc, dl) rows doc-hash-bucketed. The sidecar is
    * the index's doc-keyed access path: erasure reads ONLY the victim
    * ids' buckets (partition pruning) instead of scanning postings for
    * victim stats, and [[indexedIds]] reads one row per doc instead of
    * one per posting.
    */
  private def writeDoclens(doclens: DataFrame, batch: String, path: String,
      overwrite: Boolean): Unit =
    doclens
      .withColumn("dbucket", dbucket(col("doc")))
      .withColumn("batch", lit(batch))
      .repartition(col("dbucket"))
      .write.mode(if (overwrite) "overwrite" else "append")
      .option("partitionOverwriteMode", "static")
      .partitionBy("dbucket", "batch").parquet(doclenPath(path))

  /** A batch's ledger row after `batch`: its doc stats and the
    * observed posting counts.
    */
  private def ledgerRow(counts: (Long, Long), batchStats: DataFrame,
      nShards: Int): Seq[Any] = {
    val b = batchStats.head()
    Seq[Any](b.getLong(0), if (b.isNullAt(1)) 0L else b.getLong(1),
      counts._1, counts._2, nShards)
  }

  /** Shard write; returns (n_postings, n_tokens) observed ON the write
    * job itself (the [[Dedup.writeBandRows]] Observation discipline) —
    * the ledger counts previously cost a second full
    * explode→groupBy→join pass over the tokenized corpus per build.
    * n_tokens rides an observe on the df subtree (one row per token),
    * since COUNT(DISTINCT) is not observable.
    */
  private def writePostings(postings: DataFrame, batch: String,
      nShards: Int, path: String, overwrite: Boolean): (Long, Long) = {
    val obsP = org.apache.spark.sql.Observation()
    val obsT = org.apache.spark.sql.Observation()
    val df = postings.groupBy("token").agg(count(lit(1)).as("df"))
      .observe(obsT, count(lit(1)).as("n_tokens"))
    postings.join(df, "token")
      .withColumn("shard", pmod(xxhash64(col("token")), lit(nShards)))
      .withColumn("batch", lit(batch))
      .observe(obsP, count(lit(1)).as("n_postings"))
      .repartition(col("shard"))
      // static: a REBUILD is a snapshot — under the engine's dynamic
      // overwrite default, stale shard/batch dirs from a previous index
      // at this path would survive an overwrite and haunt the reads.
      .write.mode(if (overwrite) "overwrite" else "append")
      .option("partitionOverwriteMode", "static")
      .partitionBy("shard", "batch").parquet(path)
    (obsP.get("n_postings").asInstanceOf[Long],
      obsT.get("n_tokens").asInstanceOf[Long])
  }

  def write(docs: DataFrame, id: String, body: String, path: String,
      nShards: Int = 16): Unit = {
    require(nShards >= 1, s"need nShards >= 1, got $nShards")
    // nShards rides in the ledger: serving and appends MUST hash with
    // the build's shard count — a mismatch would silently prune live
    // postings. A rebuild resets the ledger = resets the baseline.
    IndexCommit.build(docs.sparkSession, index(path)) {
      writeBatch(docs, id, body, path, "build", nShards, overwrite = true)
    }
  }

  /** Tokenize once, then the postings and doclen sidecar writes as
    * independent sinks over the shared stream, overlapped (guide §2.6,
    * [[graft.functions.ColumnLib.fork]]). Both finish before this returns, even when one fails:
    * the ledger row stays LAST, and a retry must not meet a still-running
    * sibling write.
    */
  private def writeBatch(docs: DataFrame, id: String, body: String,
      path: String, batch: String, nShards: Int,
      overwrite: Boolean): Seq[Any] = {
    val (postings, doclens, stats) = tokenize(docs, id, body)
    val cF = graft.functions.ColumnLib.fork(
      writePostings(postings, batch, nShards, path, overwrite))
    val dF = graft.functions.ColumnLib.fork(
      writeDoclens(doclens, batch, path, overwrite))
    graft.functions.ColumnLib.awaitAll(cF, dF)
    ledgerRow(cF(), stats, nShards)
  }

  /** Append a document batch into an existing index — the frozen-layout
    * ingest face ([[Similarity.ivfAppend]]'s pattern): token-hash
    * routing is frozen by the build's `n_shards` (read from the
    * ledger, never a parameter), new postings land in their terms'
    * shards under `batch=<id>` directories, and one ledger row COMMITS
    * the batch (see atomicity note on the object). O(batch) — the
    * existing postings are never read or rewritten. Re-running a
    * FAILED batch id first deletes its orphan directories
    * (replace-by-batch); re-running a COMMITTED batch id fails loudly.
    * The per-posting `df` recorded for the batch is batch-local (a
    * cache; serving recomputes df live), and the writer lock enforces
    * the same single-writer contract as
    * [[Upsert.applyToPartitionedParquet]].
    */
  def append(docs: DataFrame, id: String, body: String, path: String,
      batch: String): Unit =
    IndexCommit.append(docs.sparkSession, index(path), batch) { meta =>
      writeBatch(docs, id, body, path, batch, meta("n_shards"),
        overwrite = false)
    }

  /** Tombstone-delete documents from the index — the erasure face the
    * [[Cascade]] tier needs to reach SERVING state: postings are
    * never rewritten or scanned (victim stats come from the
    * doc-bucketed `__doclens` sidecar — O(deleted) partition-pruned
    * reads, see inline note); instead the doc ids land in a
    * `__tombstones` sidecar and ONE NEGATIVE LEDGER ROW
    * (`del:<batch>`, −n_docs, −sum_dl) commits the batch, so the
    * ledger sums serving reads stay correct by plain addition. Serving anti-joins committed tombstones before the
    * live-df window, so both the candidate set AND every df/idf/avgdl
    * constant behave as if the docs were rebuilt away —
    * TextIndexSpec pins delete ≡ rebuild-without-them, and
    * [[compact]] later removes the postings physically.
    *
    * Same commit protocol as [[append]] ([[IndexCommit]]): tombstone
    * rows are batch-partitioned and only COMMITTED del batches are
    * read, so a crash between the tombstone write and the ledger row
    * leaves invisible orphans and a retry replaces them. Ids already
    * tombstoned or absent from the index are no-ops (never
    * double-decremented). `n_tokens` is ingest history and is NOT
    * maintained under deletes (a term may survive in other docs;
    * serving never reads it).
    */
  def delete(spark: SparkSession, path: String, docIds: DataFrame,
      batch: String): Unit =
    IndexCommit.delete(spark, index(path), batch) { meta =>
      val cover = doclensCover(spark, path, meta)
      // Caller-supplied ids are cast to the INDEXED doc type before any
      // hashing or joining: xxhash64 is type-sensitive (an int 7 and a
      // long 7 hash differently), so an uncast id column of a narrower
      // type would compute the WRONG dbucket, prune to the wrong
      // partitions, find zero victims, and commit an empty tombstone
      // batch — a silent missed delete. The authoritative type comes
      // from the sidecar (or the postings when no sidecar covers).
      val indexedDocType =
        (if (cover) spark.read.parquet(doclenPath(path))
         else committedPostings(spark, path, meta)).schema("doc").dataType
      val fresh = IndexCommit.minusTombstones(docIds
          .select(col(docIds.columns.head).cast(indexedDocType).as("doc"))
          .distinct(), "doc",
          IndexCommit.tombstones(spark, index(path), meta.committed))
        .localCheckpoint(true) // bucket collect AND the victim semi-join
      // Victim stats (doc, dl) from the doc-keyed `__doclens` sidecar:
      // the victims' hash buckets prune the read to
      // ≤ min(k, DocLenBuckets) partition dirs of a one-row-per-doc
      // table — erasure cost is O(deleted), never an O(index) postings
      // scan. The bucket list is a bounded collect: an erasure request
      // is a bounded id set, and its distinct bucket count is
      // ≤ DocLenBuckets literals. Indexes built before the sidecar
      // existed fall back to the postings scan.
      // `n_postings`/`n_tokens` are ingest history and NOT maintained
      // under deletes (nothing in serving reads them; df is derived
      // live from probed postings).
      val victims = (if (cover) {
        val buckets = fresh.select(dbucket(col("doc")).as("b")).distinct()
          .collect().map(r => Long.box(r.getLong(0))).toSeq
        IndexCommit.committedRows(spark, doclenPath(path), meta.committed)
          .filter(col("dbucket").isin(buckets: _*))
          .join(fresh, Seq("doc"), "left_semi")
          .select(col("doc"), col("dl")).distinct()
      } else {
        committedPostings(spark, path, meta)
          .join(fresh, Seq("doc"), "left_semi")
          .select(col("doc"), col("dl")).distinct()
      }).localCheckpoint(true) // stats aggregate AND the tombstone write
      val st = victims.agg(
        count(lit(1)).as("d"),
        coalesce(sum(col("dl")), lit(0L)).as("dl")).head()
      // The negative row that commits the tombstones.
      (victims.select(col("doc")),
        Seq[Any](-st.getLong(0), -st.getLong(1), 0L, 0L, meta("n_shards")))
    }

  /** Distinct doc ids whose postings belong to a COMMITTED batch — the
    * "already indexed" face an incremental ingest diffs its arrivals
    * against (the [[Similarity.ivfIndexedIds]] convention). Orphan postings
    * from torn appends are excluded ON PURPOSE: a torn batch must be
    * re-ingested whole. Tombstoned ids still count as indexed —
    * erased identities are retired, a replay must not re-ingest them.
    */
  def indexedIds(spark: SparkSession, path: String): DataFrame = {
    val meta = IndexCommit.readLedger(spark, index(path))
    // One row per doc from the doclens sidecar beats one per posting;
    // pre-sidecar (or partially covered) indexes fall back to the
    // postings scan.
    if (doclensCover(spark, path, meta))
      IndexCommit.committedRows(spark, doclenPath(path), meta.committed)
        .select(col("doc")).distinct()
    else
      committedPostings(spark, path, meta).select(col("doc")).distinct()
  }

  /** Compact an append-heavy index: every [[append]] leaves one file
    * per touched shard, and probe cost at scale is file-count-
    * dominated (footer reads + task scheduling), so compaction is
    * part of the index lifecycle. All COMMITTED batches fold into a
    * single `batch=build` layout (one file per shard); orphan
    * postings from crashed appends are dropped — compaction is the
    * index's garbage collector — and TOMBSTONED postings are
    * physically removed (the tombstone sidecar is then deleted: the
    * negative ledger rows alone keep the sums right, and anti-joining
    * absent docs would be dead weight). The LEDGER IS UNTOUCHED,
    * exactly as in [[Similarity.ivfCompact]]/[[Dedup.bandIndexCompact]]:
    * its SUMS (all serving derives from) are unchanged by the fold,
    * the per-batch rows stay as ingest history, and — decisively —
    * keeping them preserves the exactly-once guard: a retry of an
    * already-folded batch id must still be rejected, or a timeout
    * retry whose first attempt succeeded would silently re-ingest
    * and double-count. Search results are identical afterwards
    * (TextIndexSpec pins it): folded `build` postings are committed
    * under the unchanged ledger, df is derived live, and nDocs/avgdl
    * come from the unchanged sums. One pass over the index: the
    * rewrite streams from the original files into the swap.
    */
  def compact(spark: SparkSession, path: String): Unit =
    // The doclens sidecar folds the same way (committed batches minus
    // tombstoned docs → batch=build), in its own swap AFTER the
    // postings swap: a crash between them leaves extra committed-batch
    // doclens dirs, which the batch filter keeps serving correctly, and
    // the next compact folds.
    IndexCommit.compact(spark, index(path), "shard", idCol = Some("doc"),
      sidecars = Seq(doclenPath(path) -> "dbucket"))

  /** Postings restricted to ledger-committed batches — the only rows
    * that EXIST as far as the index contract is concerned.
    */
  private def committedPostings(spark: SparkSession, path: String,
      meta: IndexCommit.Ledger): DataFrame =
    IndexCommit.committedRows(spark, path, meta.committed)

  /** Per-batch ledger with `avgdl_drift` = batch mean doc length −
    * build mean doc length (the quantity BM25's b-normalization is
    * calibrated against) and `new_dl_frac`, the batch's share of all
    * indexed tokens. The ledger is one row per batch — broadcast.
    */
  def indexStats(spark: SparkSession, path: String): DataFrame = {
    val s = spark.read.parquet(index(path).ledger)
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
    val base = s.filter(col("batch") === "build")
      .select(col("avgdl").as("__build_avgdl"))
    // 1-row totals broadcast (the stats-broadcast idiom) — an
    // unpartitioned window would funnel the ledger into one partition
    // and warn; the ledger is tiny but the plan shape should still be
    // the one that scales.
    val total = s.agg(sum(col("sum_dl")).cast("double").as("__total_dl"))
    s.join(broadcast(base), lit(true), "left")
      .join(broadcast(total), lit(true), "left")
      .withColumn("avgdl_drift", col("avgdl") - col("__build_avgdl"))
      .withColumn("new_dl_frac",
        col("sum_dl").cast("double") / col("__total_dl"))
      .drop("__build_avgdl", "__total_dl")
  }

  /** Okapi BM25 top-k for `terms` (k1=1.2, b=0.75, q136's exact
    * formula and 1e-9 idf snapping). Only documents containing at
    * least one term appear — the posting lists ARE the candidate set,
    * and only LEDGER-COMMITTED batches are in it (a torn append is
    * invisible, see atomicity note). df is derived from the probed
    * postings (complete per term, see layout note), so results after
    * N appends are IDENTICAL to a fresh rebuild over the union —
    * TextIndexSpec pins it.
    */
  def searchBM25(spark: SparkSession, path: String, terms: Seq[String],
      k: Int): DataFrame =
    searchBM25Impl(spark, path, terms, k, requireAll = false)

  /** Conjunctive BM25 top-k: only documents containing EVERY query
    * term rank (AND semantics — the precision face of sparse
    * retrieval, where [[searchBM25]] is the recall face). The posting
    * intersection costs nothing extra: the probe read is identical,
    * and the per-doc aggregate that already sums contributions also
    * counts matched distinct terms — docs below |terms| drop before
    * the top-k cut.
    */
  def searchBM25All(spark: SparkSession, path: String, terms: Seq[String],
      k: Int): DataFrame =
    searchBM25Impl(spark, path, terms, k, requireAll = true)

  private def searchBM25Impl(spark: SparkSession, path: String,
      terms: Seq[String], k: Int, requireAll: Boolean): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    // Corpus constants and the shard modulus come from the index's OWN
    // ledger — taking nShards as a parameter again would let a
    // build/search mismatch silently prune live postings.
    val meta = IndexCommit.readLedger(spark, index(path))
    val nDocs = meta.sum("n_docs").toDouble
    val avgdl = meta.sum("sum_dl").toDouble / nDocs
    // Shard ids computed with the SAME expression the build used, on a
    // tiny in-memory frame — no hand-rolled reimplementation of
    // xxhash64 to drift out of sync.
    val shards = spark.createDataFrame(
        terms.map(Tuple1(_))).toDF("token")
      .select(pmod(xxhash64(col("token")), lit(meta("n_shards"))).as("shard"))
      .distinct().collect().map(_.getLong(0))
    val probed = committedPostings(spark, path, meta)
      .filter(col("shard").isin(shards.toIndexedSeq: _*) &&
        col("token").isin(terms: _*))
    // Tombstoned docs drop BEFORE the live-df window: both the
    // candidate set and every df/idf constant then match a rebuild
    // without them (nDocs/avgdl already exclude them via the ledger's
    // negative delete rows).
    val posts = IndexCommit.minusTombstones(probed, "doc",
        IndexCommit.tombstones(spark, index(path), meta.committed))
      // Live df: every posting of a probed term is in the probed rows,
      // so this token-keyed count IS the current document frequency —
      // exact across any append history, stale-proof by construction.
      .withColumn("df_live",
        count(lit(1)).over(Window.partitionBy(col("token"))))
    val idf = round(log(
      (lit(nDocs) - col("df_live").cast("double") + 0.5) /
        (col("df_live").cast("double") + 0.5) + 1.0), 9)
    val tf = col("tf").cast("double")
    val contrib = idf * (tf * lit(K1 + 1.0)) /
      (tf + lit(K1) * (lit(1.0 - B) +
        lit(B) * col("dl").cast("double") / lit(avgdl)))
    val scored = posts
      .select(col("doc"), col("token"),
        round(contrib, 9).cast("decimal(38,18)").as("c"))
      .groupBy("doc")
      .agg(sum(col("c")).as("sc"),
        count_distinct(col("token")).as("__nt"))
    val cut =
      if (requireAll) scored.filter(col("__nt") === terms.distinct.length)
      else scored
    cut
      .select(col("doc"), round(col("sc").cast("double"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc"))
      .limit(k)
  }
}
