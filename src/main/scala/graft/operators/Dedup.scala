package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operator family for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram-Jaccard near-dup detection.
  *
  * Scale design (100 TB):
  *  - Exact dedup is one hash-shuffle on a 16-byte digest, never on the
  *    document body; map-side partial aggregation collapses duplicates
  *    before the exchange.
  *  - MinHash signatures are computed map-side (explode→groupBy(doc) is a
  *    shuffle keyed by doc_id; with documents already unique per row the
  *    whole signature can instead be computed per-row with higher-order
  *    functions — which is what [[minhashSignatures]] does: ZERO shuffle).
  *  - LSH banding turns the quadratic all-pairs problem into equality
  *    joins on band keys: candidates = self-join on (band, key), which
  *    Spark executes as a shuffle hash join whose cost is the sum of
  *    bucket sizes, not n². Band keys are md5 strings → uniformly
  *    distributed → no skew; a pathological hot bucket (e.g. boilerplate
  *    docs) is handled by AQE skew-join splitting.
  *  - SimHash is a per-row computation (no shuffle); Hamming-adjacent
  *    lookup joins on rotated bit-block keys.
  */
object Dedup {

  /** Monotonic suffix for observation names: Spark rejects a plan with
    * two CollectMetrics nodes sharing a name over different subtrees,
    * so two [[lshCandidatePairs]] calls composed into one action need
    * distinct names. Metrics stay discoverable by the "lsh_buckets"
    * prefix.
    */
  private val observationSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Free the materialized buffer behind a frame RETURNED by
    * [[nearDupPairs]] / [[connectedComponents]] once the caller is done
    * with it. Those operators materialize their (small) results so they
    * can deterministically free their own iteration buffers before
    * returning; the result buffer itself is the caller's to release —
    * the ContextCleaner would get to it eventually, but a long-lived
    * daemon ([[graft.pipelines.BatchRunner.runLoop]]) should not bank
    * executor storage on GC timing. The frame must not be used after
    * release (its lineage is truncated by the checkpoint).
    */
  def release(df: DataFrame): Unit =
    org.apache.spark.sql.graft.GraftSqlShim.unpersistCheckpoint(df)

  /** Exact dedup: canonical (minimum) id per identical body digest. */
  def exactGroups(docs: DataFrame, id: String, body: String): DataFrame =
    docs.groupBy(md5(col(body)).as("digest"))
      .agg(min(col(id)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** One row per (id, word-n-gram), zero-shuffle: the native
    * `word_shingles` generator
    * ([[graft.functions.expressions.WordShingles]]) emits each row's
    * gram array in one tight loop inside whole-stage codegen, and
    * `explode` (a generator, not an exchange) yields the stream. The
    * two built-in formulations both lose at scale — the HOF transform
    * runs interpreted per element, and the posexplode + window-lead
    * form (this operator's previous shape, kept as
    * [[explodedShinglesWindowed]] for the DedupSpec differential)
    * shuffles the whole exploded token stream on doc id just to
    * reassemble adjacency that was free before the explode.
    */
  private[graft] def explodedShingles(docs: DataFrame, id: String,
      body: String, n: Int): DataFrame =
    docs.select(col(id),
      explode(call_function("word_shingles", words(col(body)), lit(n)))
        .as("__g"))

  /** The posexplode + window-lead restatement of [[explodedShingles]]
    * (its pre-native shape): compiles, but pays a full shuffle of the
    * exploded token stream. Kept ONLY as the independent formulation
    * DedupSpec verifies the native expression against.
    */
  private[graft] def explodedShinglesWindowed(docs: DataFrame, id: String,
      body: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = docs.select(col(id), posexplode(words(col(body))).as(Seq("__p", "__w")))
    val win = Window.partitionBy(col(id)).orderBy(col("__p"))
    val parts = col("__w") +: (1 until n).map(j => lead(col("__w"), j).over(win))
    w.select(col(id),
        when(parts.last.isNotNull, concat_ws(" ", parts: _*)).as("__g"))
      .filter(col("__g").isNotNull)
  }

  /** MinHash signature columns h0..h(k-1) over word `n`-gram shingles:
    * one row per input doc (ids assumed unique; docs with fewer than `n`
    * words drop out, matching the unnest-based restatement). Values are
    * 16-hex-char strings (lexicographic min == numeric min) so
    * signatures are portable across engines.
    *
    * Physical shape: the native `minhash_sig` expression
    * ([[graft.functions.expressions.MinHashSignature]], registered in
    * `Engine.extensions`) computes the whole signature per-row inside
    * whole-stage codegen — ZERO shuffle, so the downstream LSH pipeline
    * ([[lshCandidatePairs]]) has exactly one exchange end to end (the
    * band-bucket groupBy). The shuffle-based aggregate restatement is
    * kept as [[minhashSignaturesAgg]] for differential testing.
    */
  def minhashSignatures(docs: DataFrame, id: String, body: String,
      k: Int, n: Int): DataFrame = {
    val sig = call_function("minhash_sig", words(col(body)), lit(k), lit(n))
    // Pre-filter on the cheap word count, NOT on sig.isNotNull: the
    // optimizer pushes an isNotNull filter below the projection by
    // substituting the alias, which would evaluate the whole signature
    // loop twice per row (once in Filter, once in Project). The two
    // predicates are equivalent — the expression returns null exactly
    // when the doc has fewer than n words.
    docs.filter(size(words(col(body))) >= n)
      .select(col(id), sig.as("__sig"))
      .select(col(id) +: (0 until k).map(i => col("__sig").getItem(i).as(s"h$i")): _*)
  }

  /** Shuffle-based MinHash restatement: [[explodedShingles]] → k seeded
    * md5 columns → hash-aggregate MIN per id, map-side combined. Same
    * output contract as [[minhashSignatures]]; kept (and spec'd) as the
    * independent formulation the native expression is verified against.
    */
  private[graft] def minhashSignaturesAgg(docs: DataFrame, id: String, body: String,
      k: Int, n: Int): DataFrame = {
    val grams = explodedShingles(docs, id, body, n)
    val aggs = (0 until k).map(i =>
      min(substring(md5(concat(lit(s"$i:"), col("__g"))), 1, 16)).as(s"h$i"))
    grams.groupBy(col(id)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: one row per (doc, band) with the band key = md5 of the
    * concatenated signature slice, built in a single pass via posexplode
    * (band_id = position). `bandWidth` signatures per band.
    */
  def lshBands(sig: DataFrame, id: String, k: Int, bandWidth: Int): DataFrame = {
    val bandKeys = (0 until k / bandWidth).map { b =>
      val slice = (b * bandWidth until (b + 1) * bandWidth).map(i => col(s"h$i"))
      md5(concat(slice: _*))
    }
    sig.select(col(id), posexplode(array(bandKeys: _*)).as(Seq("band_id", "band_key")))
  }

  /** Candidate near-dup pairs: docs sharing at least one LSH band bucket.
    *
    * Physical shape: ONE pass — group rows by (band_id, band_key) and
    * expand ordered pairs bucket-locally from the sorted id list. A
    * bucket self-join would compute the whole signature pipeline twice
    * (the two join inputs don't canonicalize to a reused exchange), and
    * LSH's design premise is that buckets stay small, so in-bucket
    * expansion is both the cheap plan and the scale-safe one. `maxBucket`
    * guards the pathological hot bucket (boilerplate corpora): buckets
    * above it are dropped — at that population the pair list is
    * quadratic noise, not near-dup signal. The default (1000 → ≤500k
    * pairs per bucket) keeps the guard ON for every caller; how many
    * buckets it dropped (and the largest bucket seen) is surfaced as an
    * `lsh_buckets_<n>` observation — readable from a
    * `QueryExecutionListener` or `queryExecution.observedMetrics`
    * without a second pass over the data.
    *
    * Ids are deduplicated per bucket (collect_set), so repeated input
    * ids can never emit an (x, x) self-pair.
    */
  def lshCandidatePairs(docs: DataFrame, id: String, body: String,
      k: Int = 4, n: Int = 3, bandWidth: Int = 2,
      maxBucket: Int = 1000): DataFrame = {
    val sig = minhashSignatures(docs.select(col(id), col(body)), id, body, k, n)
    val bands = lshBands(sig, id, k, bandWidth)
    bucketPairExpansion(bands, col(id), maxBucket)
      .select(col("p.a").as("id1"), col("p.b").as("id2"))
      .distinct()
  }

  /** Bucket-local ordered-pair expansion shared by the MinHash-LSH and
    * SimHash banding paths: group rows by (band_id, band_key), collect
    * the distinct items (whose sort order must lead with the id), drop
    * buckets above `maxBucket`, and expand each bucket's sorted item
    * list into ordered (a, b) pair structs under column `p`. How many
    * buckets the cap dropped (and the largest bucket seen) is surfaced
    * as an `lsh_buckets_<n>` observation, readable from a
    * `QueryExecutionListener` or `queryExecution.observedMetrics`
    * without a second pass.
    */
  private def bucketPairExpansion(bands: DataFrame, item: Column,
      maxBucket: Int): DataFrame = {
    val items = col("__items")
    val pairStructs = flatten(transform(items, (x, i) =>
      transform(slice(items, i + lit(2), greatest(size(items) - i - 1, lit(0))),
        y => struct(x.as("a"), y.as("b")))))
    bands.groupBy(col("band_id"), col("band_key"))
      .agg(sort_array(collect_set(item)).as("__items"))
      .observe(s"lsh_buckets_${observationSeq.incrementAndGet()}",
        sum(when(size(items) > maxBucket, 1).otherwise(0)).as("dropped_buckets"),
        max(size(items)).as("max_bucket_size"))
      .filter(size(items).between(2, maxBucket))
      .select(explode(pairStructs).as("p"))
  }

  /** End-to-end near-duplicate detection, production shape: MinHash+LSH
    * candidate pruning ([[lshCandidatePairs]] — sub-quadratic), then
    * exact n-gram Jaccard computed ONLY on the surviving candidates.
    * This is the composition the per-piece operators document as "run
    * Jaccard on LSH candidates at scale": the all-pairs stage never
    * exists, and the verification join touches |candidates| pairs, not
    * |docs|².
    *
    * Physical shape: the candidate list (small by LSH's premise) joins
    * the distinct gram stream twice — first on id1 (hash join keyed by
    * doc id), then on (id2, gram) to count intersections — followed by
    * two broadcast-or-shuffle joins against the per-doc gram counts.
    * Every stage is a codegen'd equality join/aggregate.
    */
  def nearDupPairs(docs: DataFrame, id: String, body: String,
      k: Int = 4, n: Int = 3, bandWidth: Int = 2,
      maxBucket: Int = 1000, minJaccard: Double = 0.3): DataFrame = {
    // The candidate pair list is referenced three times below (pair
    // join + two id filters); materialize it once — it is small by
    // LSH's premise, and without the cut the whole signature pipeline
    // would appear once per reference in the plan.
    val cand = lshCandidatePairs(docs, id, body, k, n, bandWidth, maxBucket)
      .localCheckpoint(true)
    val candIds = cand.select(col("id1").as(id))
      .union(cand.select(col("id2"))).distinct()
    // Semi-filter the gram stream to candidate docs BEFORE the
    // intersection joins, and materialize that too: the full-corpus
    // gram stream is then computed exactly once, and the (id, g)
    // shuffles below carry candidate grams only — bounded by the
    // candidate count, not the corpus.
    val candGrams = explodedShingles(docs.select(col(id), col(body)), id, body, n)
      .select(col(id), col("__g").as("g")).distinct()
      .join(candIds, Seq(id), "left_semi")
      .localCheckpoint(true)
    val sizes = candGrams.groupBy(col(id)).agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(candGrams.select(col(id).as("id1"), col("g")), "id1")
      .join(candGrams.select(col(id).as("id2"), col("g")), Seq("id2", "g"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_inter"))
    // Materialize the (verified-pairs) result so the two intermediate
    // buffers above can be freed HERE instead of lingering until the
    // ContextCleaner notices them — the result is smaller than either
    // (candidates that survived the Jaccard cut) and is the caller's to
    // [[release]] when done.
    val result = inter
      .join(sizes.select(col(id).as("id1"), col("sz").as("sz1")), "id1")
      .join(sizes.select(col(id).as("id2"), col("sz").as("sz2")), "id2")
      .select(col("id1"), col("id2"),
        (col("n_inter").cast("double") /
          (col("sz1") + col("sz2") - col("n_inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .localCheckpoint(true)
    release(cand)
    release(candGrams)
    result
  }

  // ---- persisted band index (the dedup rung of the index family) ------
  // One (id, band_id, band_key) row per doc-band, partitioned by
  // `shard = pmod(xxhash64(band_key), nShards)` then `batch`, with the
  // signature geometry and per-batch commits in a `__meta` ledger —
  // the artifact [[incrementalNearDupPairs]] probes when a NEW batch
  // arrives. At corpus scale this is the thing you build once and
  // append to per ingest ([[bandIndexAppend]], O(batch), ledger row =
  // commit point, replace-by-batch retry) — O(docs·bands) rows of
  // 16-byte keys, a few permille of the text it indexes. Same
  // build/append/compact lifecycle and crash contract as the vector
  // ([[Similarity.ivfAppend]]) and text ([[TextIndex.append]]) indexes.

  /** The ledger freezes the SIGNATURE GEOMETRY (k, n, band_width) and
    * the shard modulus: a probe or append hashed with other values
    * would silently produce garbage candidates.
    */
  private def bandIndex(path: String) = IndexCommit.Index("band-index",
    path, "batch STRING, n_bands LONG, n_shards INT, k INT, n INT, " +
      "band_width INT", Seq(path -> "shard=*/"))(
    frozen = Seq("n_shards", "k", "n", "band_width"),
    rebuildWith = Some("bandIndexWrite over the corpus"))

  private def writeBandRows(docs: DataFrame, id: String, body: String,
      k: Int, n: Int, bandWidth: Int, nShards: Int, path: String,
      batch: String, overwrite: Boolean): Long = {
    val obs = org.apache.spark.sql.Observation()
    // The signature stage runs on the scan's own splits: repartitioning
    // a narrow (single-split) input first measured 1.07-1.18x SLOWER on
    // the band-index gates in the order-corrected same-JVM A/B — the
    // extra exchange costs more than the serial map stage it spreads.
    lshBands(minhashSignatures(docs.select(col(id), col(body)), id, body,
        k, n), id, k, bandWidth)
      .withColumn("shard", pmod(xxhash64(col("band_key")), lit(nShards)))
      .withColumn("batch", lit(batch))
      .observe(obs, count(lit(1)).as("n_bands"))
      .repartition(col("shard"))
      // static: a rebuild is a snapshot — the engine's dynamic
      // overwrite default would leave stale shard/batch dirs behind
      .write.mode(if (overwrite) "overwrite" else "append")
      .option("partitionOverwriteMode", "static")
      .partitionBy("shard", "batch").parquet(path)
    obs.get("n_bands").asInstanceOf[Long]
  }

  def bandIndexWrite(docs: DataFrame, id: String, body: String,
      k: Int, n: Int, bandWidth: Int, path: String,
      nShards: Int = 16): Unit = {
    require(nShards >= 1, s"need nShards >= 1, got $nShards")
    require(k % bandWidth == 0, s"bandWidth must divide k ($bandWidth / $k)")
    IndexCommit.build(docs.sparkSession, bandIndex(path)) {
      Seq[Any](writeBandRows(docs, id, body, k, n, bandWidth, nShards, path,
        "build", overwrite = true), nShards, k, n, bandWidth)
    }
  }

  /** Append a document batch's bands into an existing index — the
    * frozen-layout ingest face: signature geometry and shard modulus
    * come from the build's ledger (never parameters — they cannot
    * disagree), new bands land in their keys' shards, and one ledger
    * row COMMITS the batch. Crash/retry contract as everywhere in the
    * index family ([[graft.operators.TextIndex.append]]): retrying a
    * batch that died before its ledger row first deletes the orphan
    * `batch=<id>` dirs (never duplicates a band); a COMMITTED id is
    * rejected loudly (exactly-once per id); probes read only committed
    * batches, so a torn append is invisible.
    */
  def bandIndexAppend(docs: DataFrame, id: String, body: String,
      path: String, batch: String): Unit =
    IndexCommit.append(docs.sparkSession, bandIndex(path), batch) { m =>
      Seq[Any](writeBandRows(docs, id, body, m("k"), m("n"), m("band_width"),
        m("n_shards"), path, batch, overwrite = false),
        m("n_shards"), m("k"), m("n"), m("band_width"))
    }

  /** Tombstone-delete doc ids from a band index — the erasure face of
    * the dedup-candidate artifact ([[graft.operators.TextIndex.delete]]'s
    * protocol, [[IndexCommit.delete]]): erased documents
    * must stop surfacing as near-dup candidates the moment the delete
    * commits. Ids land batch-partitioned in a `__tombstones` sidecar;
    * the `del:<batch>` ledger row is the COMMIT POINT (geometry
    * columns repeated so the ledger's consistency check holds;
    * `n_bands` is 0 — nothing sums it). Probes anti-join committed
    * tombstones; [[bandIndexCompact]] removes the bytes and clears
    * the sidecar. O(|ids|): the index is never read or rewritten. An
    * erased id stays erased even if re-appended before the next
    * compact (retired-identity contract, as [[Similarity.ivfDelete]]).
    */
  def bandIndexDelete(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, batch: String): Unit =
    IndexCommit.delete(spark, bandIndex(path), batch) { m =>
      (ids.select(col(ids.columns.head).as("__id")).distinct(),
        Seq[Any](0L, m("n_shards"), m("k"), m("n"), m("band_width")))
    }

  /** Compact an append-heavy band index: fold COMMITTED batches into
    * one file per shard under `batch=build`, dropping orphan bands
    * from crashed appends (compaction is the garbage collector — a
    * dropped batch id can be retried afterwards) and physically
    * removing TOMBSTONED docs' bands (the sidecar is then deleted;
    * the del: ledger rows stay as exactly-once history). The ledger is
    * untouched: probes derive nothing from it beyond the committed
    * set and geometry, both preserved, and keeping the rows preserves
    * the exactly-once guard. Probe results identical afterwards.
    */
  def bandIndexCompact(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    IndexCommit.compact(spark, bandIndex(path), "shard")

  /** Incremental near-dup detection — the daily-ingest posture: find
    * incoming docs that near-duplicate the EXISTING corpus without
    * recomputing anything corpus-scale. The incoming batch's bands
    * probe the persisted [[bandIndexWrite]] index by equality join;
    * exact Jaccard verifies only the surviving (new, old) candidates,
    * reading old text via a semi join on candidate ids — the corpus
    * scan is filtered to candidates before any gram explodes, so the
    * per-ingest cost is O(batch) + O(candidates), never O(corpus).
    *
    * Hot-key guard on the INDEX side: band keys held by more than
    * `maxBucket` existing docs are dropped (same boilerplate-bucket
    * rationale as [[lshCandidatePairs]] — at that population the
    * matches are quadratic noise). Within-batch duplicates are
    * [[nearDupPairs]] on the batch alone; the two compose into a full
    * ingest pipeline. Ids must be unique across corpus ∪ batch — an
    * incoming id that collides with an existing id would silently
    * verify against the wrong document.
    *
    * Returns (new_id, old_id, jaccard) with jaccard ≥ `minJaccard`.
    */
  def incrementalNearDupPairs(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, corpus: DataFrame, incoming: DataFrame,
      id: String, body: String, k: Int = 4, n: Int = 3, bandWidth: Int = 2,
      maxBucket: Int = 1000, minJaccard: Double = 0.3): DataFrame = {
    // The ledger freezes the signature geometry: a probe hashed with
    // different (k, n, bandWidth) than the build would silently
    // produce garbage candidates, so a mismatch is a loud error, and
    // only LEDGER-COMMITTED batches are probed (a torn append is
    // invisible — the index-family commit contract).
    val ix = bandIndex(indexPath)
    val meta = IndexCommit.readLedger(spark, ix)
    require(meta("k") == k && meta("n") == n && meta("band_width") == bandWidth,
      s"probe geometry (k=$k, n=$n, bandWidth=$bandWidth) disagrees with " +
        s"the index ledger (k=${meta("k")}, n=${meta("n")}, " +
        s"bandWidth=${meta("band_width")}) at ${ix.ledger}")
    val newBands = lshBands(
      minhashSignatures(incoming.select(col(id), col(body)), id, body, k, n),
      id, k, bandWidth)
    // Tombstoned docs must not surface as candidates (the erasure
    // contract): anti-join committed tombstones before probing.
    val idx = IndexCommit.minusTombstones(
        IndexCommit.committedRows(spark, indexPath, meta.committed), id,
        IndexCommit.tombstones(spark, ix, meta.committed))
      .select(col(id), col("band_id"), col("band_key"))
    // The guard counts EXISTING docs per key (the index is the side
    // that can have accreted a boilerplate bucket over many ingests);
    // an aggregate + semi join, not a window — the index never sorts.
    val okKeys = idx.groupBy("band_id", "band_key")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket)
      .select("band_id", "band_key")
    val cand = newBands
      .join(okKeys, Seq("band_id", "band_key"), "left_semi")
      .join(idx.select(col(id).as("__old"), col("band_id"), col("band_key")),
        Seq("band_id", "band_key"))
      .select(col(id).as("new_id"), col("__old").as("old_id"))
      .distinct()
      .localCheckpoint(true)
    // Gram streams are semi-filtered to candidate ids BEFORE exploding:
    // the corpus read prunes to (id, body) and the broadcast-able
    // candidate id set cuts it to the handful of probed docs.
    def candGrams(src: DataFrame, ids: DataFrame): DataFrame =
      explodedShingles(src.select(col(id), col(body)), id, body, n)
        .select(col(id), col("__g").as("g")).distinct()
        .join(ids, Seq(id), "left_semi")
        .localCheckpoint(true)
    val gNew = candGrams(incoming, cand.select(col("new_id").as(id)).distinct())
    val gOld = candGrams(corpus, cand.select(col("old_id").as(id)).distinct())
    def sizes(g: DataFrame) = g.groupBy(col(id)).agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(gNew.select(col(id).as("new_id"), col("g")), "new_id")
      .join(gOld.select(col(id).as("old_id"), col("g")), Seq("old_id", "g"))
      .groupBy("new_id", "old_id").agg(count(lit(1)).as("n_inter"))
    val result = inter
      .join(sizes(gNew).select(col(id).as("new_id"), col("sz").as("sz1")), "new_id")
      .join(sizes(gOld).select(col(id).as("old_id"), col("sz").as("sz2")), "old_id")
      .select(col("new_id"), col("old_id"),
        (col("n_inter").cast("double") /
          (col("sz1") + col("sz2") - col("n_inter")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .localCheckpoint(true)
    release(cand); release(gNew); release(gOld)
    result
  }

  /** Benchmark decontamination: drop training docs whose normalized
    * fingerprint collides with any document in `benchmark` — the
    * standard eval-set overlap removal. An anti join on the 16-byte
    * digest: the benchmark side is tiny relative to the corpus, so the
    * plan is a broadcast anti join — the 100 TB training scan never
    * shuffles. Normalization (lowercase, strip punctuation, collapse
    * whitespace) catches reformatted copies, not just byte-identical
    * ones; compose with [[nearDupPairs]] upstream for fuzzy overlap.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame,
      body: String): DataFrame = {
    import graft.functions.TextFunctions.normalizeText
    val fp = md5(normalizeText(col(body)))
    docs.withColumn("__fp", fp)
      .join(broadcast(benchmark.select(fp.as("__fp")).distinct()),
        Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** GRADED decontamination: per-document n-gram overlap fraction
    * against a benchmark corpus — [[decontaminate]] drops only
    * (normalized) verbatim copies, but eval leakage is usually PARTIAL
    * (a quoted question, a pasted paragraph), which is why production
    * decontamination reports n-gram overlap and thresholds it. Returns
    * one row per corpus document that has at least one n-gram:
    * (idCol, n_grams, n_hit, overlap) where overlap = fraction of the
    * doc's DISTINCT n-grams present anywhere in the benchmark.
    *
    * Scale: both sides collapse to distinct grams (map-side
    * array_distinct per doc, then a distinct on the tiny benchmark
    * side); the only corpus-scale exchange is the equality join keyed
    * on the gram string, and the benchmark gram set is small enough
    * that AQE broadcasts it — the same posture as [[decontaminate]]'s
    * anti join, with a count instead of a drop.
    */
  def ngramOverlap(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      body: String, n: Int): DataFrame = {
    require(!Seq("n_grams", "n_hit", "overlap").contains(idCol),
      "idCol collides with an output column name; rename it first")
    def distinctGrams(c: Column) = array_distinct(
      call_function("word_shingles", words(c), lit(n)))
    val grams = corpus.select(col(idCol),
      explode(distinctGrams(col(body))).as("__g"))
    val bgrams = benchmark
      .select(explode(distinctGrams(col(body))).as("__g"))
      .distinct()
      .withColumn("__hit", lit(1))
    // The benchmark gram set is small by the same contract as
    // decontaminate's anti join — broadcast it so the corpus-scale
    // gram stream never shuffles on its way into the hit join.
    grams.join(broadcast(bgrams), Seq("__g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"))
      .withColumn("overlap",
        round(col("n_hit").cast("double") / col("n_grams").cast("double"), 9))
  }

  /** Connected components over an undirected pair list (id1, id2):
    * returns one row per node with its component id = the minimum node
    * id reachable from it. This is the corpus-level dedup closer — near
    * -dup PAIRS become near-dup GROUPS, and `min(id)` per group is the
    * canonical document to keep.
    *
    * Algorithm: iterative min-label propagation driven from the driver
    * — each round joins labels to the (bidirectional) edge list, takes
    * the min neighbor label, and `localCheckpoint`s the result to cut
    * the growing lineage (the idiomatic Spark iterative pattern; the
    * checkpoint here is a transient iteration buffer, not live table
    * state). Rounds needed = graph diameter; near-dup clusters are
    * dense and shallow (diameter 2-3 typical), so `maxIter` defaults
    * comfortably above that and the loop exits early on convergence —
    * counted by an Observation on each round's checkpoint job.
    * For planet-scale graphs swap in the alternating large-star/
    * small-star formulation; the contract (node → min reachable id)
    * stays the same.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // Convergence detection rides the round's checkpoint job itself
    // (an Observation on the materialization — Dataset.checkpoint runs
    // through withAction, so query-level metrics fire) instead of a
    // separate join-probe job per round: one job per CC round, not two.
    // Materialize the edge list once: it is referenced by every
    // iteration's join, and its lineage is the
    // caller's whole candidate-generation pipeline — without the cut,
    // that pipeline would re-execute per action per round.
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .union(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("node").as("src"), col("label")), "src")
        .groupBy(col("dst").as("node")).agg(min(col("label")).as("nbr"))
      // `__old` (this round's input label) rides along so the
      // checkpoint job can count changed rows. Every node appears
      // exactly once (left join from `labels`), so "any row with
      // label <> __old" is exactly "any node whose label changed".
      val propagated = labels.alias("l")
        .join(nbrMin.alias("p"), Seq("node"), "left")
        .select(col("node"),
          least(col("l.label"), coalesce(col("p.nbr"), col("l.label"))).as("label"),
          col("l.label").as("__old"))
      // Pointer jumping: follow label → label(label) once per round
      // (min-propagation keeps the invariant label(x) <= x, so the hop
      // only ever improves). One-hop propagation alone needs diameter
      // rounds; with the compression step convergence is O(log d).
      // The hop reads the PREVIOUS round's (checkpointed) label map, so
      // the un-materialized `propagated` plan is referenced exactly
      // once — a self-join would execute the edge join twice per round.
      val jumped = propagated.alias("a")
        .join(labels
            .select(col("node").as("label"), col("label").as("ll")).alias("b"),
          Seq("label"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label"),
          col("__old"))
      val obs = org.apache.spark.sql.Observation()
      val updated = jumped
        .observe(obs, coalesce(sum(when(col("label") =!= col("__old"), 1L)
          .otherwise(0L)), lit(0L)).as("n_changed"))
        .select("node", "label")
        .localCheckpoint(true)
      converged = obs.get("n_changed").asInstanceOf[Long] == 0L
      // The previous round's label buffer has served its last reader
      // (the pointer-jump hop above) — free it now rather than banking
      // one leaked buffer per iteration on the ContextCleaner.
      release(labels)
      labels = updated
      i += 1
    }
    release(edges)
    labels.select(col("node"), col("label").as("component"))
  }

  /** Per-row 16-bit SimHash over whitespace words, as a '0'/'1' bitstring.
    * Bit j is the sign of the term-frequency-weighted sum of md5(word)'s
    * j-th nibble high bit. Interpreted HOF fold — kept ONLY as the
    * independent differential formulation [[simhashSignatures]] (the
    * codegen production path) is spec-verified against; not for use in
    * query paths.
    */
  private[graft] def simhash16(body: Column): Column = {
    val w = words(body)
    val highHex = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val bits = (0 until 16).map { j =>
      val contrib = aggregate(
        transform(w, x =>
          when(substring(md5(x), j + 1, 1).isin(highHex: _*), 1).otherwise(-1)),
        lit(0), (acc, v) => acc + v)
      when(contrib > 0, "1").otherwise("0")
    }
    concat(bits: _*)
  }

  /** SimHash signatures per id via the native per-row expression
    * ([[graft.functions.expressions.SimHashBits]], registered as
    * `simhash`): ZERO shuffle — the aggregate formulation
    * ([[simhashSignaturesAgg]], kept as the spec differential) pays one
    * full word-stream exchange plus 16 conditional sums per word.
    * Null-text docs are filtered exactly as the exploded formulation
    * drops them (no words, no group). Semantics identical to
    * [[simhash16]] (term frequency weighted).
    */
  def simhashSignatures(docs: DataFrame, id: String, body: String): DataFrame =
    docs.where(col(body).isNotNull)
      .select(col(id),
        call_function("simhash", words(col(body)), lit(16)).as("simhash"))

  /** The explode/groupBy restatement of [[simhashSignatures]] — one
    * word shuffle keyed by id, 16 conditional sums, sign → bitstring.
    * Differential formulation only (DedupSpec pins native ≡ agg);
    * not for query paths.
    */
  private[graft] def simhashSignaturesAgg(docs: DataFrame, id: String,
      body: String): DataFrame = {
    val highHex = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val w = docs.select(col(id), explode(words(col(body))).as("__w"))
    val h = md5(col("__w"))
    val bitSums = (0 until 16).map { j =>
      sum(when(substring(h, j + 1, 1).isin(highHex: _*), 1).otherwise(-1)).as(s"__b$j")
    }
    w.groupBy(col(id)).agg(bitSums.head, bitSums.tail: _*)
      .select(col(id), concat((0 until 16).map(j =>
        when(col(s"__b$j") > 0, "1").otherwise("0")): _*).as("simhash"))
  }

  /** Hex digits whose nibble has bit `b` set (b = 0 is the LSB) — how a
    * hex digest is read as a bit vector with string functions only, so
    * the construction restates identically in any SQL engine.
    */
  private def hexWithBit(b: Int): Seq[String] =
    (0 until 16).filter(n => (n >> b & 1) == 1).map(Integer.toHexString)

  /** 64-bit SimHash signatures per id — the production-grade signature
    * width. Signature bit j (0-based, MSB-first within each nibble)
    * weighs bit 3-(j%4) of md5(word)'s nibble j/4+1, so the full first
    * 64 bits of the digest are used (the 16-bit variant reads only each
    * nibble's high bit, and bits j ≡ 0 (mod 4) here reproduce it
    * exactly). Native per-row expression, zero shuffle — see
    * [[simhashSignatures]]; the aggregate restatement is
    * [[simhashSignatures64Agg]].
    */
  def simhashSignatures64(docs: DataFrame, id: String, body: String): DataFrame =
    docs.where(col(body).isNotNull)
      .select(col(id),
        call_function("simhash", words(col(body)), lit(64)).as("simhash64"))

  /** The explode/groupBy restatement of [[simhashSignatures64]]: one
    * word shuffle keyed by id, 64 conditional sums, sign → bitstring.
    * Differential formulation only (DedupSpec pins native ≡ agg);
    * not for query paths.
    */
  private[graft] def simhashSignatures64Agg(docs: DataFrame, id: String,
      body: String): DataFrame = {
    val w = docs.select(col(id), explode(words(col(body))).as("__w"))
    val h = md5(col("__w"))
    val bitSums = (0 until 64).map { j =>
      sum(when(substring(h, j / 4 + 1, 1).isin(hexWithBit(3 - j % 4): _*), 1)
        .otherwise(-1)).as(s"__b$j")
    }
    w.groupBy(col(id)).agg(bitSums.head, bitSums.tail: _*)
      .select(col(id), concat((0 until 64).map(j =>
        when(col(s"__b$j") > 0, "1").otherwise("0")): _*).as("simhash64"))
  }

  /** 64-bit SimHash near-duplicate pairs with Hamming <= maxHamming
    * (< 4): 4 bands of 16 bits — by pigeonhole, a pair within Hamming 3
    * of 64 bits agrees exactly on at least one 16-bit band, so recall
    * is total while a band collision between UNRELATED docs needs 16
    * specific bit agreements (~2^-16 per band for independent
    * signatures) — this is the width where banding prunes sharply and
    * the near-dup family becomes production-grade; the 16-bit variant
    * ([[simhashNearDupPairs]]) stays as the verification tier.
    * `maxBucket` defaults OFF to keep the recall guarantee total — see
    * the trade-off note on [[simhashNearDupPairs]].
    */
  def simhashNearDupPairs64(docs: DataFrame, id: String, body: String,
      maxHamming: Int, maxBucket: Int = Int.MaxValue): DataFrame =
    bandedHammingPairs(simhashSignatures64(docs, id, body), id, "simhash64",
      nBits = 64, nBands = 4, maxHamming = maxHamming, maxBucket = maxBucket)

  /** Banded Hamming-neighbor pairs over a '0'/'1' bitstring signature
    * column: split the `nBits` signature into `nBands` equal bands —
    * by pigeonhole, any pair within Hamming distance `nBands - 1` must
    * agree exactly on at least one band — so candidates come from
    * band-key equality self-joins (union'd via posexplode), never an
    * all-pairs scan, and the exact Hamming distance then filters the
    * candidates. Shared engine of [[simhashNearDupPairs]] (16-bit) and
    * [[simhashNearDupPairs64]] (64-bit).
    */
  private def bandedHammingPairs(sig: DataFrame, id: String, sigCol: String,
      nBits: Int, nBands: Int, maxHamming: Int, maxBucket: Int): DataFrame = {
    require(maxHamming < nBands,
      s"$nBands bands guarantee recall only for Hamming <= ${nBands - 1}")
    val width = nBits / nBands
    // Two cost choices that each measured ~5-10x on this path at sf0.1:
    //  - the bitstring is parsed into <= 32-bit machine words ONCE PER
    //    SIGNATURE ROW, so the per-pair Hamming distance is xor +
    //    popcount per word — not per-character substring comparisons,
    //    which Catalyst pushes into the join condition and pays per
    //    candidate pair;
    //  - candidates expand bucket-locally from a (band, key) groupBy
    //    ([[bucketPairExpansion]], shared with [[lshCandidatePairs]])
    //    instead of a band self-join, whose two inputs would each
    //    compute the whole signature pipeline.
    val nWords = (nBits + 31) / 32
    val words = (0 until nWords).map { w =>
      conv(substring(col(sigCol), w * 32 + 1, math.min(32, nBits - w * 32)), 2, 10)
        .cast("long").as(s"__w$w")
    }
    val bands = sig.select(col(id) +: col(sigCol) +: words: _*)
      .select(
        struct(col(id).as("id") +: (0 until nWords).map(w => col(s"__w$w")): _*).as("__item"),
        posexplode(array((0 until nBands).map(b =>
          substring(col(sigCol), b * width + 1, width)): _*)).as(Seq("band_id", "band_key")))
    val hamming = (0 until nWords).map(w =>
      bit_count(col(s"__a$w").bitwiseXOR(col(s"__b$w")))).reduce(_ + _)
    bucketPairExpansion(bands, col("__item"), maxBucket)
      .select(col("p.a.id").as("id1") +: col("p.b.id").as("id2") +:
        ((0 until nWords).map(w => col(s"p.a.__w$w").as(s"__a$w")) ++
          (0 until nWords).map(w => col(s"p.b.__w$w").as(s"__b$w"))): _*)
      .distinct()
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** SimHash near-duplicate pairs with Hamming distance <= maxHamming
    * (< 4): the 16-bit signature splits into 4 nibble bands. This is
    * the verification-tier variant — on a self-similar corpus a 16-bit
    * signature leaves too many pairs within Hamming 3 for banding to
    * prune; production corpora want [[simhashNearDupPairs64]].
    *
    * `maxBucket` is OFF by default for both SimHash widths, unlike
    * [[lshCandidatePairs]]: the pigeonhole recall guarantee holds only
    * uncapped (a mega-cluster of identical docs overflows all four of
    * its bands at once, so a cap silently drops even Hamming-0 pairs —
    * and at 16 bits a band has only 2^4 possible keys, so beyond ~16k
    * docs EVERY bucket would overflow a finite cap). If a pathological
    * corpus needs the guard, collapse exact duplicates first
    * ([[exactGroups]]) and run SimHash on the canonical docs, or pass a
    * finite cap accepting the recall loss (surfaced by the
    * `lsh_buckets_<n>` dropped-bucket observation).
    */
  def simhashNearDupPairs(docs: DataFrame, id: String, body: String,
      maxHamming: Int, maxBucket: Int = Int.MaxValue): DataFrame =
    bandedHammingPairs(simhashSignatures(docs, id, body), id, "simhash",
      nBits = 16, nBands = 4, maxHamming = maxHamming, maxBucket = maxBucket)

  /** Embedding-cosine near-duplicate pairs: candidate pairs share a
    * sign-LSH bucket ([[Similarity.signBucket]] — the quadratic all-pairs
    * problem becomes per-bucket), then exact cosine with decimal-exact
    * accumulation filters at `threshold` (applied to the 1e-9-rounded
    * value so the cut is engine-portable). All joins/aggregates are
    * codegen'd equality operations — no per-row lambdas.
    */
  def embeddingNearDupPairs(vecs: DataFrame, id: String, vecCol: String,
      bucketPairs: Seq[(Int, Int)], threshold: Double): DataFrame = {
    // Exact decimal dot product via the native `dot_exact` expression
    // ([[graft.functions.expressions.DotProductExact]]): each
    // float*float product is exact in double, rounded to DECIMAL(38,18)
    // (same rule as the oracle's cast), then summed exactly —
    // order-independent, so the 1e-9-rounded cosine is engine- and
    // shuffle-order-portable — and, unlike the interpreted zip_with/
    // aggregate fold ([[dotExactHof]], kept as the spec differential),
    // it runs inside whole-stage codegen. Whole arrays ride through the
    // joins: no posexplode, no per-pair groupBy — candidates shuffle as
    // (id1, id2, vec1, vec2) rows, i.e. O(pairs) not O(pairs * dim) as
    // the exploded formulation would.
    def dotExact(a: Column, b: Column): Column = call_function("dot_exact", a, b)
    val b = Similarity.signLshBuckets(vecs.select(col(id), col(vecCol)),
        vecCol, bucketPairs)
      .select(col(id), col("bucket"), col(vecCol).as("__v"),
        dotExact(col(vecCol), col(vecCol)).as("__nn"))
    val cand = b.alias("a").join(b.alias("c"),
        col("a.bucket") === col("c.bucket") && col(s"a.$id") < col(s"c.$id"))
      .select(col(s"a.$id").as("id1"), col(s"c.$id").as("id2"),
        col("a.__v").as("v1"), col("c.__v").as("v2"),
        col("a.__nn").as("n1"), col("c.__nn").as("n2"))
    cand
      .select(col("id1"), col("id2"),
        round(dotExact(col("v1"), col("v2")) /
          (sqrt(col("n1")) * sqrt(col("n2"))), 9).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings coarsely, then prune
    * near-duplicates WITHIN clusters only — the recipe that makes
    * semantic dedup tractable at corpus scale because the quadratic
    * pair stage runs per cluster (Σ|cluster|², never n²; cluster count
    * is the cost knob, grown with the corpus).
    *
    * Deterministic formulation, oracle-portable end to end:
    *  1. clusters = sign-LSH buckets over `bucketPairs` (the same
    *     per-row, zero-shuffle coarse quantizer the ANN family uses;
    *     a learned k-means assignment drops in unchanged);
    *  2. per-cluster centroid = decimal-exact per-dimension mean on
    *     the 1e-9 grid, carried as FLOAT (bit-identical across
    *     engines);
    *  3. every member scores `sim_centroid` = 1e-9-rounded decimal
    *     cosine to its centroid; keep-priority within a cluster is
    *     LOWEST sim first (SemDeDup keeps the member least like the
    *     centroid — the most informative representative), id
    *     tiebreak;
    *  4. near-dup pairs = within-cluster pairs with rounded cosine
    *     ≥ `eps`; every pair drops its lower-priority member (the
    *     one-pass dominance rule: a member survives iff NO
    *     higher-priority near-duplicate exists in its cluster —
    *     order-free, so it needs no sequential greedy scan).
    *
    * Zero-norm / null vectors carry no direction and are excluded up
    * front (both engines identically). Returns the SURVIVORS:
    * (id, cluster, sim_centroid).
    *
    * `maxCluster` caps the quadratic within-cluster pair stage:
    * clusters above it skip pair generation (members kept verbatim)
    * and the hit is surfaced via an observed metric — see the guard
    * comment inline.
    */
  def semDedup(vecs: DataFrame, id: String, vecCol: String,
      bucketPairs: Seq[(Int, Int)], eps: Double,
      maxCluster: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
    val D = DecimalType(38, 18)
    def dotExact(a: Column, b: Column): Column = call_function("dot_exact", a, b)
    val b = Similarity.signLshBuckets(vecs.select(col(id), col(vecCol)),
        vecCol, bucketPairs)
      .select(col(id), col("bucket"), col(vecCol).as("__v"),
        dotExact(col(vecCol), col(vecCol)).as("__nn"))
      .filter(col("__nn") > 0)
    val cent = b
      .select(col("bucket"), posexplode(col("__v")).as(Seq("pos", "vf")))
      .select(col("bucket"), col("pos"), col("vf").cast(DoubleType).as("v"))
      .groupBy("bucket", "pos")
      .agg(round(sum(col("v").cast(D)).cast(DoubleType) /
        count(lit(1)).cast(DoubleType), 9).cast(FloatType).as("c"))
      .groupBy("bucket")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("__p"))
      .select(col("bucket"),
        transform(col("__p"), p => p.getField("c")).as("__cent"))
    // Centroids are one row per cluster — broadcast, no shuffle of the
    // member table. A zero-norm centroid (all dims average to exactly 0
    // on the grid) yields a null sim; NULLS FIRST keeps the rule total.
    val withSim = b.join(broadcast(
        cent.withColumn("__cnn", dotExact(col("__cent"), col("__cent")))),
        "bucket")
      .withColumn("sim_centroid",
        when(col("__cnn") > 0,
          round(dotExact(col("__v"), col("__cent")) /
            (sqrt(col("__nn")) * sqrt(col("__cnn"))), 9)))
    // Materialized once: `ranked` feeds the pair self-join TWICE and the
    // survivor anti-join — without the checkpoint the scan + centroid
    // aggregate + window sort would run three times (verified in the
    // q114 physical plan). One row per vector, same footprint class as
    // the q64 vocab checkpoint.
    val ranked = withSim.withColumn("__rk", row_number().over(
      Window.partitionBy(col("bucket"))
        .orderBy(col("sim_centroid").asc_nulls_first, col(id).asc)))
      .localCheckpoint(true)
    // Hot-cluster guard (same posture as lshCandidatePairs' maxBucket):
    // the pair stage below is Σ|cluster|² — a degenerate clustering
    // (one bucket swallowing the corpus) would go quadratic silently.
    // Clusters above `maxCluster` SKIP pair generation entirely: their
    // members are kept verbatim (a guard must never delete data through
    // an unverified path), and the event is surfaced as a
    // `semdedup_clusters_<n>` observation (hot_clusters,
    // max_cluster_size) readable from queryExecution.observedMetrics.
    // The size table is one row per cluster — broadcast, no member
    // shuffle.
    val csz = ranked.groupBy(col("bucket"))
      .agg(count(lit(1)).as("__csz"))
      .observe(s"semdedup_clusters_${observationSeq.incrementAndGet()}",
        sum(when(col("__csz") > maxCluster, 1).otherwise(0)).as("hot_clusters"),
        max(col("__csz")).as("max_cluster_size"))
    val pairable = ranked.join(
      broadcast(csz.filter(col("__csz") <= maxCluster).select(col("bucket"))),
      "bucket")
    val nearDup = pairable.alias("a").join(pairable.alias("c"),
        col("a.bucket") === col("c.bucket") && col(s"a.$id") < col(s"c.$id"))
      .select(col(s"a.$id").as("id1"), col(s"c.$id").as("id2"),
        col("a.__rk").as("rk1"), col("c.__rk").as("rk2"),
        round(dotExact(col("a.__v"), col("c.__v")) /
          (sqrt(col("a.__nn")) * sqrt(col("c.__nn"))), 9).as("cosine"))
      .filter(col("cosine") >= eps)
    val dropped = nearDup.select(
      when(col("rk1") < col("rk2"), col("id2")).otherwise(col("id1")).as(id))
      .distinct()
    ranked.join(dropped, Seq(id), "left_anti")
      .select(col(id), col("bucket").as("cluster"), col("sim_centroid"))
  }

  /** Quality-aware survivor selection over near-dup components — the
    * RefinedWeb keep rule: each duplicate cluster keeps its BEST
    * member (highest `quality`, id tiebreak), not the lowest id;
    * min-id keeping silently biases a corpus toward whatever arrived
    * first. `components` is [[connectedComponents]] output
    * (node, component); docs in no component survive untouched.
    * One broadcast-or-shuffle join + a bounded-heap top-1 per
    * component — no collect, no window over the full corpus (the
    * per-component cut runs only on clustered docs).
    */
  def keepBestPerComponent(docs: DataFrame, id: String, quality: Column,
      components: DataFrame): DataFrame = {
    require(!docs.columns.contains("component"),
      "docs already has a 'component' column; rename it first")
    val labeled = docs.join(
      components.withColumnRenamed("node", id), Seq(id), "left")
    val winners = graft.functions.ColumnLib.latestWins(
      labeled.filter(col("component").isNotNull),
      Seq("component"), Seq(quality.desc, col(id).asc))
    labeled.filter(col("component").isNull)
      .unionByName(winners)
      .drop("component")
  }

  /** Winnowing document fingerprints (Schleimer et al. 2003, the MOSS
    * algorithm) — the alignment-robust form of exact-substring
    * duplicate detection: hash every char `k`-gram, then from every
    * window of `w` consecutive gram hashes keep the minimum. The
    * guarantee: two documents sharing ANY substring of length
    * ≥ w + k − 1 select at least one IDENTICAL fingerprint, no matter
    * how the copies are aligned — which a strided gram sample cannot
    * promise (its grids shift independently per document).
    *
    * Per-row, zero-shuffle: grams, windows, and min-selection are one
    * HOF chain inside the row; only the (id, fp) stream leaves the
    * mapper. Returns DISTINCT (id, fp) pairs; downstream joins (df
    * counts, pair candidates, decontamination) shuffle fingerprints —
    * 16-byte digests, never text. Documents shorter than w + k − 1
    * chars emit nothing.
    */
  def winnowingFingerprints(docs: DataFrame, id: String, body: String,
      k: Int = 20, w: Int = 8): DataFrame =
    // Native per-row winnow ([[graft.functions.expressions.WinnowFingerprints]]):
    // one gram-hash pass + monotonic-deque sliding min inside
    // whole-stage codegen. The HOF restatement below stays as the spec
    // differential (DedupSpec pins native ≡ HOF).
    docs.where(col(body).isNotNull && length(col(body)) >= k + w - 1)
      .select(col(id),
        explode(call_function("winnow_fp", col(body), lit(k), lit(w)))
          .as("fp"))

  /** Edit-distance verification rung: score candidate pairs with
    * EXACT (bounded) Levenshtein similarity — the final, most precise
    * verifier of the dedup ladder (bands propose, Jaccard/SimHash
    * estimate, edit distance decides). Never run all-pairs: callers
    * feed band/LSH candidates, so the quadratic per-pair cost touches
    * only proposed pairs.
    *
    * `maxChars` caps the per-pair O(len²) DP on a prefix (the standard
    * bounded-verify trade; similarity is then over the prefixes —
    * stated, not hidden). Similarity = 1 − lev/max(len_a, len_b) on
    * the capped texts, rounded to the 1e-9 grid; pairs below `minSim`
    * are dropped. Built-in `levenshtein` on both engines: codegen'd
    * here, identical semantics in the oracle.
    */
  def editVerifiedPairs(docs: DataFrame, id: String, body: String,
      candidates: DataFrame, maxChars: Int = 500,
      minSim: Double = 0.5): DataFrame = {
    require(maxChars >= 1, s"maxChars must be positive, got $maxChars")
    val t = docs.select(col(id),
      substring(col(body), 1, maxChars).as("__t"))
    val a = t.select(col(id).as("id1"), col("__t").as("__ta"))
    val b = t.select(col(id).as("id2"), col("__t").as("__tb"))
    candidates.select("id1", "id2").join(a, "id1").join(b, "id2")
      .select(col("id1"), col("id2"),
        levenshtein(col("__ta"), col("__tb")).cast("long").as("lev"),
        round(lit(1.0) - levenshtein(col("__ta"), col("__tb")).cast("double") /
          greatest(length(col("__ta")), length(col("__tb"))).cast("double"),
          9).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** The interpreted HOF restatement of [[winnowingFingerprints]] —
    * O(n·w) window re-scans; differential formulation only.
    */
  private[graft] def winnowingFingerprintsHof(docs: DataFrame, id: String,
      body: String, k: Int = 20, w: Int = 8): DataFrame = {
    require(k >= 2 && w >= 2, s"winnowing needs k >= 2 and w >= 2, got k=$k w=$w")
    val grams = transform(
      sequence(lit(1), length(col(body)) - lit(k - 1)),
      i => md5(col(body).substr(i, lit(k))))
    val mins = transform(
      sequence(lit(1), size(col("__g")) - lit(w - 1)),
      j => array_min(slice(col("__g"), j, lit(w))))
    docs.where(col(body).isNotNull && length(col(body)) >= k + w - 1)
      .select(col(id), grams.as("__g"))
      .select(col(id), explode(array_distinct(mins)).as("fp"))
  }

  /** Per-document substring-sharing profile over winnowing
    * fingerprints: how many fingerprints each doc selected and how
    * many of them appear in at least one OTHER document — the triage
    * number behind "this doc is X% copied text". One fingerprint
    * shuffle for the document-frequency count, one broadcast-friendly
    * join back.
    */
  def winnowingShareStats(docs: DataFrame, id: String, body: String,
      k: Int = 20, w: Int = 8): DataFrame = {
    val fps = winnowingFingerprints(docs, id, body, k, w)
    val df = fps.groupBy("fp").agg(count(lit(1)).as("__df"))
    fps.join(df, "fp")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col(id), col("n_fp"), col("n_shared"),
        floor(col("n_shared") * lit(1000000L) / col("n_fp")).cast("long")
          .as("shared_micro"))
  }

  /** Position-aware winnowing fingerprints: (id, fp, pos) — `pos` the
    * 1-based char index where the selected `k`-gram starts. The
    * positions are what span REMOVAL needs; the fp-only face
    * ([[winnowingFingerprints]]) stays the profiling shape. Same
    * per-row zero-shuffle posture (native codegen expression).
    */
  def winnowingFingerprintPositions(docs: DataFrame, id: String, body: String,
      k: Int = 20, w: Int = 8): DataFrame =
    docs.where(col(body).isNotNull && length(col(body)) >= k + w - 1)
      .select(col(id),
        explode(call_function("winnow_fp_pos", col(body), lit(k), lit(w)))
          .as("__h"))
      .select(col(id), col("__h.fp").as("fp"), col("__h.pos").as("pos"))

  /** Substring-span REMOVAL — the RefinedWeb/CCNet rewrite step that
    * [[winnowingShareStats]] only detects: excise from each document
    * the spans whose winnowing fingerprints also appear in a
    * HIGHER-PRIORITY document (lowest id keeps; the canonical
    * provenance rule), and re-emit the cleaned text with removal
    * stats.
    *
    * Mechanics, all set-oriented (no per-doc driver loop):
    *  1. fingerprint positions per doc ([[winnowingFingerprintPositions]],
    *     map-side);
    *  2. fingerprint OWNER = min(id) over docs selecting it — one
    *     fingerprint-keyed aggregate (16-byte digests shuffle, never
    *     text);
    *  3. a doc's hit ranges = [pos, pos+k−1] for positions whose fp is
    *     owned by a smaller id — every such range is EXACT duplicated
    *     text (an identical k-gram in the owner);
    *  4. ranges merge into spans while the gap between them is
    *     ≤ `maxGap` chars (gaps-and-islands: one window pass per doc;
    *     default w+k = winnowing's selection-distance bound, so hits
    *     from ONE shared substring always fuse into one span);
    *  5. rewrite = concat of the inter-span segments — a single
    *     `aggregate` HOF over the doc's sorted span array (bounded by
    *     len/k spans), zero extra shuffle beyond the span collect.
    *
    * Approximation contract (inherent to fingerprint sampling, NOT a
    * bug): up to w−1 chars of duplicated text can survive at each span
    * edge (the selection guarantee starts one window in), and a
    * ≤ `maxGap` sliver of unique text BETWEEN two duplicated ranges is
    * excised with them. DedupSpec pins both bounds on a planted copy.
    *
    * Returns (id, text_clean, n_spans, removed_chars, orig_chars).
    * Null/short texts pass through unchanged with zero stats.
    */
  def removeDuplicatedSpans(docs: DataFrame, id: String, body: String,
      k: Int = 20, w: Int = 8, maxGap: Int = 28): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // fps feeds TWO consumers (the owner aggregate and the range
    // probe); materialized once so the winnow pass runs once, not
    // twice — the nearDupPairs/candGrams discipline. Rows are (id,
    // 16-byte digest, int): far smaller than the text they summarize.
    val fps = winnowingFingerprintPositions(docs, id, body, k, w)
      .localCheckpoint(true)
    val owner = fps.groupBy("fp").agg(min(col(id)).as("__owner"))
    val ranges = fps.join(owner, "fp")
      .filter(col("__owner") < col(id))
      .select(col(id), col("pos").as("s"), (col("pos") + lit(k - 1)).as("e"))
      .distinct()
    // Gaps-and-islands: a range opens a new span iff the gap to the
    // running max end exceeds maxGap. Running max (not lag) so a range
    // contained in its predecessor can't split the island.
    val byPos = Window.partitionBy(col(id)).orderBy(col("s"), col("e"))
    val spans = ranges
      .withColumn("__brk",
        when(col("s") - max(col("e")).over(
            byPos.rowsBetween(Window.unboundedPreceding, -1)) - 1 <= maxGap,
          0).otherwise(1))
      .withColumn("__isl", sum(col("__brk")).over(byPos))
      .groupBy(col(id), col("__isl"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy(col(id))
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("__spans"))
    // Rebuild: walk the sorted spans once, concatenating the kept
    // segments. Char-indexed substr throughout (multi-byte safe).
    val body0 = col(body)
    val rebuilt = aggregate(
      col("__spans"),
      struct(lit(1).as("cur"), lit("").as("acc")),
      (st, sp) => struct(
        (sp.getField("e") + lit(1)).as("cur"),
        concat(st.getField("acc"),
          body0.substr(st.getField("cur"),
            sp.getField("s") - st.getField("cur"))).as("acc")),
      st => concat(st.getField("acc"),
        body0.substr(st.getField("cur"),
          length(body0) - st.getField("cur") + lit(1))))
    docs.join(spans, Seq(id), "left")
      .select(col(id),
        when(col("__spans").isNull, body0).otherwise(rebuilt).as("text_clean"),
        // size(null) is -1 under Spark's legacy sizeOfNull, not null —
        // an explicit null branch, not coalesce.
        when(col("__spans").isNull, lit(0))
          .otherwise(size(col("__spans"))).as("n_spans"),
        coalesce(aggregate(col("__spans"), lit(0),
          (acc, sp) => acc + sp.getField("e") - sp.getField("s") + lit(1)),
          lit(0)).as("removed_chars"),
        coalesce(length(body0), lit(0)).as("orig_chars"))
  }

  /** EXACT substring deduplication — the Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499) rung, in its deterministic q-gram-cover
    * formulation: every duplicated token window of length
    * `minTokens` — ACROSS documents and WITHIN one (self-repeats) —
    * is removed except the corpus-first occurrence (smallest
    * `(id, pos)`, the canonical-provenance rule), overlapping marked
    * windows fuse into maximal spans, and each document re-emits its
    * surviving tokens in order. Token-EXACT boundaries: unlike
    * [[removeDuplicatedSpans]] (winnowing-sampled, ±(w−1)-char edge
    * slop, gap slivers excised), nothing unique is ever removed and
    * nothing duplicated survives at a span edge — any duplicated run
    * of ≥ `minTokens` tokens contains a duplicated window, so the
    * union of marked windows covers exactly the duplicated runs
    * (minus the first occurrence). The suffix-array formulation of
    * the paper finds the same ≥-L duplicated runs; the window cover
    * is the shuffle-friendly restatement.
    *
    * Scale shape (the [[dropDuplicatedParagraphs]] discipline):
    *  1. windows + md5 digests are map-side (native `word_shingles`
    *     → posexplode; only (id, pos, 16-byte digest) ever shuffles,
    *     never window text);
    *  2. keeper per digest = `min(struct(id, pos))` + count — ONE
    *     aggregate with map-side partial combine, deliberately not a
    *     window (a boilerplate window shared by millions of docs
    *     collapses per map task instead of traveling at its
    *     multiplicity);
    *  3. marked occurrences join back on the digest (uniform md5
    *     keys, AQE-splittable);
    *  4. span fusion is gaps-and-islands WITHIN one document
    *     (per-doc window partition, bounded by doc length);
    *  5. rebuild walks the doc's sorted span array once (aggregate
    *     HOF over token-array slices).
    *
    * Default `minTokens` mirrors the paper's ~50-BPE threshold at
    * word granularity; gates use a small L so the fixture corpus
    * carries signal. Returns (id, text_clean, n_spans,
    * removed_tokens, orig_tokens); null bodies pass through with a
    * null `text_clean` and zero stats.
    */
  def exactSubstringDedup(docs: DataFrame, id: String, body: String,
      minTokens: Int = 20): DataFrame = {
    require(minTokens >= 2, s"need minTokens >= 2, got $minTokens")
    // (id, 1-based token pos, digest) — feeds the keeper aggregate AND
    // the mark join; checkpointed so the shingle pass runs once. The
    // shingle+md5 fan-out runs on the scan's own splits: repartitioning
    // a narrow input first measured 1.28x SLOWER on q211 in the
    // order-corrected same-JVM A/B.
    val grams = windowDigests(docs.select(col(id), col(body)), id, body,
      minTokens).localCheckpoint(true)
    val keepers = grams.groupBy("dig").agg(count(lit(1)).as("__cnt"),
      min(struct(col(id).as("kid"), col("pos").as("kpos"))).as("__k"))
    val marked = grams.join(keepers, "dig")
      .filter(col("__cnt") > 1 &&
        !(col(id) === col("__k.kid") && col("pos") === col("__k.kpos")))
      .select(col(id), col("pos").as("s"),
        (col("pos") + lit(minTokens - 1)).as("e"))
    exciseTokenSpans(docs, id, body, marked)
  }

  /** (id, 1-based pos, md5 digest) of every `minTokens`-token window —
    * map-side (native shingles → posexplode); only the 16-byte digest
    * ever shuffles, never window text.
    */
  private def windowDigests(docs: DataFrame, id: String, body: String,
      minTokens: Int): DataFrame =
    docs.where(col(body).isNotNull)
      .select(col(id), posexplode(
          call_function("word_shingles", split(col(body), " "),
            lit(minTokens)))
        .as(Seq("__p0", "__g")))
      .select(col(id), (col("__p0") + 1).as("pos"), md5(col("__g")).as("dig"))

  /** Shared excision tail of the exact-substring family: fuse marked
    * token ranges `(id, s, e)` (1-based, inclusive) into maximal spans
    * (gap 0 — exact semantics, no sliver excision; running max so a
    * range contained in its predecessor can't split the island), then
    * rebuild each doc's surviving tokens around them. Span fusion
    * windows partition per-document only (bounded by doc length).
    */
  private def exciseTokenSpans(docs: DataFrame, id: String, body: String,
      marked: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = split(col(body), " ")
    val byPos = Window.partitionBy(col(id)).orderBy(col("s"), col("e"))
    val spans = marked
      .withColumn("__brk",
        when(col("s") <= max(col("e")).over(
            byPos.rowsBetween(Window.unboundedPreceding, -1)) + 1, 0)
          .otherwise(1))
      .withColumn("__isl", sum(col("__brk")).over(byPos))
      .groupBy(col(id), col("__isl"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy(col(id))
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("__spans"))
    // Rebuild: concatenate the kept token slices around the spans.
    val rebuilt = aggregate(
      col("__spans"),
      struct(lit(1).as("cur"), array().cast("array<string>").as("acc")),
      (st, sp) => struct(
        (sp.getField("e") + lit(1)).as("cur"),
        concat(st.getField("acc"),
          slice(toks, st.getField("cur"),
            sp.getField("s") - st.getField("cur"))).as("acc")),
      st => array_join(concat(st.getField("acc"),
        slice(toks, st.getField("cur"),
          size(toks) - st.getField("cur") + lit(1))), " "))
    docs.join(spans, Seq(id), "left")
      .select(col(id),
        when(col(body).isNull, lit(null).cast("string"))
          .when(col("__spans").isNull, col(body))
          .otherwise(rebuilt).as("text_clean"),
        when(col("__spans").isNull, lit(0))
          .otherwise(size(col("__spans"))).as("n_spans"),
        coalesce(aggregate(col("__spans"), lit(0),
          (acc, sp) => acc + sp.getField("e") - sp.getField("s") + lit(1)),
          lit(0)).as("removed_tokens"),
        when(col(body).isNull, lit(0))
          .otherwise(size(toks)).as("orig_tokens"))
  }

  /** The ledger freezes the WINDOW GEOMETRY (`min_tokens`: a probe
    * hashed with another width would silently miss every duplicate)
    * and the shard modulus.
    */
  private def windowIndex(path: String) = IndexCommit.Index("window-index",
    path, "batch STRING, n_windows LONG, n_shards INT, min_tokens INT",
    Seq(path -> "shard=*/"))(frozen = Seq("n_shards", "min_tokens"),
    rebuildWith = Some("windowIndexWrite"))

  /** The window index's data columns; `shard` and `batch` are partition
    * directories.
    */
  private val windowPayload =
    Some(org.apache.spark.sql.types.StructType.fromDDL("dig STRING"))

  private def writeWindowRows(docs: DataFrame, id: String, body: String,
      minTokens: Int, nShards: Int, path: String, batch: String,
      overwrite: Boolean): Long = {
    val obs = org.apache.spark.sql.Observation()
    // One DISTINCT digest row per batch: the probe face only asks
    // "does this window exist in the corpus", never how often.
    windowDigests(docs, id, body, minTokens)
      .select(col("dig")).distinct()
      .withColumn("shard", pmod(xxhash64(col("dig")), lit(nShards)))
      .withColumn("batch", lit(batch))
      .observe(obs, count(lit(1)).as("n_windows"))
      .repartition(col("shard"))
      .write.mode(if (overwrite) "overwrite" else "append")
      .option("partitionOverwriteMode", "static")
      .partitionBy("shard", "batch").parquet(path)
    obs.get("n_windows").asInstanceOf[Long]
  }

  /** Persist the corpus's window-digest set — the incremental face of
    * [[exactSubstringDedup]] (the [[bandIndexWrite]] convention, third
    * sibling after the band and text indexes): 16-byte digests of
    * every `minTokens`-token window, shard-partitioned by digest hash,
    * ledger-committed per batch. O(corpus) once; thereafter a batch
    * dedups against the WHOLE history via
    * [[incrementalExactSubstringDedup]] + grows the index via
    * [[windowIndexAppend]] without ever re-reading raw history.
    */
  def windowIndexWrite(docs: DataFrame, id: String, body: String,
      minTokens: Int, path: String, nShards: Int = 16): Unit = {
    require(nShards >= 1, s"need nShards >= 1, got $nShards")
    require(minTokens >= 2, s"need minTokens >= 2, got $minTokens")
    IndexCommit.build(docs.sparkSession, windowIndex(path)) {
      Seq[Any](writeWindowRows(docs, id, body, minTokens, nShards, path,
        "build", overwrite = true), nShards, minTokens)
    }
  }

  /** Append a batch's window digests — frozen geometry from the
    * ledger, replace-by-batch retry, one ledger row commits
    * (exactly-once per batch id; the [[IndexCommit]] contract).
    */
  def windowIndexAppend(docs: DataFrame, id: String, body: String,
      path: String, batch: String): Unit =
    IndexCommit.append(docs.sparkSession, windowIndex(path), batch) { m =>
      Seq[Any](writeWindowRows(docs, id, body, m("min_tokens"), m("n_shards"),
        path, batch, overwrite = false), m("n_shards"), m("min_tokens"))
    }

  /** Exact substring dedup of an INCOMING batch against the indexed
    * corpus + itself — byte-identical to running
    * [[exactSubstringDedup]] over (corpus ∪ incoming) and keeping the
    * incoming rows, PROVIDED corpus ids order before incoming ids
    * (the append-only ingest contract; the corpus-first keeper is
    * then always on the corpus side). An incoming window is excised
    * iff its digest exists in a COMMITTED index batch (probe: a
    * digest-keyed semi-join against ≤ |batch-digest| shard rows,
    * never the raw corpus) or occurs earlier within the incoming
    * batch itself (the self-repeat rule, batch-local aggregate).
    * O(batch + probed shard rows): raw history is never re-read.
    */
  def incrementalExactSubstringDedup(
      spark: org.apache.spark.sql.SparkSession, path: String,
      incoming: DataFrame, id: String, body: String): DataFrame = {
    val meta = IndexCommit.readLedger(spark, windowIndex(path))
    val minTokens = meta("min_tokens")
    val inc = windowDigests(incoming, id, body, minTokens)
      .localCheckpoint(true) // probe join AND self-dup aggregate
    // Probe read pruned to the shards the incoming digests hash into —
    // a bounded collect (≤ n_shards values, the TextIndex bucket-list
    // discipline). A batch that hashes into few shards probes a
    // FRACTION of the index; one that touches every shard degrades to
    // one columnar scan of the 16-byte digest column. Growing n_shards
    // with the corpus keeps the probed fraction small at scale.
    val probeShards = inc
      .select(pmod(xxhash64(col("dig")), lit(meta("n_shards"))).as("s"))
      .distinct().collect().map(r => Long.box(r.getLong(0))).toSeq
    val idx = IndexCommit.committedRows(spark, path, meta.committed, windowPayload)
      .filter(col("shard").isin(probeShards: _*))
      .select(col("dig"))
    val corpusHit = inc.join(idx, Seq("dig"), "left_semi")
      .select(col(id), col("pos"))
    val keepers = inc.groupBy("dig").agg(count(lit(1)).as("__cnt"),
      min(struct(col(id).as("kid"), col("pos").as("kpos"))).as("__k"))
    val selfDup = inc.join(keepers, "dig")
      .filter(col("__cnt") > 1 &&
        !(col(id) === col("__k.kid") && col("pos") === col("__k.kpos")))
      .select(col(id), col("pos"))
    val marked = corpusHit.unionByName(selfDup).distinct()
      .select(col(id), col("pos").as("s"),
        (col("pos") + lit(minTokens - 1)).as("e"))
    exciseTokenSpans(incoming, id, body, marked)
  }

  /** Paragraph-level EXACT deduplication — the CCNet pre-dedup rung
    * below [[removeDuplicatedSpans]]'s fuzzy span excision: split each
    * document on `delim`, keep exactly ONE copy of every distinct
    * non-blank paragraph across the WHOLE corpus (the occurrence with
    * the smallest `(id, position)` — the same canonical-provenance
    * rule as the fingerprint owner in span removal), and re-emit each
    * document with its surviving paragraphs in original order.
    *
    * Scale shape — one paragraph-DIGEST shuffle, never paragraph text:
    *  1. split + posexplode is map-side;
    *  2. the keeper per digest is `min(struct(id, pos))` — an
    *     AGGREGATE with map-side partial combine, deliberately NOT a
    *     `row_number` window: a boilerplate paragraph shared by
    *     millions of documents is ONE hot window partition under
    *     row_number, but partial aggregation collapses it to one row
    *     per map task before the exchange, so the hot key never
    *     travels at its multiplicity;
    *  3. the keep decision joins the (digest → keeper) table back on
    *     the digest — uniform md5 keys, AQE-splittable, and the table
    *     is one row per DISTINCT paragraph (broadcastable long after
    *     the corpus itself is not);
    *  4. reassembly is one id-keyed aggregate whose per-doc state is
    *     bounded by that document's own paragraph count.
    *
    * Blank paragraphs (empty / whitespace-only — i.e. consecutive
    * delimiters) are STRUCTURE, not content: they never enter the
    * dedup and are kept verbatim, so formatting survives.
    *
    * Returns (id, text_clean, n_paras, n_dropped); documents with a
    * NULL body pass through with a null `text_clean` and zero stats.
    */
  def dropDuplicatedParagraphs(docs: DataFrame, id: String, body: String,
      delim: String = "\n"): DataFrame = {
    val parts = docs
      .select(col(id),
        posexplode(split(col(body),
          java.util.regex.Pattern.quote(delim), -1)).as(Seq("pos", "para")))
      .withColumn("__dig",
        when(length(trim(col("para"))) > 0, md5(col("para"))))
    val keeper = parts.filter(col("__dig").isNotNull)
      .groupBy("__dig")
      .agg(min(struct(col(id).as("kid"), col("pos").as("kpos")))
        .as("__first"))
    val rebuilt = parts.join(keeper, Seq("__dig"), "left")
      .withColumn("__keep",
        col("__dig").isNull ||
          (col("__first.kid") === col(id) &&
            col("__first.kpos") === col("pos")))
      .groupBy(col(id))
      .agg(
        concat_ws(delim,
          transform(
            array_sort(collect_list(
              when(col("__keep"), struct(col("pos"), col("para"))))),
            _.getField("para"))).as("text_clean"),
        count(lit(1)).as("n_paras"),
        sum(when(!col("__keep"), 1L).otherwise(0L)).as("n_dropped"))
    docs.select(col(id), col(body).as("__body"))
      .join(rebuilt, Seq(id), "left")
      .select(col(id),
        when(col("__body").isNull, lit(null))
          .otherwise(coalesce(col("text_clean"), lit(""))).as("text_clean"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** Interpreted zip_with/aggregate restatement of the decimal-exact dot
    * product — the independent formulation the native `dot_exact`
    * expression is spec-verified against. The merge re-casts to D
    * because decimal + promotes DECIMAL(38,18) to (38,17) (exact here:
    * every term already has 18 fractional digits); null elements
    * contribute 0 instead of poisoning the sum.
    */
  private[graft] def dotExactHof(a: Column, b: Column): Column = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val D = DecimalType(38, 18)
    aggregate(
      zip_with(a, b, (x, y) =>
        coalesce((x.cast(DoubleType) * y.cast(DoubleType)).cast(D),
          lit(java.math.BigDecimal.ZERO).cast(D))),
      lit(java.math.BigDecimal.ZERO).cast(D),
      (acc, v) => (acc + v).cast(D))
      .cast(DoubleType)
  }

  /** Exact n-gram Jaccard similarity for all intersecting pairs within
    * `docs` (use after LSH candidate pruning at scale; here exposed
    * directly for verification). Join is on the shingle value — a string
    * key shuffle with uniform distribution.
    */
  def ngramJaccardPairs(docs: DataFrame, id: String, body: String, n: Int): DataFrame =
    gramOverlap(docs, id, body, n)
      .select(col("id1"), col("id2"),
        (col("n_inter").cast("double") /
          (col("sz1") + col("sz2") - col("n_inter")).cast("double")).as("jaccard"))

  /** (id1 < id2, n_inter, sz1, sz2) over distinct shingle sets: a
    * self-join on the gram, then the per-doc set sizes.
    */
  private def gramOverlap(docs: DataFrame, id: String, body: String,
      n: Int): DataFrame = {
    val grams = explodedShingles(docs, id, body, n)
      .select(col(id), col("__g").as("g")).distinct()
    val sizes = grams.groupBy(col(id)).agg(count(lit(1)).as("sz"))
    val a = grams.alias("ga")
    val b = grams.alias("gb")
    val inter = a.join(b,
        col("ga.g") === col("gb.g") && col(s"ga.$id") < col(s"gb.$id"))
      .groupBy(col(s"ga.$id").as("id1"), col(s"gb.$id").as("id2"))
      .agg(count(lit(1)).as("n_inter"))
    val s1 = sizes.select(col(id).as("id1"), col("sz").as("sz1"))
    val s2 = sizes.select(col(id).as("id2"), col("sz").as("sz2"))
    inter.join(s1, "id1").join(s2, "id2")
  }

  /** Asymmetric n-gram containment for id pairs (id1 < id2):
    * C(a→b) = |Sa ∩ Sb| / |Sa|, both directions, plus the raw set
    * sizes. The sub-document-duplication detector Jaccard structurally
    * misses: a short doc fully embedded in a long one has
    * containment(short→long) = 1.0 while Jaccard ≈ |short|/|long| ≈ 0,
    * so a Jaccard threshold never fires. Same physical shape as
    * [[ngramJaccardPairs]] (distinct shingles → self-join on gram →
    * size join); at corpus scale both run on LSH candidate pairs, not
    * all pairs.
    */
  def ngramContainmentPairs(docs: DataFrame, id: String, body: String,
      n: Int): DataFrame =
    gramOverlap(docs, id, body, n)
      .select(col("id1"), col("id2"), col("n_inter"), col("sz1"), col("sz2"),
        (col("n_inter").cast("double") / col("sz1").cast("double"))
          .as("cont_12"),
        (col("n_inter").cast("double") / col("sz2").cast("double"))
          .as("cont_21"))

  /** Cross-source content-overlap matrix: for every source pair
    * (src1 < src2), how many distinct word `n`-gram shingles the two
    * sources share, each source's distinct-shingle count, and the
    * Jaccard overlap of the two shingle sets. The corpus diagnostic a
    * multi-source training run wants BEFORE choosing dedup order and
    * mixture weights: a hot pair means cross-source duplication
    * (mirrored crawls, syndication) that per-source dedup cannot see.
    *
    * Physical shape: ONE data-sized exchange. Shingles stream out of
    * the native gram expression ([[explodedShingles]]) straight into a
    * groupBy(gram) whose only aggregate is the distinct source set —
    * bounded by the source count, not the corpus, so the map-side
    * partial stays tiny. Each per-gram source set then expands locally
    * into ordered source pairs PLUS one single-source record per
    * member, and a single count over (a, b) yields both the pair
    * intersections (b set) and the per-source set sizes (b null) — the
    * sizes never need a second pass over the grams. That combined
    * count is O(sources²) rows and is localCheckpoint'd, so the heavy
    * subtree executes exactly once: without the barrier, Catalyst
    * pushes each branch's null/not-null split below the aggregate,
    * the three subtrees stop canonicalizing to one exchange, and the
    * shingle pipeline runs three times (observed; DedupSpec pins the
    * checkpointed shape — zero shingle scans downstream). A gram
    * self-join (the naive shape) would likewise run the shingle
    * pipeline twice and shuffle the gram stream twice.
    *
    * No bucket cap, unlike [[lshCandidatePairs]]: a "bucket" here is a
    * gram's source set, whose size the source count bounds by
    * construction — and dropping hot grams would silently understate
    * exactly the overlap this matrix exists to measure.
    */
  def sourceOverlapMatrix(docs: DataFrame, sourceCol: String, body: String,
      n: Int = 3): DataFrame = {
    val grams = explodedShingles(
      docs.select(col(sourceCol).as("__src"), col(body)), "__src", body, n)
    val items = col("__srcs")
    val pairRecs = flatten(transform(items, (x, i) =>
      transform(slice(items, i + lit(2), greatest(size(items) - i - 1, lit(0))),
        y => struct(x.as("a"), y.as("b")))))
    val singleRecs = transform(items,
      x => struct(x.as("a"), lit(null).cast("string").as("b")))
    val recs = grams.groupBy(col("__g"))
      .agg(sort_array(collect_set(col("__src"))).as("__srcs"))
      .select(explode(concat(pairRecs, singleRecs)).as("p"))
      .groupBy(col("p.a").as("s1"), col("p.b").as("s2"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val sizes1 = recs.filter(col("s2").isNull)
      .select(col("s1").as("src1"), col("n").as("n1"))
    val sizes2 = recs.filter(col("s2").isNull)
      .select(col("s1").as("src2"), col("n").as("n2"))
    recs.filter(col("s2").isNotNull)
      .select(col("s1").as("src1"), col("s2").as("src2"), col("n").as("n_shared"))
      .join(sizes1, "src1")
      .join(sizes2, "src2")
      .select(col("src1"), col("src2"), col("n1"), col("n2"), col("n_shared"),
        (col("n_shared").cast("double") /
          (col("n1") + col("n2") - col("n_shared")).cast("double")).as("overlap"))
  }

  /** MinHash estimator calibration: for every doc pair, the number of
    * agreeing signature components (`agree` of `k`) against the TRUE
    * n-gram Jaccard, aggregated per agreement level — pair count, total
    * true Jaccard mass, and total/max absolute estimator error, all in
    * exact integer micro-units so the table is engine-portable. This is
    * the dedup analog of the ANN recall gates: the signature is only as
    * good as its agreement-vs-similarity curve, and this measures that
    * curve instead of assuming the textbook E[agree/k] = J.
    *
    * Verification tier (like [[ngramJaccardPairs]]): the pair universe
    * is all-pairs over `docs`, so cap the input to a sampled slice — at
    * scale the curve is calibrated on a sample, never the corpus. The
    * all-pairs signature join is a broadcast nested-loop by design; the
    * exact-Jaccard side reuses [[ngramJaccardPairs]], and pairs sharing
    * no gram enter as true Jaccard 0 (LEFT join), so low-agreement mass
    * is measured, not truncated.
    */
  def minhashCalibration(docs: DataFrame, id: String, body: String,
      k: Int, n: Int): DataFrame = {
    val sig = minhashSignatures(docs, id, body, k, n)
    val a = sig.alias("a")
    val b = sig.alias("b")
    val agree = (0 until k).map(i =>
      when(col(s"a.h$i") === col(s"b.h$i"), 1L).otherwise(0L)).reduce(_ + _)
    val pairs = a.join(b, col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id1"), col(s"b.$id").as("id2"), agree.as("agree"))
    val jac = coalesce(col("jaccard"), lit(0.0))
    val errMicro = floor(abs(col("agree").cast("double") / lit(k.toDouble) - jac)
      * lit(1e6)).cast("long")
    pairs.join(ngramJaccardPairs(docs, id, body, n), Seq("id1", "id2"), "left")
      .groupBy(col("agree"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(floor(jac * lit(1e6)).cast("long")).as("sum_jac_micro"),
        sum(errMicro).as("sum_abs_err_micro"),
        max(errMicro).as("max_abs_err_micro"))
      .orderBy("agree")
  }

  /** One gate row measuring a candidate-generation rung against a truth
    * pair set: counts plus recall/precision in integer micro-units
    * (floor(1e6 · ratio), engine-portable). `truth` and `cand` carry
    * (id1, id2) with id1 < id2. The dedup counterpart of the ANN recall
    * gates — every near-dup rung (LSH bands, SimHash bands) gets its
    * candidate recall measured against exact Jaccard truth, not assumed
    * from the banding math. Aggregates are three 1-row frames
    * cross-joined; pass a localCheckpoint'd `truth` when composing
    * several rungs against the same (expensive, all-pairs) truth set.
    */
  def candidateRecall(rung: String, truth: DataFrame, cand: DataFrame): DataFrame = {
    val t = truth.select("id1", "id2")
    val c = cand.select("id1", "id2")
    val hit = c.join(t, Seq("id1", "id2"), "left_semi")
    t.agg(count(lit(1)).as("n_truth"))
      .crossJoin(c.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(lit(rung).as("rung"), col("n_truth"), col("n_cand"), col("n_hit"),
        floor(col("n_hit").cast("double") / col("n_truth").cast("double")
          * lit(1e6)).cast("long").as("recall_micro"),
        floor(col("n_hit").cast("double") / col("n_cand").cast("double")
          * lit(1e6)).cast("long").as("precision_micro"))
  }

  /** EXACT Jaccard-threshold self-join via prefix filtering (the
    * PPJoin/AllPairs family — Bayardo et al. WWW'07, Xiao et al.
    * WWW'08; public algorithms). The third point in the dedup design
    * space: [[ngramJaccardPairs]] is exact but all-pairs (verification
    * tier only), [[lshCandidatePairs]] scales but loses recall; this
    * operator is BOTH exact and sub-quadratic. Prefix-filter theorem:
    * order every doc's distinct shingles by one global total order and
    * keep only the first `|x| - ceil(t·|x|) + 1` ("prefix"); any pair
    * with J ≥ t MUST collide on at least one prefix token, so joining
    * on prefix tokens (instead of all tokens) generates a candidate
    * superset with zero false negatives. Rare-tokens-first ordering
    * (ascending document frequency) makes prefixes collide as little
    * as possible. Candidates then pass the length filter
    * (t·max(sz) ≤ min(sz), necessary for J ≥ t) and exact
    * verification.
    *
    * Physical shape, in shuffles: gram df (groupBy gram) → doc gram-set
    * assembly (groupBy doc, carrying df for the sort) → prefix-token
    * equi-join (shuffle keyed by gram — but only on the O(sz·(1-t))
    * prefix slice of each doc) → verification joins against the
    * per-doc sorted arrays (`array_intersect` on distinct arrays =
    * exact intersection size; no re-scan of the corpus). No window
    * over the whole corpus, no global rank: the prefix order only
    * needs each doc sorted by the SAME (df, gram) key, not a dense
    * global id. Common-shingle hot keys (boilerplate) sit at the END
    * of the order and rarely enter a prefix at all — the skew the
    * plain gram self-join suffers is designed out, not AQE'd out.
    */
  def prefixJaccardPairs(docs: DataFrame, id: String, body: String,
      n: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    // Shingles collapse to 64-bit hashes IMMEDIATELY: every downstream
    // stage (df count, per-doc sort, prefix join, array_intersect)
    // then moves/compares 8-byte longs instead of corpus-length
    // strings — measured 2.5× on the whole pipeline. Set identity is
    // preserved modulo 64-bit collisions (~|V|²/2⁶⁵ ≈ 1e-9 at 1e8
    // distinct shingles), and the q158 gate would surface a collision
    // as a hash mismatch rather than silently absorbing it.
    val grams = explodedShingles(docs, id, body, n)
      .select(col(id), xxhash64(col("__g")).as("g")).distinct()
    val freq = grams.groupBy("g").agg(count(lit(1)).as("df"))
    // Per-doc shingle array sorted rare-first by (df, gram): struct
    // sort order = lexicographic over fields, giving every doc the
    // same deterministic global token order.
    val sorted = grams.join(freq, "g")
      .groupBy(col(id))
      .agg(sort_array(collect_list(struct(col("df"), col("g")))).as("gsort"))
      .select(col(id),
        transform(col("gsort"), x => x.getField("g")).as("gs"),
        size(col("gsort")).as("sz"))
    val sets = sorted.localCheckpoint(true)
    // Prefix length p = sz - ceil(t·sz) + 1 (ceil in exact integer
    // arithmetic: ceil(t·sz) = floor((t·sz·1e6 + 999999)/1e6) would
    // re-introduce float edge cases; Spark's ceil on double is fine
    // here because sz ≤ ~1e6 keeps t·sz well inside exact range).
    val prefix = sets.select(col(id), col("sz"),
      explode(slice(col("gs"), lit(1),
        (col("sz") - ceil(col("sz") * lit(threshold)).cast("int") + lit(1))
          .cast("int"))).as("g"))
    // Fixed-N repartitions (which AQE must preserve) pin the fan-out
    // stages' parallelism: the prefix-join INPUTS and the candidate
    // list are byte-tiny, so size-based coalescing would fold the
    // in-join pair expansion and the array_intersect verification into
    // one or two serial tasks — the q176 pathology. The exchanges move
    // kilobytes; the compute they spread is the expensive part.
    val nPart = docs.sparkSession.sessionState.conf.numShufflePartitions
    val a = prefix.repartition(nPart, col("g")).alias("fa")
    val b = prefix.repartition(nPart, col("g")).alias("fb")
    val cand = a.join(b,
        col("fa.g") === col("fb.g") && col(s"fa.$id") < col(s"fb.$id") &&
          greatest(col("fa.sz"), col("fb.sz")).cast("double") * lit(threshold) <=
            least(col("fa.sz"), col("fb.sz")).cast("double"))
      .select(col(s"fa.$id").as("id1"), col(s"fb.$id").as("id2"))
      .distinct()
    val s1 = sets.select(col(id).as("id1"), col("gs").as("gs1"), col("sz").as("sz1"))
    val s2 = sets.select(col(id).as("id2"), col("gs").as("gs2"), col("sz").as("sz2"))
    val verified = cand.repartition(nPart, col("id1"))
      .join(s1, "id1").join(s2, "id2")
      .withColumn("n_inter",
        size(array_intersect(col("gs1"), col("gs2"))).cast("long"))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("sz1") + col("sz2") - col("n_inter")).cast("double"))
    verified.filter(col("jaccard") >= lit(threshold))
      .select(col("id1"), col("id2"), col("n_inter"), col("jaccard"))
  }
}
