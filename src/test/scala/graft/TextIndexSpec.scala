package graft

import graft.operators.TextIndex
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class TextIndexSpec extends SparkSpec {

  private def corpus = df("doc_id BIGINT, text STRING",
    Row(Long.box(1), "spark runs fast spark scales"),
    Row(Long.box(2), "query planning in spark"),
    Row(Long.box(3), "merge statements update tables"),
    Row(Long.box(4), "unrelated words only here"))

  // A fresh dir per call: two test JVMs running this suite concurrently
  // must not collide on fixture index paths — parquet commit staging
  // inside a shared target dir fails with TASK_WRITE_FAILED.
  private def tmp(name: String) = tempDir(s"graft_tidx_spec_$name") + "/index"

  test("index round-trip: BM25 from postings == direct corpus scoring") {
    val path = tmp("roundtrip")
    TextIndex.write(corpus, "doc_id", "text", path, nShards = 4)
    val got = TextIndex.searchBM25(spark, path, Seq("spark", "merge"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // Direct restatement: same formula over the raw corpus.
    val rows = corpus.collect().map(r =>
      r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val n = rows.length.toDouble
    val avgdl = rows.map(_._2.size).sum / n
    def dfOf(t: String) = rows.count(_._2.contains(t)).toDouble
    def score(toks: Seq[String]): BigDecimal =
      Seq("spark", "merge").map { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) BigDecimal(0)
        else {
          val idf = BigDecimal(math.log((n - dfOf(t) + 0.5) / (dfOf(t) + 0.5)
            + 1.0)).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
          BigDecimal(idf * (tf * 2.2) /
            (tf + 1.2 * (0.25 + 0.75 * toks.size / avgdl)))
            .setScale(9, BigDecimal.RoundingMode.HALF_UP)
        }
      }.sum
    val want = rows.map { case (id, toks) => id -> score(toks) }
      .filter(_._2 != BigDecimal(0))
      .map { case (id, s) =>
        id -> s.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble }
      .toMap
    assert(got == want, s"index scores diverged:\n$got\n$want")
    assert(!got.contains(4L), "docs with no query term never surface")
  }

  test("serving prunes to the query terms' shards") {
    val path = tmp("prune")
    TextIndex.write(corpus, "doc_id", "text", path, nShards = 4)
    val plan = TextIndex.searchBM25(spark, path, Seq("spark"), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("shard"),
      s"shard partition filter must reach the scan:\n$plan")
    val shard = spark.range(1).select(
      pmod(xxhash64(lit("spark")), lit(4))).head().getLong(0)
    assert(plan.contains(s"shard#") && plan.contains(shard.toString),
      s"the probed shard id must appear in the partition filter:\n$plan")
  }

  test("tombstone anti-join does not defeat shard partition pruning") {
    val path = tmp("prune_tomb")
    TextIndex.write(corpus, "doc_id", "text", path, nShards = 4)
    TextIndex.delete(spark, path, df("doc_id BIGINT",
      org.apache.spark.sql.Row(Long.box(2))), "d1")
    val plan = TextIndex.searchBM25(spark, path, Seq("spark"), k = 5)
      .queryExecution.executedPlan.toString
    // The anti-join sits ABOVE the probe scan; the shard filter must
    // still reach the postings read or every erasure would turn probes
    // into full-index scans at 100 TB.
    assert(plan.contains("PartitionFilters") && plan.contains("shard"),
      s"shard partition filter must survive the tombstone anti-join:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"tombstones must be served via an anti-join:\n$plan")
  }

  test("doclens sidecar: O(deleted) victim stats, coverage fallback, compact fold") {
    val path = tmp("doclens")
    TextIndex.write(corpus, "doc_id", "text", path, nShards = 4)
    TextIndex.append(appendCorpus, "doc_id", "text", path, "b1")
    val dlp = new java.io.File(path + "__doclens")
    assert(dlp.exists(), "write/append must emit the doclens sidecar")
    // One (doc, dl) row per doc per batch, doc-hash bucketed.
    val rows = spark.read.parquet(path + "__doclens")
    assert(rows.select("doc").distinct().count() == rows.count(),
      "doclens must be one row per doc")
    // The delete's victim stats come from the sidecar: the negative
    // ledger row must carry the victims' true n_docs/sum_dl.
    val dl2 = rows.filter(col("doc") === 2L).head().getLong(1)
    TextIndex.delete(spark, path,
      df("doc_id BIGINT", Row(Long.box(2)), Row(Long.box(999))), "d1")
    val delRow = spark.read.parquet(path + "__meta")
      .filter(col("batch") === "del:d1").head()
    assert(delRow.getLong(1) == -1L, "absent id 999 must not be counted")
    assert(delRow.getLong(2) == -dl2, "sum_dl decrement from the sidecar")
    // Coverage fallback: an index whose sidecar is missing (pre-sidecar
    // build) must fall back to the postings scan with identical stats.
    val legacy = tmp("doclens_legacy")
    TextIndex.write(corpus, "doc_id", "text", legacy, nShards = 4)
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete(); ()
    }
    rmrf(new java.io.File(legacy + "__doclens"))
    TextIndex.delete(spark, legacy, df("doc_id BIGINT", Row(Long.box(2))), "d1")
    val legacyRow = spark.read.parquet(legacy + "__meta")
      .filter(col("batch") === "del:d1").head()
    assert(legacyRow.getLong(1) == -1L && legacyRow.getLong(2) == -dl2,
      "postings-scan fallback must produce the same victim stats")
    // Compact folds the sidecar: tombstoned docs' rows physically gone,
    // everything under batch=build, the other docs unchanged.
    def sidecarDocs() = spark.read.parquet(path + "__doclens")
      .select("doc").distinct().collect().map(_.getLong(0)).toSet
    val idsBefore = sidecarDocs()
    TextIndex.compact(spark, path)
    val folded = spark.read.parquet(path + "__doclens")
    assert(folded.filter(col("doc") === 2L).count() == 0,
      "compact must drop tombstoned docs from the doclens sidecar")
    assert(folded.select("batch").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("build"))
    // Post-compact the erased id leaves the sidecar (retired-identity
    // window ends at compact, same as postings) — remaining ids agree.
    assert(sidecarDocs() == idsBefore - 2L)
  }

  test("compact crash between swap renames recovers with live tombstones") {
    // Same composition as SimilaritySpec's IVF twin: the park-then-
    // replace swap crashes in its one-rename-wide window while a
    // committed tombstone sidecar is live. The next compact must
    // recover the parked postings, still fold the tombstones, drop
    // the sidecar, and serve exactly the rebuild-without results.
    val path = tmp("crash_tomb")
    TextIndex.write(corpus, "doc_id", "text", path, nShards = 4)
    TextIndex.append(df("doc_id BIGINT, text STRING",
      Row(Long.box(8), "spark appends postings"),
      Row(Long.box(9), "spark compacts postings")), "doc_id", "text", path, "b2")
    TextIndex.delete(spark, path, df("doc_id BIGINT",
      Row(Long.box(2)), Row(Long.box(8))), "d1")
    def search() = TextIndex.searchBM25(spark, path, Seq("spark"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = search()
    assert(!before.exists(r => r._1 == 2L || r._1 == 8L))
    // Inject the crash: live postings parked, stale tmp present, no
    // live dir; the sidecar (a sibling dir) stays live.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + ".compact-old")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(path + ".compact-tmp"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(path + "__tombstones")))
    TextIndex.compact(spark, path)
    assert(search() == before,
      "recovered compact must not change search results")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__tombstones")),
      "recovered compact must still drop the tombstone sidecar")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".compact-old")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(path + ".compact-tmp")),
      "no swap debris may survive a successful recovered compact")
    assert(spark.read.parquet(path)
      .filter(col("doc").isin(2L, 8L)).count() == 0,
      "tombstoned postings must be physically gone after recovery")
  }

  test("conjunctive search: AND cut exact, scores match the OR path, append-safe") {
    val path = tmp("conj")
    TextIndex.write(corpus, "doc_id", "text", path, nShards = 4)
    TextIndex.append(appendCorpus, "doc_id", "text", path, "b1")
    val or = TextIndex.searchBM25(spark, path, Seq("spark", "merge"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val and = TextIndex.searchBM25All(spark, path, Seq("spark", "merge"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // only doc 5 ("spark merge pipelines at scale") holds BOTH terms
    assert(and.keySet == Set(5L), s"AND cut wrong: ${and.keySet}")
    // a doc surviving the cut scores exactly what the OR path gives it
    and.foreach { case (id, s0) => assert(or(id) == s0) }
    // duplicate query terms don't inflate the required match count
    assert(TextIndex.searchBM25All(spark, path,
      Seq("spark", "merge", "spark"), 10)
      .collect().map(_.getLong(0)).toSet == Set(5L))
  }

  test("absent term returns empty; rebuild overwrites cleanly") {
    val path = tmp("absent")
    TextIndex.write(corpus, "doc_id", "text", path, nShards = 4)
    assert(TextIndex.searchBM25(spark, path, Seq("zzz_nothere"), k = 5)
      .count() == 0)
    // Overwrite with a smaller corpus: old postings must not linger.
    TextIndex.write(corpus.filter(col("doc_id") === 3), "doc_id", "text",
      path, nShards = 4)
    val got = TextIndex.searchBM25(spark, path, Seq("merge"), k = 5)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L))
  }

  private def appendCorpus = df("doc_id BIGINT, text STRING",
    Row(Long.box(5), "spark merge pipelines at scale"),
    Row(Long.box(6), "spark spark spark everywhere"),
    Row(Long.box(7), "nothing in common with queries"))

  test("search-after-append == search-after-rebuild (scores AND order)") {
    val a = tmp("append_inc"); val b = tmp("append_full")
    TextIndex.write(corpus, "doc_id", "text", a, nShards = 4)
    TextIndex.append(appendCorpus, "doc_id", "text", a, batch = "b1")
    TextIndex.write(corpus.unionByName(appendCorpus), "doc_id", "text", b,
      nShards = 4)
    val terms = Seq("spark", "merge")
    val inc = TextIndex.searchBM25(spark, a, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = TextIndex.searchBM25(spark, b, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(inc == full, s"append must be invisible to serving:\n$inc\n$full")
    // The appended docs actually participate: n_docs/avgdl/df all moved.
    assert(inc.map(_._1).contains(6L))
  }

  test("append records a ledger row; avgdl drift is exposed") {
    val path = tmp("append_ledger")
    TextIndex.write(corpus, "doc_id", "text", path, nShards = 4)
    // A long-document batch: mean dl well above the build's.
    TextIndex.append(df("doc_id BIGINT, text STRING",
      Row(Long.box(8), ("long " * 20).trim)), "doc_id", "text", path, "b1")
    val avgdl = spark.read.parquet(path + "__meta").collect()
      .map(r => r.getAs[String]("batch") ->
        r.getAs[Long]("sum_dl").toDouble / r.getAs[Long]("n_docs")).toMap
    assert(avgdl.keySet == Set("build", "b1"))
    assert(avgdl("b1") - avgdl("build") > 10.0,
      "a long-doc batch must surface as positive avgdl drift")
    // 'build' is reserved; a mismatched shard layout cannot happen
    // because append reads n_shards from the ledger itself.
    intercept[IllegalArgumentException] {
      TextIndex.append(appendCorpus, "doc_id", "text", path, "build")
    }
  }

  test("compact merges append debris; search results identical") {
    val path = tmp("compact")
    TextIndex.write(corpus, "doc_id", "text", path, nShards = 4)
    TextIndex.append(appendCorpus, "doc_id", "text", path, "b1")
    TextIndex.append(df("doc_id BIGINT, text STRING",
      Row(Long.box(9), "spark compacts postings")), "doc_id", "text", path, "b2")
    def files() = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      .filter(p => p.toString.endsWith(".parquet")).count()
    def search() = TextIndex.searchBM25(spark, path, Seq("spark", "merge"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = search()
    val filesBefore = files()
    TextIndex.compact(spark, path)
    assert(files() < filesBefore,
      s"compaction must reduce file count (was $filesBefore, now ${files()})")
    assert(search() == before, "compaction must not change search results")
    // the ledger is untouched: per-batch history survives and —
    // decisively — a retry of an already-FOLDED batch id is still
    // rejected (a timeout retry whose first attempt succeeded must
    // not re-ingest and double-count)
    def ledgerRows() = spark.read.parquet(path + "__meta").count()
    assert(ledgerRows() == 3) // build+b1+b2
    intercept[IllegalArgumentException] {
      TextIndex.append(appendCorpus, "doc_id", "text", path, "b1")
    }
    TextIndex.append(df("doc_id BIGINT, text STRING",
      Row(Long.box(10), "merge again")), "doc_id", "text", path, "b3")
    assert(ledgerRows() == 4) // + b3
  }

  test("torn append is invisible; retrying the batch never duplicates") {
    val path = tmp("torn")
    TextIndex.write(corpus, "doc_id", "text", path, nShards = 4)
    def search() = TextIndex.searchBM25(spark, path, Seq("spark", "merge"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = search()
    // Simulate an append that died AFTER its posting write but BEFORE
    // its ledger commit: posting rows on disk under batch=bX, no ledger
    // row. (Write them the way append does, minus the commit.)
    df("token STRING, doc BIGINT, dl BIGINT, tf BIGINT, df BIGINT",
      Row("spark", Long.box(99), Long.box(3), Long.box(3), Long.box(1)))
      .withColumn("shard", pmod(xxhash64(col("token")), lit(4)))
      .withColumn("batch", lit("bX"))
      .repartition(col("shard"))
      .write.mode("append").partitionBy("shard", "batch").parquet(path)
    assert(search() == before,
      "uncommitted postings must be invisible to serving")
    // Retry of the torn batch: replace-by-batch drops the orphans, so
    // doc 99 appears exactly once and scores as a clean rebuild would.
    TextIndex.append(df("doc_id BIGINT, text STRING",
      Row(Long.box(99), "spark spark spark")), "doc_id", "text", path, "bX")
    val full = tmp("torn_full")
    TextIndex.write(corpus.unionByName(df("doc_id BIGINT, text STRING",
      Row(Long.box(99), "spark spark spark"))), "doc_id", "text", full,
      nShards = 4)
    assert(search() ==
      TextIndex.searchBM25(spark, full, Seq("spark", "merge"), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      "retried batch must equal a clean rebuild (no duplicated postings)")
    // a COMMITTED batch id is exactly-once: re-appending it is loud
    intercept[IllegalArgumentException] {
      TextIndex.append(df("doc_id BIGINT, text STRING",
        Row(Long.box(100), "x")), "doc_id", "text", path, "bX")
    }
    // compaction garbage-collects any remaining orphan dirs
    df("token STRING, doc BIGINT, dl BIGINT, tf BIGINT, df BIGINT",
      Row("merge", Long.box(101), Long.box(1), Long.box(1), Long.box(1)))
      .withColumn("shard", pmod(xxhash64(col("token")), lit(4)))
      .withColumn("batch", lit("bOrphan"))
      .repartition(col("shard"))
      .write.mode("append").partitionBy("shard", "batch").parquet(path)
    val preCompact = search()
    TextIndex.compact(spark, path)
    assert(search() == preCompact)
    assert(!java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      .anyMatch(p => p.toString.contains("batch=bOrphan")),
      "compaction must drop uncommitted orphan postings")
  }

  test("delete ≡ rebuild-without; torn delete invisible; compact removes bytes") {
    val path = tmp("delete")
    TextIndex.write(corpus, "doc_id", "text", path, nShards = 4)
    def search(p: String) =
      TextIndex.searchBM25(spark, p, Seq("spark", "merge"), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    TextIndex.delete(spark, path,
      df("doc_id BIGINT", Row(Long.box(2))), "d1")
    val rebuilt = tmp("delete_rebuilt")
    TextIndex.write(corpus.filter(col("doc_id") =!= 2L), "doc_id", "text",
      rebuilt, nShards = 4)
    assert(search(path) == search(rebuilt),
      "tombstone delete must equal a rebuild without the docs " +
        "(candidates, df, nDocs, avgdl)")
    // Exactly-once per delete-batch id.
    intercept[IllegalArgumentException] {
      TextIndex.delete(spark, path,
        df("doc_id BIGINT", Row(Long.box(3))), "d1")
    }
    // Re-deleting an already-tombstoned id must not double-decrement
    // the ledger sums (delete of {2,3}: only 3 is fresh).
    TextIndex.delete(spark, path,
      df("doc_id BIGINT", Row(Long.box(2)), Row(Long.box(3))), "d2")
    val rebuilt23 = tmp("delete_rebuilt23")
    TextIndex.write(corpus.filter(col("doc_id") =!= 2L && col("doc_id") =!= 3L),
      "doc_id", "text", rebuilt23, nShards = 4)
    assert(search(path) == search(rebuilt23))
    // Deleting absent ids is a no-op on the sums as well.
    TextIndex.delete(spark, path,
      df("doc_id BIGINT", Row(Long.box(777))), "d3")
    assert(search(path) == search(rebuilt23))
    // Torn delete: tombstones on disk with NO ledger row are invisible.
    val torn = tmp("delete_torn")
    TextIndex.write(corpus, "doc_id", "text", torn, nShards = 4)
    val before = search(torn)
    df("doc BIGINT", Row(Long.box(1)))
      .withColumn("batch", lit("dX")).coalesce(1)
      .write.mode("append").partitionBy("batch").parquet(torn + "__tombstones")
    assert(search(torn) == before,
      "uncommitted tombstones must be invisible to serving")
    // Retry of the torn batch replaces the orphan rows and commits.
    TextIndex.delete(spark, torn, df("doc_id BIGINT", Row(Long.box(1))), "dX")
    val tornRebuilt = tmp("delete_torn_rebuilt")
    TextIndex.write(corpus.filter(col("doc_id") =!= 1L), "doc_id", "text",
      tornRebuilt, nShards = 4)
    assert(search(torn) == search(tornRebuilt))
    // Compaction physically removes tombstoned postings and drops the
    // sidecar; results unchanged.
    TextIndex.compact(spark, path)
    assert(search(path) == search(rebuilt23),
      "compaction over tombstones must not change results")
    assert(!new java.io.File(path + "__tombstones").exists(),
      "compaction must drop the tombstone sidecar")
    val livePostings = spark.read.parquet(path)
    assert(livePostings.filter(col("doc").isin(2L, 3L)).count() == 0,
      "compaction must physically remove tombstoned postings")
  }

  test("append respects the writer lock (concurrent ingest excluded)") {
    val path = tmp("append_lock")
    TextIndex.write(corpus, "doc_id", "text", path, nShards = 4)
    val lock = new java.io.File(path + ".merge-lock")
    // Lease-less lock (operator-made): never broken, waited out (wait
    // shortened via the prop), then refused loudly.
    java.nio.file.Files.writeString(lock.toPath, "pid=1 app=other")
    sys.props("graft.lockWaitMs") = "200"
    try intercept[graft.operators.Upsert.ConcurrentWriterException] {
      TextIndex.append(appendCorpus, "doc_id", "text", path, "b1")
    } finally sys.props.remove("graft.lockWaitMs")
    assert(lock.delete())
    TextIndex.append(appendCorpus, "doc_id", "text", path, "b1")
    assert(TextIndex.searchBM25(spark, path, Seq("spark"), 10).count() == 4)
  }

  test("two interleaved appends serialize on the lease and BOTH land") {
    val path = tmp("append_race")
    TextIndex.write(corpus, "doc_id", "text", path, nShards = 4)
    // Two writers race the same index root. The loser must WAIT on the
    // winner's lease (not die), then append — the multi-writer shape a
    // double-scheduled batch ingest or two streaming sinks produce.
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(batch: String, id: Long, text: String) = new Thread(() => {
      try TextIndex.append(
        df("doc_id BIGINT, text STRING", Row(Long.box(id), text)),
        "doc_id", "text", path, batch)
      catch { case t: Throwable => errs.add(t); () }
    })
    val t1 = writer("r1", 21L, "spark raced first")
    val t2 = writer("r2", 22L, "spark raced second")
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(errs.isEmpty, s"both writers must land, got: ${errs.peek()}")
    // Ledger shows both batches; both docs serve.
    val batches = spark.read.parquet(path + "__meta")
      .select("batch").collect().map(_.getString(0)).toSet
    assert(batches.contains("r1") && batches.contains("r2"),
      s"ledger must show both racing batches, got $batches")
    val served = TextIndex.searchBM25(spark, path, Seq("spark"), 10)
      .collect().map(_.getLong(0)).toSet
    assert(served.contains(21L) && served.contains(22L),
      "both raced appends must serve")
    assert(!new java.io.File(path + ".merge-lock").exists())
  }

  test("doclens coverage survives compact of an appended index") {
    // Regression: coverage used to be judged against the LEDGER's batch
    // set, which keeps folded append ids forever — so compacting an
    // index that ever had appends failed the subsetOf check for good
    // and silently demoted delete() to the O(index)
    // postings scan. Coverage is now judged against the postings' own
    // on-disk batch dirs, which compact folds in lockstep with the
    // sidecar.
    val path = tmp("cover_compact")
    TextIndex.write(corpus, "doc_id", "text", path, nShards = 4)
    TextIndex.append(appendCorpus, "doc_id", "text", path, "b1")
    assert(TextIndex.doclensCover(spark, path),
      "sidecar covers build+append before compact")
    TextIndex.compact(spark, path)
    assert(TextIndex.doclensCover(spark, path),
      "sidecar must STILL cover after compact folds both stores to " +
        "batch=build (the ledger's folded ids are history, not coverage)")
    // And the covered path keeps producing correct victim stats.
    TextIndex.delete(spark, path, df("doc_id BIGINT", Row(Long.box(1))), "d1")
    val delRow = spark.read.parquet(path + "__meta")
      .filter(col("batch") === "del:d1").head()
    assert(delRow.getLong(1) == -1L)
    // A pre-sidecar index (sidecar dir absent) still reports uncovered.
    val legacy = tmp("cover_legacy")
    TextIndex.write(corpus, "doc_id", "text", legacy, nShards = 4)
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete(); ()
    }
    rmrf(new java.io.File(legacy + "__doclens"))
    assert(!TextIndex.doclensCover(spark, legacy))
  }

  test("delete casts caller id type to the indexed doc type") {
    // Regression: xxhash64 is type-sensitive, so an INT-typed victim id
    // against a BIGINT-keyed sidecar used to compute the wrong dbucket,
    // prune to the wrong partitions, and commit an EMPTY tombstone
    // batch — a silent missed delete.
    val path = tmp("del_cast")
    TextIndex.write(corpus, "doc_id", "text", path, nShards = 4)
    TextIndex.delete(spark, path, df("doc_id INT", Row(Int.box(2))), "d1")
    val delRow = spark.read.parquet(path + "__meta")
      .filter(col("batch") === "del:d1").head()
    assert(delRow.getLong(1) == -1L,
      "an int-typed id must still find its bigint-keyed victim")
    assert(!TextIndex.searchBM25(spark, path, Seq("query"), 10)
      .collect().map(_.getLong(0)).contains(2L),
      "the victim must actually stop serving")
  }

  test("a failing append sink leaves no sibling write running past the writer lock") {
    val path = tmp("sink_failure")
    TextIndex.write(corpus, "doc_id", "text", path, nShards = 4)
    // Inject a failure into the doclens sink only: its root becomes a
    // plain file, so that write fails on one row per doc while the
    // postings write (400 tokens per doc) is still running.
    val doclens = new java.io.File(path + "__doclens")
    org.apache.commons.io.FileUtils.deleteDirectory(doclens)
    java.nio.file.Files.writeString(doclens.toPath, "not a directory")
    val batch = spark.range(100, 1100).select(col("id").as("doc_id"),
      expr("array_join(transform(sequence(1, 400), " +
        "x -> concat('w', cast((x * 7 + id) % 20000 AS STRING))), ' ')")
        .as("words"))
      .select(col("doc_id"), concat_ws(" ", col("words"), lit("merge")).as("text"))
    // Every job start and end, stamped by the scheduler.
    val jobEvents = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobEvents.add(e.time)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobEvents.add(e.time)
    }
    spark.sparkContext.addSparkListener(listener)
    val returned = try {
      intercept[Exception](TextIndex.append(batch, "doc_id", "text", path, "bf"))
      val t = System.currentTimeMillis()
      Thread.sleep(2000) // a sibling still running would start or end a job here
      t
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val late = jobEvents.asScala.count(_ > returned)
    assert(late == 0,
      s"$late job events after append returned: a sibling sink outlived the call")
    assert(!new java.io.File(path + ".merge-lock").exists(), "lock released")
    // The batch never committed: serving ignores its orphan postings,
    // and a retry after the repair lands exactly once.
    assert(TextIndex.searchBM25(spark, path, Seq("merge"), 10)
      .collect().map(_.getLong(0)).toSet == Set(3L))
    assert(doclens.delete())
    TextIndex.append(batch.limit(5), "doc_id", "text", path, "bf")
    assert(TextIndex.searchBM25(spark, path, Seq("merge"), 10).count() == 6)
  }
}
