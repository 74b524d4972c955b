package graft

import graft.streaming.IncrementalStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  private val ss = SparkSpec.spark
  import ss.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("dedupedStream drops duplicate ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp, Long)]
    val src = mem.toDF().toDF("id", "ts", "v")
    val q = IncrementalStream.dedupedStream(src, "id", "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    mem.addData(
      ("a", ts("2024-01-01 10:00:00"), 1L),
      ("a", ts("2024-01-01 10:00:00"), 1L), // exact dup
      ("b", ts("2024-01-01 10:01:00"), 2L))
    q.processAllAvailable()
    mem.addData(("a", ts("2024-01-01 10:00:00"), 1L)) // cross-batch dup
    q.processAllAvailable()
    val rows = spark.table("dedup_out").collect()
    q.stop()
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
  }

  test("dedupedStreamById drops a re-served doc with a NEWER event time") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp, Long)]
    val src = mem.toDF().toDF("id", "ts", "v")
    val q = IncrementalStream.dedupedStreamById(src, "id", "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_id_out")
      .outputMode("append").start()
    mem.addData(
      ("a", ts("2024-01-01 10:00:00"), 1L),
      ("b", ts("2024-01-01 10:01:00"), 2L))
    q.processAllAvailable()
    // Re-served doc: same id, newer updateTime — the overlap re-read
    // case (id,ts)-dedup would wrongly emit again.
    mem.addData(("a", ts("2024-01-01 10:05:00"), 99L))
    q.processAllAvailable()
    val rows = spark.table("dedup_id_out").collect()
    q.stop()
    assert(rows.map(r => (r.getString(0), r.getLong(2))).sorted.toSeq ==
      Seq(("a", 1L), ("b", 2L)), "first occurrence wins per id")
  }

  test("dedupedStreamByContent drops exact re-crawls, keeps distinct bodies") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val src = mem.toDF().toDF("doc_id", "text", "ts")
    val q = IncrementalStream.dedupedStreamByContent(src, "text", "ts",
        "10 minutes")
      .writeStream.format("memory").queryName("dedup_content_out")
      .outputMode("append").start()
    mem.addData(
      (1L, "same body", ts("2024-01-01 10:00:00")),
      (2L, "same body", ts("2024-01-01 10:01:00")), // in-batch exact dup
      (3L, "other body", ts("2024-01-01 10:01:30")))
    q.processAllAvailable()
    // Cross-batch re-crawl: different doc_id AND newer timestamp, same
    // bytes — id-keyed dedup would emit it; content dedup must not.
    mem.addData((4L, "same body", ts("2024-01-01 10:05:00")),
      (5L, "third body", ts("2024-01-01 10:06:00")))
    q.processAllAvailable()
    val rows = spark.table("dedup_content_out").collect()
    q.stop()
    assert(rows.map(_.getString(1)).sorted.toSeq ==
      Seq("other body", "same body", "third body"),
      "one survivor per distinct body")
    assert(!rows.map(_.schema.fieldNames.toSeq).exists(_.contains("__digest")),
      "the digest working column must not leak into the output")
  }

  test("streaming corpus ingest: native quality gate composes with content dedup") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val src = mem.toDF().toDF("doc_id", "text", "ts")
    // The batch text battery in a STREAMING plan: the native ngram_stats
    // expression is row-level, so the same quality gate the corpus
    // build uses (q55) runs unchanged over micro-batches, feeding the
    // digest-keyed dedup state.
    val st = graft.functions.TextFunctions.ngramStats(col("text"), 2)
    val gated = src
      .withColumn("__st", st)
      .filter(col("__st").getField("n_tokens") >= 4)
      .drop("__st")
    val q = IncrementalStream.dedupedStreamByContent(gated, "text", "ts",
        "10 minutes")
      .writeStream.format("memory").queryName("corpus_ingest_out")
      .outputMode("append").start()
    mem.addData(
      (1L, "a good long document body", ts("2024-01-01 10:00:00")),
      (2L, "short", ts("2024-01-01 10:00:30")), // fails the quality gate
      (3L, "a good long document body", ts("2024-01-01 10:01:00"))) // dup of 1
    q.processAllAvailable()
    mem.addData(
      (4L, "short", ts("2024-01-01 10:02:00")), // still gated out
      (5L, "another acceptable document here", ts("2024-01-01 10:03:00")),
      (6L, "a good long document body", ts("2024-01-01 10:04:00"))) // cross-batch dup
    q.processAllAvailable()
    val rows = spark.table("corpus_ingest_out").collect()
    q.stop()
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(1L, 5L),
      "quality-gated, content-deduplicated survivors only")
  }

  test("dedupIngestSink: cross-batch near-dups die against the band index") {
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("ingest")
    val (corpus, index, ckpt) =
      (s"$base/corpus", s"$base/index", s"$base/ckpt")
    val mem = MemoryStream[(Long, String)]
    val src = mem.toDF().toDF("doc_id", "text")
    val writer = IncrementalStream.dedupIngestSink(
      src.writeStream, spark, "doc_id", "text", corpus, index, ckpt)
    // Batch 1: two distinct docs + one within-batch exact dup (id 2
    // loses to id 1, the component minimum).
    mem.addData(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely here now"))
    val q = IncrementalStream.runAvailableNow(writer)
    q.awaitTermination(60000); q.stop()
    assert(spark.read.parquet(corpus).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // Batch 2: a near-dup of doc 1 dies against the INDEX
    // (cross-batch), a novel doc lands.
    mem.addData(
      (4L, "the quick brown fox jumps over the lazy dog"),
      (5L, "unrelated content that matches nothing else at all"))
    val q2 = IncrementalStream.runAvailableNow(writer)
    q2.awaitTermination(60000); q2.stop()
    assert(spark.read.parquet(corpus).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L),
      "doc 4 must die against the persisted index; doc 5 must land")
    // The index now covers every accepted doc (2 bands each).
    assert(spark.read.parquet(index).select("doc_id").distinct().count() == 3)
    // Replay: foreachBatch is at-least-once, so the SAME rows arriving
    // again (fresh checkpoint = forced re-delivery) must append
    // nothing — the id anti-join makes the ingest idempotent.
    val mem3 = MemoryStream[(Long, String)]
    mem3.addData(
      (4L, "the quick brown fox jumps over the lazy dog"),
      (5L, "unrelated content that matches nothing else at all"))
    val q3 = IncrementalStream.runAvailableNow(
      IncrementalStream.dedupIngestSink(
        mem3.toDF().toDF("doc_id", "text").writeStream,
        spark, "doc_id", "text", corpus, index, s"$base/ckpt3"))
    q3.awaitTermination(60000); q3.stop()
    assert(spark.read.parquet(corpus).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L),
      "a replayed batch must not duplicate corpus rows")
    assert(spark.read.parquet(index).select("doc_id").distinct().count() == 3)
  }

  test("dailyCounts windows by event-time day") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val src = mem.toDF().toDF("k", "ts")
    val q = IncrementalStream.dailyCounts(src, "ts", "k", "1 hour")
      .writeStream.format("memory").queryName("daily_out")
      .outputMode("complete").start()
    mem.addData(
      ("u1", ts("2024-01-01 10:00:00")), ("u1", ts("2024-01-01 23:59:00")),
      ("u1", ts("2024-01-02 00:01:00")), ("u2", ts("2024-01-01 12:00:00")))
    q.processAllAvailable()
    val rows = spark.table("daily_out")
      .collect().map(r => (r.get(0).toString.take(10), r.getString(1)) -> r.getLong(2)).toMap
    q.stop()
    assert(rows == Map(
      ("2024-01-01", "u1") -> 2L, ("2024-01-02", "u1") -> 1L,
      ("2024-01-01", "u2") -> 1L))
  }

  test("sessionCounts closes sessions gap after the last event") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val src = mem.toDF().toDF("k", "ts")
    val q = IncrementalStream.sessionCounts(src, "ts", "k", "10 minutes", "0 seconds")
      .writeStream.format("memory").queryName("session_out")
      .outputMode("complete").start()
    mem.addData(
      ("u1", ts("2024-01-01 10:00:00")), ("u1", ts("2024-01-01 10:05:00")),
      ("u1", ts("2024-01-01 11:00:00")))  // > 10 min gap → new session
    q.processAllAvailable()
    val rows = spark.table("session_out").collect()
      .map(r => (r.getString(2), r.get(0).toString.substring(11, 16)) -> r.getLong(3)).toMap
    q.stop()
    assert(rows == Map(("u1", "10:00") -> 2L, ("u1", "11:00") -> 1L))
  }

  test("runningCountsWithState accumulates per-key state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val src = mem.toDF().toDF("k")
    val q = IncrementalStream.runningCountsWithState(src, "k")
      .writeStream.format("memory").queryName("state_out")
      .outputMode("update").start()
    mem.addData("a", "a", "b")
    q.processAllAvailable()
    mem.addData("a", "b", "c")
    q.processAllAvailable()
    val latest = spark.table("state_out")
      .groupBy("key").agg(max("n").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    q.stop()
    assert(latest == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
  }

  test("upsertSink merges micro-batches into partitioned parquet exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Paths.get(tempDir("stream_upsert"))
    val tablePath = dir.resolve("table").toString
    val ckPath = dir.resolve("ck").toString
    val mem = MemoryStream[(String, String, Long)]
    val src = mem.toDF().toDF("k", "d", "v")
    val writer = IncrementalStream.upsertSink(
      src.writeStream, spark, tablePath, Seq("k"), "d", ckPath)

    mem.addData(("k1", "2024-01-01", 1L), ("k2", "2024-01-02", 2L))
    val q1 = IncrementalStream.runAvailableNow(writer)
    q1.awaitTermination(60000); q1.stop()
    mem.addData(("k1", "2024-01-01", 10L), ("k3", "2024-01-02", 3L))
    val q2 = IncrementalStream.runAvailableNow(writer)
    q2.awaitTermination(60000); q2.stop()

    val out = spark.read.parquet(tablePath)
      .collect().map(r => r.getAs[String]("k") -> r.getAs[Long]("v")).toMap
    assert(out == Map("k1" -> 10L, "k2" -> 2L, "k3" -> 3L))
  }

  test("PagedStream.tick: paged fetch drains through AvailableNow into the upsert target") {
    import graft.sources.FixtureSources
    import graft.pipelines.CallioIngest
    import graft.streaming.PagedStream
    val T0 = 1704844800000L // 2024-01-10T00:00:00Z, one doc per minute
    val dir = java.nio.file.Paths.get(tempDir("paged_stream"))
    def run(fetchEnd: Long, version: Int, cutoff: Long) =
      PagedStream.tick(spark,
        new FixtureSources.Paged(T0, 120, version = version),
        entity = "customer", tenant = "PK", timeField = "updateTime",
        cutoffMs = cutoff, nowMs = fetchEnd, feed = CallioIngest.customerFeed,
        transform = CallioIngest.customerTransform(_, "PK"),
        spoolDir = dir.resolve("spool").toString,
        targetPath = dir.resolve("customer").toString,
        keys = Seq("tenant", "_id"), partitionCol = "NgayUpdate",
        checkpointDir = dir.resolve("ck").toString,
        sliceMs = 1800000L, pageSize = 13)

    // Tick 1: cold start pulls the first 60 docs.
    val r1 = run(T0 + 60 * 60000L, version = 1, cutoff = T0 - 1)
    assert(r1.stagedRows == 60 && !r1.hitResultWindowLimit)
    val t1 = spark.read.parquet(dir.resolve("customer").toString)
    assert(t1.count() == 60)
    assert(t1.filter(col("_id") === "c7").head()
      .getAs[String]("name") == "cust 7 v1")

    // Tick 2: 60 new docs + overlap re-read of the last 10 under a new
    // version — re-served rows must update in place, not duplicate.
    val r2 = run(T0 + 120 * 60000L, version = 2, cutoff = T0 + 49 * 60000L)
    assert(r2.stagedRows == 70)
    val t2 = spark.read.parquet(dir.resolve("customer").toString)
    assert(t2.count() == 120, "overlap re-read must merge, not append")
    assert(t2.filter(col("_id") === "c55").head()
      .getAs[String]("name") == "cust 55 v2", "re-served doc takes the update")

    // Tick 3: empty fetch — the drain is a no-op but must not fail, and
    // already-processed spool files are never re-merged (checkpoint).
    val r3 = run(T0 + 120 * 60000L, version = 2, cutoff = T0 + 200 * 60000L)
    assert(r3.stagedRows == 0)
    assert(spark.read.parquet(dir.resolve("customer").toString).count() == 120)
  }

  test("vectorIngestSink: micro-batches append into the IVF index; replay appends nothing") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val all = Seq(
      1L -> v(10, 0, 0, 0, 1, 0, 0, 0), 2L -> v(9, 1, 0, 0, 1, 0, 0, 0),
      3L -> v(0, 10, 0, 0, 0, 1, 0, 0), 4L -> v(1, 9, 0, 0, 0, 1, 0, 0))
    val allDf = df("vec_id BIGINT, embedding ARRAY<FLOAT>",
      all.map { case (id, vec) =>
        org.apache.spark.sql.Row(Long.box(id), vec) }: _*)
    val cents = Similarity.centroids(
      Similarity.signLshBuckets(allDf, "embedding")
        .select(col("bucket").as("cluster"), col("embedding")),
      "cluster", "embedding").localCheckpoint(true)
    val dir = tempDir("graft_vis")
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.IncrementalStream.vectorIngestSink(
        mem.toDF().toDF("vec_id", "embedding").writeStream,
        spark, "vec_id", "embedding", cents, s"$dir/index", s"$dir/ck")
      .outputMode("append").start()
    mem.addData(all(0), all(1))
    q.processAllAvailable()
    mem.addData(all(2), all(3))
    // Replayed/duplicate arrival in the same stream: id 1 again.
    mem.addData(all(0))
    q.processAllAvailable()
    q.stop()
    // Index holds each vector exactly once despite the duplicate.
    val idx = spark.read.parquet(s"$dir/index")
    assert(idx.count() == 4 &&
      idx.select("vec_id").distinct().count() == 4)
    // Search over the streamed index == search over a bulk build.
    val bulk = s"$dir/bulk"
    Similarity.ivfWrite(allDf, "vec_id", "embedding", cents, bulk)
    def top(p: String) = Similarity.ivfSearch(spark, p, "vec_id",
        "embedding", cents, v(10, 0, 0, 0, 1, 0, 0, 0), k = 4, nprobe = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top(s"$dir/index") == top(bulk))
    // The drift ledger logged every batch, including the 1-row and
    // replayed arrivals (ledger n counts appended rows only).
    val ledger = Similarity.ivfStats(spark, s"$dir/index")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ledger.values.sum == 4, s"ledger: $ledger")
  }

  test("textIngestSink: micro-batches append; search == bulk rebuild; dups safe") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextIndex
    val all = Seq(
      1L -> "spark runs fast spark scales",
      2L -> "query planning in spark",
      3L -> "merge statements update tables",
      4L -> "unrelated words only here")
    def rows(xs: Seq[(Long, String)]) = df("doc_id BIGINT, text STRING",
      xs.map { case (i, t) =>
        org.apache.spark.sql.Row(Long.box(i), t) }: _*)
    val dir = tempDir("graft_tis")
    // Bootstrap build freezes the shard routing; the stream grows it.
    TextIndex.write(rows(all.take(1)), "doc_id", "text", s"$dir/index",
      nShards = 4)
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.IncrementalStream.textIngestSink(
        mem.toDF().toDF("doc_id", "text").writeStream, spark,
        "doc_id", "text", s"$dir/index", s"$dir/ck")
      .outputMode("append").start()
    mem.addData(all(1), all(2))
    q.processAllAvailable()
    mem.addData(all(3), all(0)) // doc 1 re-arrives: already indexed
    q.processAllAvailable()
    q.stop()
    val bulk = s"$dir/bulk"
    TextIndex.write(rows(all), "doc_id", "text", bulk, nShards = 4)
    def bm(p: String) = TextIndex.searchBM25(spark, p,
        Seq("spark", "merge"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(bm(s"$dir/index") == bm(bulk),
      "streamed index must search identically to a bulk build")
    assert(TextIndex.indexedIds(spark, s"$dir/index").count() == 4,
      "each doc indexed exactly once despite the duplicate arrival")
  }

  test("erasureSink: forget requests reach text+band+vector; duplicates safe") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Dedup, Similarity, TextIndex}
    val docs = df("doc_id BIGINT, text STRING",
      org.apache.spark.sql.Row(Long.box(1), "spark runs fast spark scales"),
      org.apache.spark.sql.Row(Long.box(2), "query planning in spark"),
      org.apache.spark.sql.Row(Long.box(3), "merge statements update tables"))
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val vecs = df("vec_id BIGINT, embedding ARRAY<FLOAT>",
      org.apache.spark.sql.Row(Long.box(1), v(10, 0, 0, 0)),
      org.apache.spark.sql.Row(Long.box(2), v(9, 1, 0, 0)),
      org.apache.spark.sql.Row(Long.box(3), v(0, 10, 0, 0)))
    val cents = Similarity.centroids(
      Similarity.signLshBuckets(vecs, "embedding")
        .select(col("bucket").as("cluster"), col("embedding")),
      "cluster", "embedding").localCheckpoint(true)
    val dir = tempDir("graft_es")
    TextIndex.write(docs, "doc_id", "text", s"$dir/text", nShards = 4)
    Dedup.bandIndexWrite(docs, "doc_id", "text", 4, 3, 2, s"$dir/band")
    Similarity.ivfWrite(vecs, "vec_id", "embedding", cents, s"$dir/ivf")
    val mem = MemoryStream[Long]
    val q = graft.streaming.IncrementalStream.erasureSink(
        mem.toDF().toDF("doc_id").writeStream, spark, "doc_id",
        Some(s"$dir/text"), Some(s"$dir/band"), Some(s"$dir/ivf"),
        s"$dir/ck")
      .outputMode("append").start()
    mem.addData(2L)
    q.processAllAvailable()
    // a later batch re-requests id 2 (at-least-once) plus a fresh id
    mem.addData(2L, 3L)
    q.processAllAvailable()
    q.stop()
    // text: ids 2 and 3 gone, df/nDocs behave as rebuilt-without
    val rebuilt = tempDir("graft_es_ref") + "/text"
    TextIndex.write(docs.filter(col("doc_id") === 1L), "doc_id", "text",
      rebuilt, nShards = 4)
    def bm(p: String) = TextIndex.searchBM25(spark, p, Seq("spark"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(bm(s"$dir/text") == bm(rebuilt),
      "streamed erasure must equal rebuild-without on the text index")
    // vector: erased ids never rank
    val hits = Similarity.ivfSearch(spark, s"$dir/ivf", "vec_id",
        "embedding", cents, v(10, 0, 0, 0), k = 5, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L), s"expected only id 1, got $hits")
    // band: erased docs never surface as near-dup candidates
    val probe = Dedup.incrementalNearDupPairs(spark, s"$dir/band",
      docs, df("doc_id BIGINT, text STRING",
        org.apache.spark.sql.Row(Long.box(9),
          "query planning in spark")), "doc_id", "text", minJaccard = 0.3)
    assert(probe.collect().isEmpty,
      "erased doc 2 must not match its own duplicate")
  }

  test("sessionExamples: completed sessions emit via gap break AND watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val src = mem.toDF().toDF("user_id", "ts", "event_type")
    val q = IncrementalStream.sessionExamples(src, "user_id", "ts",
        "event_type", gapMs = 30 * 60000L, lateness = "10 minutes")
      .writeStream.format("memory").queryName("sess_ex_out")
      .outputMode("append").start()
    // Batch 1: user 1 has an open session of 3 events; user 2 has 1.
    mem.addData(
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:05:00"), "click"),
      (1L, ts("2024-01-01 10:10:00"), "purchase"),
      (2L, ts("2024-01-01 10:00:00"), "view"))
    q.processAllAvailable()
    assert(spark.table("sess_ex_out").count() == 0,
      "open sessions must not emit")
    // Batch 2: a user-1 event far past the gap breaks the old session —
    // it must emit IMMEDIATELY (in-stream break, no watermark needed).
    mem.addData((1L, ts("2024-01-01 12:00:00"), "view"))
    q.processAllAvailable()
    val afterBreak = spark.table("sess_ex_out").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getString(4), r.getString(5)))
    assert(afterBreak.toSeq == Seq((1L, 3L, "view click", "purchase")),
      s"gap break must close the first session: ${afterBreak.toSeq}")
    // Batch 3: advance event time far enough that the watermark
    // (max event time - 10 min) passes every open session's
    // last-event + gap; the timeout path must flush them. User 2's
    // single-event session carries no (input, label) and is dropped;
    // user 1's open {12:00 view, 12:01 click} session emits. Two
    // triggers: one to advance the watermark, one to fire timeouts.
    mem.addData((1L, ts("2024-01-01 12:01:00"), "click"),
      (3L, ts("2024-01-01 23:00:00"), "view"))
    q.processAllAvailable()
    mem.addData((3L, ts("2024-01-01 23:30:00"), "view"))
    q.processAllAvailable()
    val all = spark.table("sess_ex_out").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getString(4), r.getString(5)))
      .toSet
    q.stop()
    assert(all.contains((1L, 2L, "view", "click")),
      s"watermark timeout must flush the tail session: $all")
    assert(!all.exists(_._1 == 2L), "singleton sessions carry no example")
  }

  test("timeBoundJoin: clicks attribute to impressions inside the window") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = IncrementalStream.timeBoundJoin(
      imps.toDF().toDF("imp_id", "imp_ts", "imp_user"), "imp_user", "imp_ts",
      clicks.toDF().toDF("click_id", "click_ts", "click_user"),
      "click_user", "click_ts",
      within = "10 minutes", lateness = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("tbj_out")
      .outputMode("append").start()
    imps.addData(
      (100L, ts("2024-01-01 10:00:00"), 1L),
      (101L, ts("2024-01-01 10:00:00"), 2L),
      (102L, ts("2024-01-01 11:00:00"), 1L))
    clicks.addData(
      (900L, ts("2024-01-01 10:05:00"), 1L), // inside imp 100's window
      (901L, ts("2024-01-01 10:30:00"), 2L), // 30 min late: outside
      (902L, ts("2024-01-01 09:59:00"), 1L)) // BEFORE the impression
    q.processAllAvailable()
    val got = spark.table("tbj_out").collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    q.stop()
    assert(got == Set((100L, 900L)),
      s"only the in-window same-user click may attribute: $got")
  }

  test("timeBoundJoin leftOuter: unmatched impressions emit after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = IncrementalStream.timeBoundJoin(
      imps.toDF().toDF("imp_id", "imp_ts", "imp_user"), "imp_user", "imp_ts",
      clicks.toDF().toDF("click_id", "click_ts", "click_user"),
      "click_user", "click_ts",
      within = "10 minutes", lateness = "5 minutes", joinType = "leftOuter")
    val q = joined.writeStream.format("memory").queryName("tbj_outer_out")
      .outputMode("append").start()
    imps.addData(
      (100L, ts("2024-01-01 10:00:00"), 1L),
      (101L, ts("2024-01-01 10:00:00"), 2L)) // never clicked
    clicks.addData((900L, ts("2024-01-01 10:04:00"), 1L))
    q.processAllAvailable()
    // Push BOTH watermarks far past imp 101's window + lateness so the
    // engine can prove no matching click is still possible.
    imps.addData((199L, ts("2024-01-01 12:00:00"), 9L))
    clicks.addData((999L, ts("2024-01-01 12:00:00"), 9L))
    q.processAllAvailable()
    imps.addData((198L, ts("2024-01-01 12:30:00"), 9L))
    clicks.addData((998L, ts("2024-01-01 12:30:00"), 9L))
    q.processAllAvailable()
    val rows = spark.table("tbj_outer_out").collect()
      .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long]))
      .toMap
    q.stop()
    assert(rows(100L).contains(900L))
    assert(rows.contains(101L) && rows(101L).isEmpty,
      s"unmatched impression must emit with null click: $rows")
  }

  test("timeBoundJoin refuses colliding column names") {
    implicit val sqlCtx = spark.sqlContext
    val a = MemoryStream[(Long, java.sql.Timestamp)]
    val b = MemoryStream[(Long, java.sql.Timestamp)]
    intercept[IllegalArgumentException] {
      IncrementalStream.timeBoundJoin(
        a.toDF().toDF("id", "ts"), "id", "ts",
        b.toDF().toDF("id", "ts"), "id", "ts", "5 minutes", "1 minute")
    }
  }

  test("JSONL quarantine parse composes with readStream (map-side only)") {
    // parseWithQuarantine is pure column ops (from_json PERMISSIVE), so
    // the same ingest-with-quarantine contract holds on a stream — the
    // shape a continuously-landing JSONL drop zone needs.
    implicit val sqlCtx = spark.sqlContext
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType)))
    val mem = MemoryStream[String]
    val q = graft.sources.JsonlSource.parseWithQuarantine(
        mem.toDF().toDF("line"), "line", schema)
      .writeStream.format("memory").queryName("jsonl_stream_out")
      .outputMode("append").start()
    mem.addData("""{"id":1,"name":"a"}""", """{"id":2""", "garbage")
    q.processAllAvailable()
    val rows = spark.table("jsonl_stream_out").collect()
      .map(r => r.getString(0) -> r.getBoolean(3)).toMap
    q.stop()
    assert(rows == Map(
      """{"id":1,"name":"a"}""" -> false,
      """{"id":2""" -> true,
      "garbage" -> true))
  }

  test("JSONL drop-zone sink: good rows to parquet, torn lines to quarantine") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("jsonl_dropzone")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val mem = MemoryStream[String]
    val q = graft.sources.JsonlSource.ingestStream(
        mem.toDF().toDF("line"), schema, dir + "/good", dir + "/bad")
      .option("checkpointLocation", dir + "/ckpt").start()
    mem.addData("""{"id":1}""", "torn{", """{"id":2}""")
    q.processAllAvailable()
    mem.addData("""{"id":3}""")
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(dir + "/good").select("id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(spark.read.text(dir + "/bad")
      .collect().map(_.getString(0)).toSeq == Seq("torn{"))
  }
}
