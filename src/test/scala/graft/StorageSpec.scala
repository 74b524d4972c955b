package graft

import graft.sources.Storage
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

class StorageSpec extends SparkSpec {

  private val kd = StructType.fromDDL("k BIGINT, d STRING")

  test("loadAppend allows field addition; older rows read it as null") {
    val dir = tempDir("evolve") + "/t"
    Storage.loadAppend(df("a BIGINT, b STRING",
      Row(Long.box(1), "x")), dir)
    // Second batch adds column c (ALLOW_FIELD_ADDITION semantics,
    // reference bigquery_service.py:276-284).
    Storage.loadAppend(df("a BIGINT, b STRING, c DOUBLE",
      Row(Long.box(2), "y", Double.box(2.5))), dir)
    val out = Storage.read(spark, dir, StructType.fromDDL("a BIGINT, b STRING, c DOUBLE"))
    assert(out.columns.toSeq == Seq("a", "b", "c"))
    val byA = out.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) null else r.getDouble(2))).toMap
    assert(byA == Map(1L -> null, 2L -> 2.5), "old rows surface the new column as null")
    // A reader that does not declare c does not see it.
    assert(Storage.read(spark, dir, StructType.fromDDL("a BIGINT, b STRING"))
      .columns.toSeq == Seq("a", "b"))
  }

  test("a declared read fails, naming the file, on a retyped column") {
    val dir = tempDir("retyped") + "/t"
    Storage.loadAppend(df("k BIGINT, v STRING, d STRING",
      Row(Long.box(1), "x", "2024-01-01")), dir, partitionCol = Some("d"))
    // The partition column lives in directory names, not in the footer:
    // declaring it is no mismatch.
    val ok = Storage.read(spark, dir, StructType.fromDDL("k BIGINT, v STRING, d DATE"))
    assert(ok.collect().map(_.getDate(2).toString).toSeq == Seq("2024-01-01"))
    val e = intercept[IllegalStateException] {
      Storage.read(spark, dir, StructType.fromDDL("k INT, v STRING, d DATE"))
    }
    val file = new java.io.File(dir + "/d=2024-01-01").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    assert(e.getMessage.contains(file.getPath) && e.getMessage.contains("types k as bigint"),
      e.getMessage)
  }

  test("loadTruncate replaces contents even when reading its own input") {
    val dir = tempDir("trunc") + "/t"
    Storage.loadAppend(df("a BIGINT", Row(Long.box(1)), Row(Long.box(2))), dir)
    val a = StructType.fromDDL("a BIGINT")
    val filtered = Storage.read(spark, dir, a).filter(col("a") === 2)
    Storage.loadTruncate(filtered, dir)
    assert(Storage.read(spark, dir, a).collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("bucketed tables join without any exchange") {
    val a = spark.range(0, 10000).selectExpr("id AS k", "id * 2 AS va")
    val b = spark.range(0, 10000).selectExpr("id AS k", "id * 3 AS vb")
    Storage.writeBucketed(a, "bucket_a", "k", 8)
    Storage.writeBucketed(b, "bucket_b", "k", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bucket_a").join(spark.table("bucket_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed co-located join must not shuffle:\n$plan")
      assert(joined.count() == 10000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("compact collapses accumulated small files without changing data") {
    val dir = tempDir("compact") + "/t"
    (1 to 5).foreach { i =>
      Storage.loadAppend(
        df("k BIGINT, d STRING", Row(Long.box(i), "2024-01-01"),
          Row(Long.box(i + 100), "2024-01-02")).repartition(4),
        dir, partitionCol = Some("d"))
    }
    def files(p: String) = new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = files(s"$dir/d=2024-01-01")
    assert(before >= 5, s"expected many small files, got $before")
    val data = rowSet(Storage.read(spark, dir, kd))
    Storage.compact(spark, dir, kd, Seq("d"))
    assert(files(s"$dir/d=2024-01-01") < before)
    assert(rowSet(Storage.read(spark, dir, kd)) == data, "compaction must not change data")
  }

  test("compact recovers a crash between the two swap renames") {
    val dir = tempDir("cpr") + "/t"
    Storage.loadAppend(
      df("k BIGINT, d STRING", Row(Long.box(1), "2024-01-01"),
        Row(Long.box(2), "2024-01-02")), dir, partitionCol = Some("d"))
    val data = rowSet(Storage.read(spark, dir, kd))
    // Simulate the crash position: live table parked at .compact-old,
    // a half-written tmp left behind, no live table at `dir`.
    val f = new java.io.File(dir)
    assert(f.renameTo(new java.io.File(dir + ".compact-old")))
    new java.io.File(dir + ".compact-tmp").mkdirs()
    // Next compact must restore the parked table, discard the stale
    // tmp, and complete normally.
    Storage.compact(spark, dir, kd, Seq("d"))
    assert(rowSet(Storage.read(spark, dir, kd)) == data)
    assert(!new java.io.File(dir + ".compact-old").exists())
    assert(!new java.io.File(dir + ".compact-tmp").exists())
  }

  test("writeShards: one position-sorted file per bounded shard") {
    val dir = tempDir("shards") + "/t"
    // 100 rows in a scrambled layout; positions 0..99, 25 per shard.
    val rows = spark.range(100).toDF("pos")
      .withColumn("payload", concat(lit("doc"), col("pos")))
      .repartition(7)
    Storage.writeShards(rows, "pos", 25, dir)
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    assert(shardDirs.map(_.getName).toSet ==
      Set("shard=0", "shard=1", "shard=2", "shard=3"))
    shardDirs.foreach { d =>
      val k = d.getName.stripPrefix("shard=").toLong
      // Whole shard in ONE file: the loader streams it sequentially.
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName}: expected one file, got ${files.length}")
      // File order IS training order: positions are the shard's exact
      // contiguous range, already sorted on disk.
      val ps = spark.read.parquet(files(0).toString)
        .select("pos").collect().map(_.getLong(0)).toSeq
      assert(ps == (k * 25 until (k + 1) * 25).toSeq,
        s"${d.getName}: rows must be the contiguous sorted range, got $ps")
    }
    // Roundtrip: nothing lost, nothing duplicated.
    assert(spark.read.parquet(dir).count() == 100)
    // A shard export is a snapshot: re-exporting a SMALLER corpus must
    // remove the previous export's tail shards (under dynamic
    // partition overwrite a plain overwrite would leave them stale).
    Storage.writeShards(rows.filter(col("pos") < 60), "pos", 25, dir)
    val after = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).toSet
    assert(after == Set("shard=0", "shard=1", "shard=2"),
      s"stale shards must not survive a re-export, got $after")
    assert(spark.read.parquet(dir).count() == 60)
    // The manifest is the loader contract: per-shard counts + verified
    // totals, readable without listing shard files.
    assert(Storage.readShardManifest(spark, dir) ==
      Seq((0L, 25L), (1L, 25L), (2L, 10L)))
  }

  test("writeShards refuses to delete a target that is not a prior export") {
    // The delete guard: a mistyped path pointing at unrelated data must
    // refuse, not recursively destroy it. Absent and empty targets, and
    // prior exports (have _manifest.jsonl), overwrite fine (covered
    // above); only the dangerous case errors.
    val dir = tempDir("notexport")
    val victim = new java.io.File(dir, "precious.txt")
    java.nio.file.Files.write(victim.toPath, "do not delete".getBytes)
    val rows = spark.range(10).toDF("pos")
    val e = intercept[IllegalArgumentException] {
      Storage.writeShards(rows, "pos", 5, dir)
    }
    assert(e.getMessage.contains("refusing to overwrite"))
    assert(victim.exists, "the non-export target must be left untouched")
    // An EMPTY existing directory is fine.
    val empty = tempDir("emptytgt")
    Storage.writeShards(rows, "pos", 5, empty)
    assert(Storage.readShardManifest(spark, empty) == Seq((0L, 5L), (1L, 5L)))
  }

  test("readShardManifest fails loudly on an empty manifest") {
    val dir = tempDir("emptymani")
    java.nio.file.Files.write(
      new java.io.File(dir, "_manifest.jsonl").toPath, Array.empty[Byte])
    val e = intercept[IllegalStateException] {
      Storage.readShardManifest(spark, dir)
    }
    assert(e.getMessage.contains("empty shard manifest"))
  }

  test("training-set materialization: clean → dedup → shuffle → shard → manifest") {
    // The capstone composition a training run consumes: quality-kept,
    // near-dup-free docs in a deterministic shuffle order, sharded
    // with a verifiable manifest. Each stage is the already-gated
    // operator; this pins the END-TO-END contract (counts conserve,
    // order survives the shard files, manifest tells the truth).
    import graft.operators.{Dedup, Sampling}
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    // Clean: drop docs under 20 words (q46's length gate).
    val kept0 = docs.filter(size(split(col("text"), " ")) >= 20)
    // Dedup: drop near-dup losers (non-minimum component members).
    val losers = Dedup.connectedComponents(
        Dedup.nearDupPairs(kept0, "doc_id", "text", minJaccard = 0.5))
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
    val kept = kept0.join(losers, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val nKept = kept.count()
    // Order + shard + manifest.
    val dir = tempDir("trainset") + "/shards"
    Sampling.deterministicShuffle(kept, "doc_id", "run1")
      .transform(d => { Storage.writeShards(d, "pos", 40, dir); d })
    val manifest = Storage.readShardManifest(spark, dir)
    assert(manifest.map(_._2).sum == nKept, "manifest must count every doc")
    assert(manifest.init.forall(_._2 == 40), "only the tail shard is ragged")
    // Replaying shard dirs in order replays the corpus in train order:
    // positions are contiguous from 0 and position-sorted within files.
    // Partition-dir values type-infer as INT on read-back.
    val back = spark.read.parquet(dir)
      .select("shard", "pos").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1))).sortBy(_._2)
    assert(back.map(_._2).toSeq == (0L until nKept).toSeq)
    back.foreach { case (shard, pos) => assert(shard == pos / 40) }
  }

  test("exists requires data files, not just a directory") {
    val dir = tempDir("exists")
    assert(!Storage.exists(spark, dir + "/missing"))
    assert(!Storage.exists(spark, dir)) // empty directory
    Storage.loadAppend(df("a BIGINT", Row(Long.box(1))), dir + "/t")
    assert(Storage.exists(spark, dir + "/t"))
  }

  test("exportAs(orc): round-trip exact; pruned read-back reaches the scan") {
    val dir = tempDir("orc_export")
    val data = df("id BIGINT, lang STRING, v BIGINT",
      (1L to 60L).map(i =>
        Row(Long.box(i), if (i % 2 == 0) "en" else "de", Long.box(i * 10))): _*)
    Storage.exportAs(data, dir, "orc",
      partitionCol = Some("lang"), clusterBy = Seq("id"))
    val back = Storage.readAs(spark, dir, "orc")
    // lossless: same row set and types through the format boundary
    assert(back.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getString(2))).toSet ==
      data.collect().map(r => (r.getLong(0), r.getLong(2),
        r.getString(1))).toSet)
    // scan efficiency, which a result hash cannot see: the partition
    // filter must PRUNE (only lang=en read) and the id predicate must
    // reach the ORC reader as a pushed filter.
    val q = back.filter(col("lang") === "en" && col("id") < 10)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(id,10)"),
      s"id predicate must push into the ORC scan:\n$plan")
    assert(plan.contains("PartitionFilters") &&
      plan.contains("isnotnull(lang") ,
      s"lang must be a partition filter, not a data filter:\n$plan")
    assert(q.collect().map(_.getLong(0)).toSet == Set(2L, 4L, 6L, 8L))
    // row formats are not table exports — loud, not silent
    intercept[IllegalArgumentException] {
      Storage.exportAs(data, dir + "/bad", "csv")
    }
  }
}
