package graft

import graft.operators.Upsert
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class UpsertSpec extends SparkSpec {

  private def target = df("k BIGINT, v STRING, t BIGINT",
    Row(Long.box(1), "t1", Long.box(10)),
    Row(Long.box(2), "t2", Long.box(10)),
    Row(Long.box(3), "t3", Long.box(10)))

  test("matched rows update, unmatched source rows insert, untouched rows survive") {
    val source = df("k BIGINT, v STRING, t BIGINT",
      Row(Long.box(2), "s2", Long.box(20)),
      Row(Long.box(9), "s9", Long.box(20)))
    val out = Upsert.upsert(target, source, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "t1", 2L -> "s2", 3L -> "t3", 9L -> "s9"))
  }

  test("updateCond guards the update (hash/recency guard semantics)") {
    val source = df("k BIGINT, v STRING, t BIGINT",
      Row(Long.box(1), "stale", Long.box(5)),   // older than target
      Row(Long.box(2), "fresh", Long.box(20)))  // newer
    val out = Upsert.upsert(target, source, Seq("k"),
        updateCond = Some("s.t >= t.t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "t1", 2L -> "fresh", 3L -> "t3"))
  }

  test("partial-column update keeps unlisted columns from the target") {
    val source = df("k BIGINT, v STRING, t BIGINT",
      Row(Long.box(1), "sv", Long.box(99)))
    val out = Upsert.upsert(target, source, Seq("k"),
        updateExprs = Map("t" -> "s.t"))   // update t only, keep v
      .filter(col("k") === 1).head()
    assert(out.getString(1) == "t1" && out.getLong(2) == 99L)
  }

  test("source key duplicates collapse latest-wins under sourceOrder") {
    val source = df("k BIGINT, v STRING, t BIGINT",
      Row(Long.box(1), "older", Long.box(11)),
      Row(Long.box(1), "newest", Long.box(12)))
    val out = Upsert.upsert(target, source, Seq("k"),
        sourceOrder = Seq(col("t").desc))
      .filter(col("k") === 1).head()
    assert(out.getString(1) == "newest")
  }

  test("targetPrune passes out-of-scope target rows through untouched") {
    val source = df("k BIGINT, v STRING, t BIGINT",
      Row(Long.box(3), "hit", Long.box(20)))
    // Prune scope k >= 3: row 3 merges; rows 1,2 bypass the join entirely.
    val out = Upsert.upsert(target, source, Seq("k"),
        targetPrune = Some(col("k") >= 3))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "t1", 2L -> "t2", 3L -> "hit"))
  }

  test("null keys follow SQL MERGE semantics: never match, never corrupt") {
    val tgt = df("k BIGINT, v STRING, t BIGINT",
      Row(null, "t-null", Long.box(10)),     // null-key target row
      Row(Long.box(1), "t1", Long.box(10)))
    val src = df("k BIGINT, v STRING, t BIGINT",
      Row(null, "s-null", Long.box(20)),     // null-key source row
      Row(Long.box(1), "s1", Long.box(20)))
    val out = Upsert.upsert(tgt, src, Seq("k"))
      .collect().map(r => (if (r.isNullAt(0)) null else r.getLong(0)) -> r.getString(1))
    // target null-key row survives untouched, source null-key row inserts,
    // key 1 updates → 3 rows total
    assert(out.length == 3)
    assert(out.toMap.get(1L).contains("s1"))
    assert(out.filter(_._1 == null).map(_._2).toSet == Set("t-null", "s-null"))
  }

  test("upsert is idempotent: applying the same source twice equals once") {
    val source = df("k BIGINT, v STRING, t BIGINT",
      Row(Long.box(2), "s2", Long.box(20)),
      Row(Long.box(9), "s9", Long.box(20)))
    val once = Upsert.upsert(target, source, Seq("k"))
    val twice = Upsert.upsert(once, source, Seq("k"))
    assert(rowSet(once) == rowSet(twice))
  }

  test("upsertAuto: update requires changed payload AND not-older source") {
    val tgt = df("k BIGINT, v STRING, row_hash STRING, updateTime BIGINT",
      Row(Long.box(1), "a", "h1", Long.box(10)))
    def src(v: String, h: String, t: Long) =
      df("k BIGINT, v STRING, row_hash STRING, updateTime BIGINT",
        Row(Long.box(1), v, h, Long.box(t)))
    // same hash, older → no update
    assert(Upsert.upsertAuto(tgt, src("x", "h1", 5), Seq("k")).head().getString(1) == "a")
    // changed hash BUT stale (older updateTime) → no update — a
    // re-served old snapshot must not clobber newer data
    // (reference runner.py:450-455 joins the guards with AND)
    assert(Upsert.upsertAuto(tgt, src("stale", "h0", 5), Seq("k")).head().getString(1) == "a")
    // changed hash AND newer → update
    assert(Upsert.upsertAuto(tgt, src("b", "h2", 20), Seq("k")).head().getString(1) == "b")
    // same hash but newer → no update (payload unchanged)
    assert(Upsert.upsertAuto(tgt, src("y", "h1", 30), Seq("k")).head().getString(1) == "a")
  }

  test("upsertAuto preserves target-only columns under schema evolution") {
    val tgt = df("k BIGINT, v STRING, legacy STRING, updateTime BIGINT",
      Row(Long.box(1), "a", "keepme", Long.box(10)))
    val src = df("k BIGINT, v STRING, updateTime BIGINT",
      Row(Long.box(1), "b", Long.box(20)),   // update
      Row(Long.box(2), "c", Long.box(20)))   // insert
    val out = Upsert.upsertAuto(tgt, src, Seq("k"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out(1L) == ("b", "keepme"), "target-only column survives the update")
    assert(out(2L) == ("c", null), "inserted rows null the target-only column")
  }

  test("applyToPartitionedParquet rewrites only the touched partitions") {
    val dir = tempDir("upsert_pq")
    val init = df("k BIGINT, v STRING, d STRING",
      Row(Long.box(1), "a", "2024-01-01"),
      Row(Long.box(2), "b", "2024-01-02"),
      Row(Long.box(3), "c", "2024-01-03"))
    init.write.mode("overwrite").partitionBy("d").parquet(dir)
    val before = new java.io.File(s"$dir/d=2024-01-01").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val source = df("k BIGINT, v STRING, d STRING",
      Row(Long.box(2), "B2", "2024-01-02"),
      Row(Long.box(4), "d4", "2024-01-03"))
    Upsert.applyToPartitionedParquet(spark, dir, source, Seq("k"), "d")
    val after = spark.read.parquet(dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d4"))
    // Partition 2024-01-01 was outside the source's range → its files
    // must be byte-identical (dynamic overwrite never rewrote them).
    val untouched = new java.io.File(s"$dir/d=2024-01-01").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(untouched == before)
    // The temp staging dir must not outlive the merge.
    assert(!new java.io.File(dir + ".merge-tmp").exists())
  }

  test("applyToPartitionedParquet survives a crashed prior merge attempt") {
    val dir = tempDir("upsert_crash")
    val init = df("k BIGINT, v STRING, d STRING",
      Row(Long.box(1), "a", "2024-01-01"),
      Row(Long.box(2), "b", "2024-01-02"))
    init.write.mode("overwrite").partitionBy("d").parquet(dir)
    // Simulate a run that died between writing the merge temp dir and
    // swapping it in: stale partial output sits in <path>.merge-tmp.
    val stale = new java.io.File(dir + ".merge-tmp/d=2024-01-02")
    stale.mkdirs()
    java.nio.file.Files.writeString(
      stale.toPath.resolve("part-junk.parquet"), "not parquet")
    // The live table is untouched by the crash...
    val live = spark.read.parquet(dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(live == Map(1L -> "a", 2L -> "b"))
    // ...and re-running the merge recovers: temp is overwritten, swap
    // completes, result is the post-merge state.
    val source = df("k BIGINT, v STRING, d STRING",
      Row(Long.box(2), "B2", "2024-01-02"))
    Upsert.applyToPartitionedParquet(spark, dir, source, Seq("k"), "d")
    val after = spark.read.parquet(dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == Map(1L -> "a", 2L -> "B2"))
    assert(!new java.io.File(dir + ".merge-tmp").exists())
  }

  test("applyToPartitionedParquet recovers a partition displaced by a mid-swap crash") {
    val dir = tempDir("upsert_midswap")
    val init = df("k BIGINT, v STRING, d STRING",
      Row(Long.box(1), "a", "2024-01-01"),
      Row(Long.box(2), "b", "2024-01-02"),
      Row(Long.box(3), "c", "2024-01-02"))
    init.write.mode("overwrite").partitionBy("d").parquet(dir)
    // Simulate a crash BETWEEN displacing the old partition into the
    // backup dir and installing the new one: d=2024-01-02 is gone from
    // the live table, its only copy sits in <path>.merge-bak, and the
    // staging dir holds the half-installed attempt.
    val bak = new java.io.File(dir + ".merge-bak")
    bak.mkdirs()
    assert(new java.io.File(s"$dir/d=2024-01-02")
      .renameTo(new java.io.File(bak, "d=2024-01-02")))
    val tmp = new java.io.File(dir + ".merge-tmp/d=2024-01-02")
    tmp.mkdirs()
    java.nio.file.Files.writeString(tmp.toPath.resolve("part-junk.parquet"), "x")
    // Re-running the merge must first restore the displaced partition,
    // then apply the source on top — rows 2 (updated) and 3 (untouched,
    // would be LOST by a delete-then-rename swap) both survive.
    val source = df("k BIGINT, v STRING, d STRING",
      Row(Long.box(2), "B2", "2024-01-02"))
    Upsert.applyToPartitionedParquet(spark, dir, source, Seq("k"), "d")
    val after = spark.read.parquet(dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == Map(1L -> "a", 2L -> "B2", 3L -> "c"))
    assert(!new java.io.File(dir + ".merge-bak").exists())
    assert(!new java.io.File(dir + ".merge-tmp").exists())
  }

  test("a merge KILLED between displace and install strands no partition") {
    // Unlike the hand-built states above, this drives a REAL merge and
    // dies at the exact instant between the two renames: the table is
    // accessed through a fault-injecting FileSystem whose install
    // rename (src under .merge-tmp, dst in the live table) throws once
    // for the targeted partition — from the merge code's point of view,
    // the JVM is gone mid-swap; nothing after the displace executed.
    val dir = tempDir("upsert_kill")
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfault.impl", classOf[InterruptingFs].getName)
    val fdir = "graftfault://" + dir + "/t"
    df("k BIGINT, v STRING, d STRING",
      Row(Long.box(1), "a", "2024-01-01"),
      Row(Long.box(2), "b", "2024-01-02"),
      Row(Long.box(3), "c", "2024-01-03"))
      .write.mode("overwrite").partitionBy("d").parquet(fdir)
    val source = df("k BIGINT, v STRING, d STRING",
      Row(Long.box(2), "B2", "2024-01-02"),
      Row(Long.box(4), "d4", "2024-01-03"))
    InterruptingFs.failInstallOf = "d=2024-01-03"
    val ex = intercept[RuntimeException] {
      Upsert.applyToPartitionedParquet(spark, fdir, source, Seq("k"), "d")
    }
    assert(ex.getMessage.contains("simulated"))
    assert(InterruptingFs.failInstallOf == null, "the fault must have fired")
    // The crash invariant: EVERY partition has a live copy in table or
    // backup — the killed partition's old copy sits in the backup.
    val table = new java.io.File(dir + "/t")
    val bak = new java.io.File(dir + "/t.merge-bak")
    Seq("d=2024-01-01", "d=2024-01-02", "d=2024-01-03").foreach { p =>
      assert(new java.io.File(table, p).exists() || new java.io.File(bak, p).exists(),
        s"partition $p is absent from BOTH table and backup after the kill")
    }
    assert(!new java.io.File(table, "d=2024-01-03").exists() &&
      new java.io.File(bak, "d=2024-01-03").exists(),
      "the killed partition must be mid-displacement: backup only")
    // The next boot re-runs the merge: recovery restores the displaced
    // partition first, then the idempotent merge lands everything.
    Upsert.applyToPartitionedParquet(spark, fdir, source, Seq("k"), "d")
    val after = spark.read.parquet(fdir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d4"))
    assert(!bak.exists() && !new java.io.File(dir + "/t.merge-tmp").exists())
  }

  test("a first write into a missing table installs its partitions by rename") {
    // `graftfault://` refuses a rename into a missing parent, as HDFS
    // does, where the local filesystem would copy instead.
    val dir = tempDir("upsert_first")
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfault.impl", classOf[InterruptingFs].getName)
    val fdir = "graftfault://" + dir + "/t"
    InterruptingFs.installs.clear()
    Upsert.applyToPartitionedParquet(spark, fdir, df("k BIGINT, v STRING, d STRING",
      Row(Long.box(1), "a", "2024-01-01"),
      Row(Long.box(1), "a2", "2024-01-01"),
      Row(Long.box(2), "b", "2024-01-02")), Seq("k"), "d",
      sourceOrder = Seq(col("v").desc))
    assert(InterruptingFs.installs.toArray.toSeq.map(_.toString).sorted ==
      Seq("d=2024-01-01", "d=2024-01-02"))
    val rows = spark.read.parquet(fdir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "a2", 2L -> "b"))
    assert(!new java.io.File(dir + "/t.merge-bak").exists() &&
      !new java.io.File(dir + "/t.merge-tmp").exists())
  }

  test("a merge that moves every row out of a partition it read leaves no stale copy") {
    // Written through `graftfault://` so that the second run can be
    // killed while it installs the emptied partition.
    val dir = tempDir("upsert_moved")
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfault.impl", classOf[InterruptingFs].getName)
    val fdir = "graftfault://" + dir + "/t"
    val init = df("k BIGINT, v STRING, d STRING",
      Row(Long.box(1), "a", "2024-01-01"),
      Row(Long.box(2), "b", "2024-01-02"),
      Row(Long.box(3), "c", "2024-01-03"))
    val source = df("k BIGINT, v STRING, d STRING",
      Row(Long.box(1), "A", "2024-01-01"),
      Row(Long.box(2), "B", "2024-01-03"))
    def rows(path: String) = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getString(1), r.get(2).toString)).toSeq.sorted
    val expected = Seq((1L, "A", "2024-01-01"), (2L, "B", "2024-01-03"),
      (3L, "c", "2024-01-03"))
    def partitions = new java.io.File(dir, "t").list().filter(_.contains("=")).toSeq.sorted

    init.write.mode("overwrite").partitionBy("d").parquet(dir + "/plain")
    Upsert.applyToPartitionedParquet(spark, dir + "/plain", source, Seq("k"), "d")
    assert(rows(dir + "/plain") == expected, "k=2 exists once, in d=2024-01-03")

    // Killed between displacing d=2024-01-02 and installing it empty:
    // the old copy is restored, and the re-run removes it again.
    init.write.mode("overwrite").partitionBy("d").parquet(fdir)
    InterruptingFs.failInstallOf = "d=2024-01-02"
    val ex = intercept[RuntimeException] {
      Upsert.applyToPartitionedParquet(spark, fdir, source, Seq("k"), "d")
    }
    assert(ex.getMessage.contains("simulated"))
    assert(InterruptingFs.failInstallOf == null, "the fault must have fired")
    Upsert.applyToPartitionedParquet(spark, fdir, source, Seq("k"), "d")
    assert(rows(fdir) == expected)
    assert(partitions == Seq("d=2024-01-01", "d=2024-01-03"),
      "the emptied partition's directory is gone")
    assert(!new java.io.File(dir + "/t.merge-bak").exists() &&
      !new java.io.File(dir + "/t.merge-tmp").exists())
  }

  test("scd2FromChangeLog: runs collapse null-safely, intervals chain, tiebreak holds") {
    def r(k: Long, id: Long, v: String, t: Long) =
      Row(Long.box(k), Long.box(id), v, Long.box(t))
    val changes = df("k BIGINT, id BIGINT, v STRING, t BIGINT",
      // key 1: a a b b null null a  -> runs a@10, b@30, null@50, a@70
      r(1, 1, "a", 10), r(1, 2, "a", 20), r(1, 3, "b", 30), r(1, 4, "b", 40),
      r(1, 5, null, 50), r(1, 6, null, 60), r(1, 7, "a", 70),
      // key 2: same timestamp twice — the id tiebreak orders the runs
      r(2, 1, "x", 100), r(2, 2, "y", 100),
      // key 3: single change -> one open row
      r(3, 9, "z", 5))
    val out = Upsert.scd2FromChangeLog(changes, Seq("k"), "v", "t", "id")
      .collect()
      .map(x => (x.getLong(0), Option(x.getString(1)).orNull,
        x.getLong(2), if (x.isNullAt(3)) -1L else x.getLong(3),
        x.getBoolean(4)))
      .sortBy(x => (x._1, x._3))
    assert(out.filter(_._1 == 1L).toSeq == Seq(
      (1L, "a", 10L, 30L, false), (1L, "b", 30L, 50L, false),
      (1L, null, 50L, 70L, false), (1L, "a", 70L, -1L, true)))
    // equal timestamps: id order decides run order; x closes at y's start
    assert(out.filter(_._1 == 2L).toSeq == Seq(
      (2L, "x", 100L, 100L, false), (2L, "y", 100L, -1L, true)))
    assert(out.filter(_._1 == 3L).toSeq == Seq((3L, "z", 5L, -1L, true)))
    // exactly one current row per key
    assert(out.count(_._5) == 3)
  }

  test("scd2 point-in-time probe == as-of backward join (cross-operator consistency)") {
    // Two independent implementations of "what was v for key k at
    // time t": the SCD2 validity-interval probe and AsofJoin's
    // backward union-sort. They must agree on every probe, including
    // before-first-change (no match) and exactly-at-change (the new
    // value is effective AT its change time in both formulations).
    def r(k: Long, id: Long, v: String, t: Long) =
      Row(Long.box(k), Long.box(id), v, Long.box(t))
    val changes = df("k BIGINT, id BIGINT, v STRING, t BIGINT",
      r(1, 1, "a", 10), r(1, 2, "b", 30), r(1, 3, "c", 50),
      r(2, 4, "x", 100))
    val probes = df("k BIGINT, pt BIGINT",
      Row(Long.box(1), Long.box(5)),   // before first change
      Row(Long.box(1), Long.box(10)),  // exactly at a change
      Row(Long.box(1), Long.box(29)), Row(Long.box(1), Long.box(30)),
      Row(Long.box(1), Long.box(99)),
      Row(Long.box(2), Long.box(100)), Row(Long.box(2), Long.box(500)))
    val hist = Upsert.scd2FromChangeLog(changes, Seq("k"), "v", "t", "id")
    val viaHist = probes.alias("p").join(hist.alias("h"),
        col("p.k") === col("h.k") &&
          col("h.valid_from") <= col("p.pt") &&
          (col("h.valid_to").isNull || col("p.pt") < col("h.valid_to")),
        "left")
      .select(col("p.k"), col("p.pt"), col("h.v"))
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        Option(x.getString(2))).toMap
    val viaAsof = graft.operators.AsofJoin.asof(
        probes, changes.select("k", "v", "t"), Seq("k"), "pt", "t")
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        Option(x.getString(2))).toMap
    assert(viaHist == viaAsof, s"hist $viaHist != asof $viaAsof")
    assert(viaHist((1L, 5L)).isEmpty && viaHist((1L, 10L)) == Some("a"))
    assert(viaHist((1L, 29L)) == Some("a") && viaHist((1L, 30L)) == Some("b"))
    assert(viaHist((2L, 500L)) == Some("x"))
  }

  test("applyCdc: inserts, updates, deletes; latest version wins; op tiebreak") {
    val target = df("k BIGINT, v STRING",
      Row(Long.box(1), "a"), Row(Long.box(2), "b"), Row(Long.box(3), "c"))
    val changes = df("k BIGINT, v STRING, op STRING, ver BIGINT",
      Row(Long.box(1), "a2", "U", Long.box(1)),      // update
      Row(Long.box(2), null, "D", Long.box(1)),      // delete
      Row(Long.box(4), "d", "I", Long.box(1)),       // insert
      // key 3: updated at v1, deleted at v2 -> delete wins
      Row(Long.box(3), "c2", "U", Long.box(1)),
      Row(Long.box(3), null, "D", Long.box(2)),
      // key 5: D and U at the SAME version -> 'U' > 'D' tiebreak
      Row(Long.box(5), null, "D", Long.box(1)),
      Row(Long.box(5), "e", "U", Long.box(1)))
    val out = Upsert.applyCdc(target, changes, Seq("k"), "op", "ver")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a2", 4L -> "d", 5L -> "e"))
    // missing payload column fails loudly
    intercept[IllegalArgumentException] {
      Upsert.applyCdc(target, changes.drop("v"), Seq("k"), "op", "ver")
    }
  }

  test("a second concurrent merge fails LOUDLY and leaves the target consistent") {
    val dir = tempDir("upsert_lock")
    val init = df("k BIGINT, v STRING, d STRING",
      Row(Long.box(1), "a", "2024-01-01"),
      Row(Long.box(2), "b", "2024-01-02"))
    init.write.mode("overwrite").partitionBy("d").parquet(dir)
    val beforeRows = spark.read.parquet(dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // Simulate a live first writer: its create-exclusive lock is
    // present. LEASE-LESS (operator-made) locks are never broken — the
    // waiter polls out its bounded wait (shortened here) then fails.
    val lock = new java.io.File(dir + ".merge-lock")
    java.nio.file.Files.writeString(lock.toPath, "pid=999 app=other-writer")
    val source = df("k BIGINT, v STRING, d STRING",
      Row(Long.box(2), "B2", "2024-01-02"))
    val e = intercept[Upsert.ConcurrentWriterException] {
      Upsert.withWriterLock(spark, dir, waitMs = 300, leaseMs = 60000) {
        fail("body must not run under a held lease-less lock")
      }
    }
    // The normal entry point refuses the same way (default wait spans
    // are production-sized; exercise the wiring with a tight prop).
    sys.props("graft.lockWaitMs") = "200"
    try intercept[Upsert.ConcurrentWriterException] {
      Upsert.applyToPartitionedParquet(spark, dir, source, Seq("k"), "d")
    } finally sys.props.remove("graft.lockWaitMs")
    // Loud AND actionable: names the holder and the lock file.
    assert(e.getMessage.contains("other-writer"))
    assert(e.getMessage.contains(".merge-lock"))
    // The refused merge mutated NOTHING — no staging dirs, same rows —
    // and did not steal the holder's lock.
    assert(lock.exists())
    assert(!new java.io.File(dir + ".merge-tmp").exists())
    assert(!new java.io.File(dir + ".merge-bak").exists())
    val afterRows = spark.read.parquet(dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(afterRows == beforeRows)
    // Once the holder releases, the same merge proceeds and commits —
    // and releases its OWN lock on success.
    assert(lock.delete())
    Upsert.applyToPartitionedParquet(spark, dir, source, Seq("k"), "d")
    assert(spark.read.parquet(dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "B2"))
    assert(!lock.exists())
  }

  test("an expired lease is broken and taken over; a live one is waited out") {
    val dir = tempDir("upsert_lease")
    df("k BIGINT, v STRING, d STRING", Row(Long.box(1), "a", "2024-01-01"))
      .write.mode("overwrite").partitionBy("d").parquet(dir)
    val lock = new java.io.File(dir + ".merge-lock")
    // Crashed holder: its lease expired in the past. The next writer
    // breaks the lock and proceeds without waiting out the full budget.
    java.nio.file.Files.writeString(lock.toPath,
      s"pid=999 app=dead-writer lease_expires_at=${System.currentTimeMillis() - 1000}")
    Upsert.applyToPartitionedParquet(spark, dir,
      df("k BIGINT, v STRING, d STRING", Row(Long.box(2), "b", "2024-01-02")),
      Seq("k"), "d")
    assert(spark.read.parquet(dir).count() == 2,
      "takeover of an expired lease must let the merge land")
    assert(!lock.exists(), "the taking-over writer releases its own lock")
    // Live holder that releases mid-wait: the waiter serializes behind
    // it instead of failing.
    java.nio.file.Files.writeString(lock.toPath,
      s"pid=998 app=live-writer lease_expires_at=${System.currentTimeMillis() + 60000}")
    val releaser = new Thread(() => { Thread.sleep(700); lock.delete(); () })
    releaser.start()
    Upsert.withWriterLock(spark, dir, waitMs = 10000, leaseMs = 60000) { () }
    releaser.join()
    assert(!lock.exists())
  }

  test("waiters racing one expired lease admit exactly one writer at a time") {
    // Regression for the lease-takeover TOCTOU: waiter B reads an
    // expired lease, waiter A breaks the same lock and re-creates it
    // with a FRESH lease, then B's stale delete removes A's LIVE lock —
    // admitting a third writer while A is still writing. The break now
    // goes through a create-exclusive claim file with a re-read under
    // the claim, so N threads hammering one expired lock must serialize
    // perfectly: at no instant may two bodies overlap.
    val dir = tempDir("upsert_lockrace") + "/t"
    new java.io.File(dir).mkdirs()
    val lock = new java.io.File(dir + ".merge-lock")
    java.nio.file.Files.writeString(lock.toPath,
      s"pid=999 app=dead-writer lease_expires_at=${System.currentTimeMillis() - 1000}")
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxActive = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 6).map { _ =>
      new Thread(() => {
        start.await()
        try Upsert.withWriterLock(spark, dir, waitMs = 30000, leaseMs = 60000) {
          val now = active.incrementAndGet()
          maxActive.updateAndGet(m => math.max(m, now))
          Thread.sleep(40) // hold the critical section long enough to expose overlap
          active.decrementAndGet()
          ran.incrementAndGet()
          ()
        } catch { case t: Throwable => errs.add(t); () }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(60000))
    assert(errs.isEmpty, s"no waiter may fail, got: ${errs.peek()}")
    assert(ran.get() == 6, s"all 6 bodies must eventually run, got ${ran.get()}")
    assert(maxActive.get() == 1,
      s"two writers overlapped inside the lock (maxActive=${maxActive.get()})")
    assert(!lock.exists() && !new java.io.File(dir + ".merge-lock.claim").exists(),
      "lock and claim must both be released at the end")
  }

  test("renewWriterLease: a heartbeat keeps a short lease from being broken") {
    // A long-running protected body (a 100 TB cluster split) can outrun
    // its lease; the heartbeat rewrites the lock with a fresh expiry so
    // waiters keep waiting instead of breaking in mid-write.
    val dir = tempDir("upsert_renew") + "/t"
    new java.io.File(dir).mkdirs()
    // Renewing without holding the lock is a caller bug, loudly.
    intercept[IllegalArgumentException] {
      Upsert.renewWriterLease(spark, dir)
    }
    @volatile var waiterOutcome: Option[Throwable] = None
    val waiter = new Thread(() => {
      try {
        Upsert.withWriterLock(spark, dir, waitMs = 500, leaseMs = 60000)(())
        waiterOutcome = None
      } catch { case t: Throwable => waiterOutcome = Some(t) }
    })
    Upsert.withWriterLock(spark, dir, waitMs = 1000, leaseMs = 400) {
      Thread.sleep(250)
      Upsert.renewWriterLease(spark, dir, leaseMs = 60000)
      waiter.start()
      // Hold well past the ORIGINAL 400 ms expiry: without the renewal
      // the waiter would break the lease and run; with it the waiter
      // must exhaust its budget and fail loudly.
      Thread.sleep(900)
    }
    waiter.join(10000)
    assert(waiterOutcome.exists(
      _.isInstanceOf[Upsert.ConcurrentWriterException]),
      s"the waiter must time out on the RENEWED lease, got $waiterOutcome")
    // After release the path is free again.
    Upsert.withWriterLock(spark, dir, waitMs = 1000, leaseMs = 60000)(())
    assert(!new java.io.File(dir + ".merge-lock").exists())
  }

  test("a merge that fails mid-flight still releases its writer lock") {
    val dir = tempDir("upsert_lockrel")
    val init = df("k BIGINT, v STRING, d STRING",
      Row(Long.box(1), "a", "2024-01-01"))
    init.write.mode("overwrite").partitionBy("d").parquet(dir)
    // A source missing the partition column fails inside the lock body.
    val bad = df("k BIGINT, v STRING", Row(Long.box(1), "x"))
    intercept[Exception] {
      Upsert.applyToPartitionedParquet(spark, dir, bad, Seq("k"), "d")
    }
    // The lock must not leak: live-failure ≠ crash, the next writer may
    // proceed immediately (the merge is idempotent).
    assert(!new java.io.File(dir + ".merge-lock").exists())
    Upsert.applyToPartitionedParquet(spark, dir,
      df("k BIGINT, v STRING, d STRING", Row(Long.box(1), "a2", "2024-01-01")),
      Seq("k"), "d")
    assert(spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == Map(1L -> "a2"))
  }

  test("sources without partition values leave an existing table as it is") {
    val dir = tempDir("upsert_empty") + "/t"
    val init = df("k BIGINT, v STRING, d STRING",
      Row(Long.box(1), "a", "2024-01-01"))
    Upsert.applyToPartitionedParquet(spark, dir, init, Seq("k"), "d")
    val files = new java.io.File(s"$dir/d=2024-01-01").list().toSet
    // An empty relation, a filter that keeps nothing, and rows whose
    // partition value is null: each observes no range, so no write runs.
    Seq(init.limit(0), init.filter(col("k") > 5),
        init.withColumn("d", lit(null).cast("string"))).foreach { src =>
      val (_, jobs) = jobsOf(Upsert.applyToPartitionedParquet(spark, dir, src, Seq("k"), "d"))
      assert(jobs <= 1, "the source's materialization is the only job")
    }
    assert(spark.read.parquet(dir).count() == 1)
    assert(new java.io.File(s"$dir/d=2024-01-01").list().toSet == files)
  }
}

/** Test-only fault-injecting local FileSystem (`graftfault://`): throws
  * from the one rename whose source is merge staging output and whose
  * destination is the live table — the install step — when armed for
  * that partition, simulating a process death between the displace and
  * install renames. A rename into a missing parent directory returns
  * false, as on HDFS (the local filesystem would fall back to a copy).
  * It also records each install (by partition name) and each
  * writer-lock release. Everything else delegates to the local
  * filesystem.
  */
class InterruptingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfault"
  override def getUri: java.net.URI = java.net.URI.create("graftfault:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    val install = src.toString.contains(".merge-tmp") &&
      !dst.toString.contains(".merge-tmp")
    val armed = InterruptingFs.failInstallOf
    if (install && armed != null && dst.getName == armed) {
      InterruptingFs.failInstallOf = null
      throw new RuntimeException(s"simulated JVM kill installing $armed")
    }
    val done = exists(dst.getParent) && super.rename(src, dst)
    if (install && done) InterruptingFs.installs.add(dst.getName)
    done
  }
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean = {
    if (p.getName.endsWith(".merge-lock")) InterruptingFs.lockReleases.incrementAndGet()
    super.delete(p, recursive)
  }
}

object InterruptingFs {
  @volatile var failInstallOf: String = null
  val installs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val lockReleases = new java.util.concurrent.atomic.AtomicInteger()
}
