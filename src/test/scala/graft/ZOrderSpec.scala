package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.ZOrder

/** Z-order clustering: interleave arithmetic, bucket normalization,
  * and the property that matters — per-partition ranges stay tight in
  * EVERY clustered dimension, where a linear sort only bounds its
  * leading column.
  */
class ZOrderSpec extends SparkSpec {

  test("interleave: hand-computed Morton value") {
    // dim0 = 0b1010 (10) at even bit positions, dim1 = 0b0101 (5) at
    // odd ones: z = (1<<2)+(1<<6) + (1<<1)+(1<<5) = 102.
    val out = df("a BIGINT, b BIGINT", Row(Long.box(10), Long.box(5)))
      .select(ZOrder.interleave(Seq(col("a"), col("b")), 4).as("z"))
      .head().getLong(0)
    assert(out === 102L)
  }

  test("interleave rejects widths that overflow a long") {
    intercept[IllegalArgumentException] {
      ZOrder.interleave(Seq(col("a"), col("b")), 32)
    }
  }

  test("minMaxBucket: endpoints, constants, nulls") {
    val d = df("x BIGINT, mn BIGINT, mx BIGINT",
      Row(Long.box(0), Long.box(0), Long.box(100)),
      Row(Long.box(100), Long.box(0), Long.box(100)),
      Row(Long.box(50), Long.box(0), Long.box(100)),
      Row(Long.box(7), Long.box(7), Long.box(7)),
      Row(null, Long.box(0), Long.box(100)))
    val got = d.select(
      ZOrder.minMaxBucket(col("x"), col("mn"), col("mx"), 8).as("b"))
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(0L, 255L, 127L, 0L, 0L))
  }

  test("file skipping: z-order write prunes files on the NON-leading dim; linear cannot") {
    // The layout claim made concrete at the FILE level, the unit every
    // stats-based scan planner (parquet row groups, lakehouse file
    // stats) prunes by: write the same table z-clustered and
    // linear-sorted into 16 files each, then count the files whose
    // [min,max] y-range intersects a narrow y-only predicate — the
    // worst case for a linear sort on x, which leaves y spanning the
    // whole domain in EVERY file (zero skippable), while the z-layout
    // confines y per file.
    val grid = spark.range(4096).select(
      (col("id") / 64).cast("long").as("x"),
      (col("id") % 64).cast("long").as("y"))
    val base = tempDir("graft_spec_zskip")
    ZOrder.withZValue(grid, Seq("x", "y"), bits = 8, zCol = "z")
      .repartitionByRange(16, col("z")).sortWithinPartitions("z").drop("z")
      .write.parquet(s"$base/z")
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x", "y")
      .write.parquet(s"$base/linear")
    val (yLo, yHi) = (24L, 31L) // a 12.5% stripe of y, unconstrained x
    def overlappingFiles(dir: String): (Int, Int) = {
      val files = new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).map(_.getPath).sorted
      val hit = files.count { f =>
        val r = spark.read.parquet(f).agg(min("y"), max("y")).head()
        !r.isNullAt(0) && r.getLong(0) <= yHi && r.getLong(1) >= yLo
      }
      (hit, files.length)
    }
    val (zHit, zTotal) = overlappingFiles(s"$base/z")
    val (linHit, linTotal) = overlappingFiles(s"$base/linear")
    assert(zTotal >= 8 && linTotal >= 8, s"want real file counts: $zTotal/$linTotal")
    // Linear layout: every file spans all of y — nothing skippable.
    assert(linHit == linTotal, s"linear should overlap everywhere: $linHit/$linTotal")
    // Z layout: the y-stripe touches a strict minority of files.
    assert(zHit * 2 < zTotal, s"z-order must skip most files: $zHit/$zTotal")
    // And skipping is sound: the pruned scan returns identical rows.
    def q(dir: String) =
      spark.read.parquet(dir).filter(col("y").between(yLo, yHi))
        .groupBy("y").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(q(s"$base/z") == q(s"$base/linear"))
  }
}
