package graft

import java.util.concurrent.ConcurrentLinkedQueue

import graft.operators.Similarity
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Guards against SILENT codegen regressions: Spark compiles generated
  * Java per-plan and, on a Janino error, logs one WARN and falls back
  * to interpreted execution — correctness holds, throughput quietly
  * drops out of whole-stage codegen. These tests attach a log4j2
  * appender and fail on any codegen-error WARN, which is the only
  * externally visible signal.
  *
  * Round-7 regression pinned here: `signLshBuckets` over a
  * LocalRelation filtered on `bucket = signBucket(<literal query
  * array>)`, then ranked by `bruteForceTopK`.
  * `ConvertToLocalRelation` compiles Filter predicates BEFORE constant
  * folding, and Spark's own `element_at` over a foldable
  * `CreateArray` mis-generates in that context (nullable computes
  * false → codegen's non-nullable branch drops the isNull declaration
  * the ElementAt snippet still assigns → "not an rvalue"). signBucket
  * now folds foldable queries to a literal bucket string at plan time,
  * so the predicate never contains the broken shape.
  */
class CodegenHealthSpec extends SparkSpec {

  /** Collects WARN+ messages from every logger while `body` runs. */
  private def capturedWarnings(body: => Unit): Seq[String] = {
    val events = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
        "graft-codegen-capture", null, null, false, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        events.add(e.getLoggerName + ": " + e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try body
    finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    import scala.jdk.CollectionConverters._
    events.asScala.toSeq
  }

  private def assertNoCodegenFallback(warnings: Seq[String]): Unit = {
    val bad = warnings.filter(w =>
      w.contains("codegen error") || w.contains("Failed to compile"))
    assert(bad.isEmpty,
      s"generated code failed to compile and fell back to interpretation:\n" +
        bad.mkString("\n"))
  }

  private def vecs = df("vec_id BIGINT, embedding ARRAY<FLOAT>",
    Row(Long.box(1), Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    Row(Long.box(2), Seq(0.0f, 1.0f, 0.0f, 0.0f)),
    Row(Long.box(3), Seq(1.0f, 1.0f, 0.0f, 0.0f)),
    Row(Long.box(4), Seq(-1.0f, 0.0f, 0.0f, 0.0f)))

  test("a signLshBuckets filter over a LocalRelation compiles its bucket predicate (r7 regression)") {
    val q = array(lit(1.0f), lit(0.0f), lit(0.0f), lit(0.0f))
    val pairs = Seq((1, 2), (3, 4))
    val warnings = capturedWarnings {
      val inBucket = Similarity.signLshBuckets(vecs, "embedding", pairs)
        .filter(col("bucket") === Similarity.signBucket(q, pairs)).drop("bucket")
      val out = Similarity.bruteForceTopK(inBucket, "vec_id", "embedding", q, 10)
        .collect()
      assert(out.nonEmpty)
    }
    assertNoCodegenFallback(warnings)
  }

  test("signBucket folds a foldable query to a literal bucket") {
    val q = array(lit(1.0f), lit(0.0f), lit(0.0f), lit(0.0f))
    // The constant query must be DETECTED as constant (pre-analysis
    // array(lit..) is not `foldable`; ColumnBridge matches the node)…
    assert(org.apache.spark.sql.graft.ColumnBridge.constantFloatArray(q)
      .map(_.toSeq) == Some(Seq(1.0f, 0.0f, 0.0f, 0.0f)))
    // …and the bucket column must BE a plan-time literal, not an
    // element_at comparison tree.
    val bucketCol = Similarity.signBucket(q, Seq((1, 2), (3, 4)))
    assert(!bucketCol.toString.contains("element_at"), bucketCol.toString)
    // Same bits as the expression form computes for this vector:
    // (1>0)=1, (0==0)=0 over pairs (1,2),(3,4).
    val folded = vecs.select(bucketCol.as("b")).head().getString(0)
    assert(folded == "10")
    // Non-foldable input keeps the expression form and agrees with it.
    val exprForm = vecs.select(
      Similarity.signBucket(col("embedding"), Seq((1, 2), (3, 4))).as("b"))
      .collect().map(_.getString(0)).toSeq
    assert(exprForm == Seq("10", "00", "00", "00"))
  }

  test("signBucket fold == expression form over randomized vectors") {
    // The literal fold must be indistinguishable from the element_at
    // comparison tree for ANY input — including the float specials
    // (NaN sorts largest in Spark's SQL order, -0.0 == 0.0), null
    // elements, and arrays shorter than the pair indexes (both are a
    // NULL condition -> "0"). Seeded RNG: deterministic, no flake.
    val rnd = new scala.util.Random(20260813L)
    val specials = Array[java.lang.Float](
      Float.NaN, 0.0f, -0.0f, Float.MinValue, Float.MaxValue,
      Float.NegativeInfinity, Float.PositiveInfinity, null)
    val vecs: Seq[Seq[java.lang.Float]] = (1 to 60).map { _ =>
      val len = 1 + rnd.nextInt(4) // 1..4: exercises out-of-bounds pairs
      Seq.tabulate(len) { _ =>
        if (rnd.nextInt(4) == 0) specials(rnd.nextInt(specials.length))
        else java.lang.Float.valueOf(rnd.nextFloat() * 2 - 1)
      }
    }
    val pairs = Seq((1, 2), (3, 4))
    val rows = vecs.zipWithIndex.map { case (v, i) =>
      Row(Long.box(i.toLong), v)
    }
    val exprForm = df("id BIGINT, v ARRAY<FLOAT>", rows: _*)
      .select(col("id"), Similarity.signBucket(col("v"), pairs).as("b"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    vecs.zipWithIndex.foreach { case (v, i) =>
      val folded = Similarity.signBits(v.toArray, pairs)
      assert(folded == exprForm(i.toLong),
        s"vec $i $v: fold '$folded' != expression '${exprForm(i.toLong)}'")
    }
  }

  test("filters over native similarity expressions stay compiled") {
    val q = array(lit(1.0f), lit(0.0f), lit(0.0f), lit(0.0f))
    val warnings = capturedWarnings {
      assert(vecs.filter(Similarity.cosineNative(col("embedding"), q) > 0.5)
        .count() == 2)
      assert(vecs.filter(call_function("dot_product", col("embedding"), q) > 0.5)
        .count() == 2)
    }
    assertNoCodegenFallback(warnings)
  }

  test("bloom probe filters stay compiled") {
    val keys = df("k BIGINT", (1L to 50L).map(i => Row(Long.box(i))): _*)
    val bloom = graft.operators.BloomJoin.buildKeyFilter(keys, "k", 100L)
    val warnings = capturedWarnings {
      val n = keys.filter(
        graft.operators.BloomJoin.mightContain(bloom, col("k"))).count()
      assert(n == 50)
    }
    assertNoCodegenFallback(warnings)
  }

  test("winnow_fp under a filter predicate stays compiled") {
    // winnow_fp used in a Predicate context (filter over its size) is
    // exactly the shape the local-null-flag codegen convention exists
    // for: a scattered ev.isNull assignment would fail to compile when
    // the predicate context resolves isNull to a non-local.
    val docs = df("doc_id BIGINT, text STRING",
      Row(Long.box(1), "the quick brown fox jumps over the lazy dog today"),
      Row(Long.box(2), "ab"),
      Row(Long.box(3), null))
    val warnings = capturedWarnings {
      val n = docs
        .filter(size(call_function("winnow_fp", col("text"), lit(5), lit(4))) > 0)
        .count()
      assert(n == 1)
    }
    assertNoCodegenFallback(warnings)
  }

  test("nfc composes decomposed text; identity on ASCII; stays compiled") {
    val docs = df("doc_id BIGINT, text STRING",
      Row(Long.box(1), "cafe\u0301 au lait"), // decomposed e + U+0301
      Row(Long.box(2), "caf\u00e9 au lait"),  // precomposed e-acute
      Row(Long.box(3), "plain ascii"),
      Row(Long.box(4), null))
    val warnings = capturedWarnings {
      val out = docs.select(col("doc_id"),
          call_function("nfc", col("text")).as("t"))
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      // decomposed and precomposed collapse to the same NFC string
      assert(out(1L) == out(2L))
      assert(out(1L).get.length == "caf_ au lait".length)
      assert(out(3L) == Some("plain ascii"))
      assert(out(4L).isEmpty)
      // idempotence + usable in a Predicate context
      val n = docs.filter(
        call_function("nfc", call_function("nfc", col("text"))) ===
          call_function("nfc", col("text"))).count()
      assert(n == 3)
    }
    assertNoCodegenFallback(warnings)
  }

  test("filters over native text expressions stay compiled") {
    val docs = df("doc_id BIGINT, text STRING",
      Row(Long.box(1), "alpha beta gamma delta epsilon"),
      Row(Long.box(2), "one two"),
      Row(Long.box(3), "x"))
    val warnings = capturedWarnings {
      val withSig = docs
        .withColumn("words", split(col("text"), " "))
        .withColumn("sig", call_function("minhash_sig", col("words"), lit(4), lit(3)))
        .withColumn("sh", call_function("word_shingles", col("words"), lit(2)))
      assert(withSig.filter(size(col("sig")) > 0).count() == 1)
      assert(withSig.filter(size(col("sh")) > 1).count() == 1)
    }
    assertNoCodegenFallback(warnings)
  }

  test("jaro_winkler: textbook values, nulls, predicate stays compiled") {
    // Winkler's canonical examples (public test vectors).
    val pairs = df("a STRING, b STRING",
      Row("MARTHA", "MARHTA"), Row("DWAYNE", "DUANE"),
      Row("DIXON", "DICKSONX"), Row("abc", "abc"), Row("", "abc"),
      Row("aaxxxxxx", "aayyyyyy"), // jaro 0.5 ≤ 0.7: NO prefix bonus
      // multi-byte input exercises the char kernel (the ASCII byte
      // kernel and it must agree: m=3 of 4, prefix 3 → 0.883333)
      Row("café", "cafe"),
      Row(null, "x"))
    val warnings = capturedWarnings {
      val got = pairs.select(
          round(call_function("jaro_winkler", col("a"), col("b")), 6))
        .collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
      assert(got(0) == 0.961111 && got(1) == 0.84 && got(2) == 0.813333)
      assert(got(3) == 1.0 && got(4) == 0.0)
      assert(got(5) == 0.5, "boost threshold must gate the prefix bonus")
      assert(got(6) == 0.883333, "multi-byte path must match by-hand value")
      assert(got(7) == null)
      // Predicate context (the DivModLike-convention stress shape).
      val n = pairs.filter(
        call_function("jaro_winkler", col("a"), col("b")) > 0.9).count()
      assert(n == 2) // MARTHA pair + identical abc
    }
    assertNoCodegenFallback(warnings)
  }

  test("deflate_len: eval == codegen, signal orders junk < prose, stays compiled") {
    val repetitive = "spam " * 200
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "wanders away through a quiet field toward the distant river bank " * 4
    val rnd = new scala.util.Random(7)
    val noise = Array.fill(800)(('a' + rnd.nextInt(26)).toChar).mkString
    val docs = df("doc_id BIGINT, text STRING",
      Row(Long.box(1), repetitive), Row(Long.box(2), prose),
      Row(Long.box(3), noise), Row(Long.box(4), ""), Row(Long.box(5), null))
    val warnings = capturedWarnings {
      val got = docs.select(col("doc_id"),
          call_function("deflate_len", col("text")).as("n"),
          octet_length(col("text")).as("len"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) -1 else r.getInt(1),
            if (r.isNullAt(2)) -1 else r.getInt(2))).toMap
      // interpreted eval must agree exactly with the codegen'd scan
      val interp = graft.functions.expressions.DeflateLen.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(repetitive))
      assert(got(1L)._1 == interp, "eval and codegen must agree")
      def ratio(id: Long) = got(id)._1.toDouble / got(id)._2
      assert(ratio(1L) < 0.1, s"repetition must compress hard: ${ratio(1L)}")
      assert(ratio(1L) < ratio(2L) && ratio(2L) < ratio(3L),
        "signal must order junk < prose < noise")
      assert(got(4L)._1 >= 0 && got(5L)._1 == -1, "empty ok; null -> null")
      // predicate context: the curation filter shape
      val n = docs.filter(call_function("deflate_len", col("text"))
        .cast("double") / octet_length(col("text")) < 0.1).count()
      assert(n == 1)
    }
    assertNoCodegenFallback(warnings)
  }

  test("fwht: eval == codegen == textbook H, nulls and bad lengths, stays compiled") {
    val vecs = df("id BIGINT, v ARRAY<DOUBLE>",
      Row(Long.box(1), Seq(1.0, 0.0, 0.0, 0.0)),   // H column 0
      Row(Long.box(2), Seq(1.0, 2.0, 3.0, 4.0)),
      Row(Long.box(3), Seq(1.0, 2.0, 3.0)),        // not a power of two
      Row(Long.box(4), null))
    val warnings = capturedWarnings {
      val got = vecs.select(col("id"),
          call_function("fwht", col("v")).as("h"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[Double](1))).toMap
      // delta at 0 → first H column = all ones (row sums of H's top row)
      assert(got(1L) == Seq(1.0, 1.0, 1.0, 1.0))
      // textbook 4-point WHT: dense H[i][j] = (-1)^popcount(i&j)
      val dense = (0 until 4).map(i => (0 until 4).map(j =>
        (if (java.lang.Integer.bitCount(i & j) % 2 == 0) 1.0 else -1.0) *
          Seq(1.0, 2.0, 3.0, 4.0)(j)).sum)
      assert(got(2L) == dense)
      assert(got(3L) == null && got(4L) == null,
        "non-power-of-two length and null input must both yield null")
      // interpreted eval must agree exactly with the codegen'd project
      val interp = graft.functions.expressions.Fwht.compute(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          Array(1.0, 2.0, 3.0, 4.0))).toDoubleArray().toSeq
      assert(interp == got(2L), "eval and codegen must agree")
    }
    assertNoCodegenFallback(warnings)
  }

  test("a repeated identical reporting refresh compiles no new classes") {
    // Pins the builder's codegen settings, so reordering Engine.builder
    // cannot silently drop them: at Spark's stock 100 entries one
    // refresh's ~110 generated classes cycle the LRU and every op
    // recompiles; with the stage id in the class name, AQE's
    // timing-dependent stage numbering mints new variants of a class.
    val conf = spark.sessionState.conf
    assert(conf.getConf(
      org.apache.spark.sql.internal.StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES) ==
      Engine.CodegenCacheEntries)
    assert(!conf.wholeStageUseIdInClassName)
    val wh = tempDir("codegen_wh")
    val t0 = 1704844800000L // 2024-01-10T00:00:00Z
    val r = new graft.pipelines.BatchRunner(spark,
      new graft.sources.FixtureSources.Paged(t0, 120, version = 1),
      new graft.sources.FixtureSources.Snapshots,
      graft.pipelines.BatchRunner.Config(wh, tenants = Seq("PK"),
        sliceMs = 1800000L, pageSize = 13))
    r.bootstrap()
    r.runCustomer(t0 + 120 * 60000L)
    r.runCall(t0 + 120 * 60000L)
    r.runStaffGroup()
    val dEnd = java.time.LocalDate.parse("2024-01-12")
    // Fixture set-up ends with the fact table created: the refresh that
    // creates it plans MERGE A differently from every later one.
    r.refreshReporting(dEnd)
    // The same refresh twice: the first may compile, the second may not.
    r.refreshReporting(dEnd)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    val before = compiles.getCount
    r.refreshReporting(dEnd)
    assert(compiles.getCount - before == 0,
      s"${compiles.getCount - before} classes recompiled by an identical refresh")
  }

  test("a later schedule slot compiles no new classes") {
    val wh = tempDir("codegen_slots")
    val t0 = 1704844800000L // 2024-01-10T00:00:00Z
    val r = new graft.pipelines.BatchRunner(spark,
      new graft.sources.FixtureSources.Paged(t0, 240, version = 1),
      new graft.sources.FixtureSources.Snapshots,
      graft.pipelines.BatchRunner.Config(wh, tenants = Seq("PK"),
        sliceMs = 1800000L, pageSize = 13))
    r.bootstrap()
    def slot(hour: Int): Unit = {
      r.runCustomer(t0 + hour * 3600000L)
      r.runCall(t0 + hour * 3600000L)
    }
    // The cold start creates the tables; the first slot into existing
    // ones plans each merge the way every later slot does.
    slot(1)
    slot(2)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    val before = compiles.getCount
    slot(3)
    assert(compiles.getCount - before == 0,
      s"${compiles.getCount - before} classes compiled by a later slot")
  }
}
