package graft

import graft.functions.TextFunctions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {

  test("token counts: whitespace vs BPE-ish runs") {
    val out = df("t STRING", Row("Hello world42, ok!"))
      .select(tokenCountWs(col("t")).as("ws"), tokenCountBpe(col("t")).as("bpe"))
      .head()
    assert(out.getInt(0) == 3)
    // Hello|world|42|,|ok|! → H,ello / w..? "Hello" = [A-Z]+ "H" + [a-z]+ "ello"
    // → H, ello, world, 42, ",", ok, "!" = 7
    assert(out.getInt(1) == 7)
  }

  test("unicode hygiene: invisible chars stripped/counted, bidi flagged not stripped") {
    val rows = df("t STRING",
      Row("ab\u200Bcd\u00ADe"),          // zwsp + soft hyphen
      Row("\u202Eevil\u2066x\u2069"),   // rlo + isolate pair
      Row("plain text"),
      Row("\uFEFFbom\u200C\u200D\u2060")) // bom + zwnj/zwj/word-joiner
      .select(
        stripInvisible(col("t")).as("s"),
        invisibleCount(col("t")).as("i"),
        bidiCount(col("t")).as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows(0) == (("abcde", 2L, 0L)))
    // bidi controls are COUNTED but survive the invisible strip: text
    // that renders deceptively must be flagged for review, not
    // silently rewritten
    assert(rows(1) == (("\u202Eevil\u2066x\u2069", 0L, 3L)))
    assert(rows(2) == (("plain text", 0L, 0L)))
    assert(rows(3) == (("bom", 4L, 0L)))
  }

  test("normalizeText lowercases, strips symbols, collapses spaces") {
    val out = df("t STRING", Row("  Hello,   WORLD!! 42 "))
      .select(normalizeText(col("t"))).head().getString(0)
    assert(out == "hello world 42")
  }

  test("wordHits counts vocabulary membership") {
    val out = df("t STRING", Row("the cat and the hat"))
      .select(wordHits(col("t"), Seq("the", "and"))).head().getInt(0)
    assert(out == 3)
  }

  test("packTwoPass offsets equal the single-window formulation") {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("source"), col("doc_id"),
        tokenCountWs(col("text")).as("n_tokens"))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val single = d.withColumn("end_offset", sum(col("n_tokens")).over(w))
      .select("source", "doc_id", "end_offset")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // Several bucket widths, including more buckets than rows per
    // group: the composition of bucket-local sums and driver-prefixed
    // bases must be exactly the global prefix sum in every split.
    Seq(1, 3, 8, 1000).foreach { b =>
      val two = graft.operators.Packing
        .packTwoPass(d, "source", "doc_id", "n_tokens", nBuckets = b)
        .select("source", "doc_id", "end_offset")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(two == single, s"nBuckets=$b must reproduce the global offsets")
    }
  }

  test("packTwoPass multi-column groups match the composite-key window") {
    import org.apache.spark.sql.expressions.Window
    // Two group columns + NULL token counts: the tuple group must pack
    // exactly like a window over both columns, with NULLs contributing
    // zero (the operator's documented tightening of window-SUM NULL
    // semantics: end_offset is never NULL).
    val d = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("source"), col("doc_id"),
        tokenCountWs(col("text")).as("n_tokens"))
      .withColumn("grp2", (col("doc_id") % 3).cast("string"))
      .withColumn("n_tokens",
        when(col("doc_id") % 7 === 0, lit(null)).otherwise(col("n_tokens")))
    val w = Window.partitionBy("source", "grp2").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val single = d.withColumn("end_offset",
        sum(coalesce(col("n_tokens"), lit(0L))).over(w))
      .select("source", "grp2", "doc_id", "end_offset")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    Seq(1, 4, 500).foreach { b =>
      val two = graft.operators.Packing
        .packTwoPass(d, Seq("source", "grp2"), "doc_id", "n_tokens",
          nBuckets = b)
        .select("source", "grp2", "doc_id", "end_offset")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3))
        .toMap
      assert(two == single, s"nBuckets=$b must reproduce the global offsets")
    }
  }

  test("windowStats conserves tokens and bounds every window by cap") {
    val cap = 512L
    val d = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("source"), col("doc_id"),
        tokenCountWs(col("text")).as("n_tokens"))
    val stats = graft.operators.Packing
      .windowStats(d, Seq("source"), "doc_id", "n_tokens", cap, nBuckets = 3)
      .collect()
    // Conservation: the windows of a source hold exactly its tokens —
    // the slicing may move tokens between windows, never create or
    // drop any.
    val perSource = stats.groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(4)).sum).toMap
    val expected = d.groupBy("source")
      .agg(sum(col("n_tokens")).as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSource == expected)
    stats.foreach { r =>
      val (win, nDocs, nStarts, winTokens, nCrossing) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(winTokens >= 1 && winTokens <= cap,
        s"window $win holds $winTokens tokens, cap is $cap")
      assert(nStarts <= nDocs && nCrossing <= 1,
        "at most one doc can continue past a window's end")
      assert(nDocs >= 1 && win >= 0)
    }
    // Every window id below a source's max must be present (the
    // stream is cut contiguously — no empty interior window).
    stats.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val wins = rs.map(_.getLong(1)).sorted
      assert(wins.sameElements(0L to wins.last),
        s"$src has a gap in its window ids")
    }
  }

  test("windowSpans drops zero-token rows and rejects colliding columns") {
    val d = df("source STRING, doc_id BIGINT, n_tokens BIGINT",
      Row("a", 1L, 0L), Row("a", 2L, 5L), Row("a", 3L, null))
    val spans = graft.operators.Packing
      .windowSpans(d, Seq("source"), "doc_id", "n_tokens", 4L, 2)
      .collect()
    // Rows 1 (zero) and 3 (NULL→zero) occupy no window; row 2 spans
    // windows 0..1 (tokens 0-4 against cap 4).
    assert(spans.map(_.getLong(1)).toSeq == Seq(2L))
    assert(spans.head.getAs[Long]("first_window") == 0L &&
      spans.head.getAs[Long]("last_window") == 1L)
    intercept[IllegalArgumentException] {
      graft.operators.Packing.windowSpans(
        d.withColumn("end_offset", lit(1L)),
        Seq("source"), "doc_id", "n_tokens", 4L, 2)
    }
  }
}
