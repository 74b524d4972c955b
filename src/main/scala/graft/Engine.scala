package graft

import org.apache.spark.sql.SparkSession

/** Single place that builds the engine's SparkSession with the
  * configuration contract every entrypoint (Verify, Bench, tests)
  * shares. Keeping this centralized means a scale-tuning change (AQE,
  * shuffle partitions, partition-overwrite mode) applies everywhere.
  */
object Engine {

  /** Engine defaults, applied on top of any master/cores choice.
    *
    *  - non-ANSI: the reference's SAFE_CAST / pandas-coercion semantics
    *    (reference runner.py:171, api.py:109-127) are permissive.
    *  - AQE on: runtime coalescing + skew-join splitting is the 100 TB
    *    answer to skewed keys (SURVEY.md §4).
    *  - dynamic partition overwrite: the MERGE rewrite path
    *    ([[operators.Upsert.applyToPartitionedParquet]]) must replace only
    *    the partitions it touched.
    *  - nanosAsLong: the fixture `events` table carries parquet
    *    TIMESTAMP(NANOS), which Spark's reader otherwise rejects
    *    (PARQUET_TYPE_ILLEGAL); we read the raw int64 and convert in
    *    [[Tables.table]].
    */
  /** Engine extensions: native codegen'd expressions registered as SQL
    * functions (callable via `call_function` / `expr` / plain SQL).
    */
  def extensions(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
    // Loop-shape parameters (hash counts, gram widths, bit widths)
    // parameterize the generated code, not the data path, so they must
    // be compile-time constants.
    def litInt(fn: String)(e: Expression, name: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
        // Route non-integral literals (1.5, 'abc') through the same
        // message instead of leaking a raw NumberFormatException.
        v match {
          case i: java.lang.Integer => i.intValue()
          case l: java.lang.Long if l.longValue().isValidInt => l.intValue()
          case s: java.lang.Short => s.intValue()
          case b: java.lang.Byte => b.intValue()
          case other => throw new IllegalArgumentException(
            s"$fn: $name must be an integer literal, got $other")
        }
      case other => throw new IllegalArgumentException(
        s"$fn: $name must be an integer literal, got $other")
    }
    // Whole-operator plan: grouped top-k via bounded heaps
    // (logical node graft.plans.TopKPerGroup → physical TopKPerGroupExec).
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.CosineSimilarity].getName,
        "cosine_sim"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.CosineSimilarity(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("dot_exact"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.DotProductExact].getName,
        "dot_exact"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.DotProductExact(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.MinHashSignature].getName,
        "minhash_sig"),
      (children: Seq[Expression]) => {
        val p = litInt("minhash_sig") _
        graft.functions.expressions.MinHashSignature(
          children(0), p(children(1), "k"), p(children(2), "n"))
      }))
    ext.injectFunction((
      FunctionIdentifier("ngram_stats"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.NgramStats].getName,
        "ngram_stats"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.NgramStats(
          children(0), litInt("ngram_stats")(children(1), "n"))))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.DotProduct].getName,
        "dot_product"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("fwht"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.Fwht].getName,
        "fwht"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.Fwht(children(0))))
    ext.injectFunction((
      FunctionIdentifier("word_shingles"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.WordShingles].getName,
        "word_shingles"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.WordShingles(
          children(0), litInt("word_shingles")(children(1), "n"))))
    ext.injectFunction((
      FunctionIdentifier("winnow_fp"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.WinnowFingerprints].getName,
        "winnow_fp"),
      (children: Seq[Expression]) => {
        val p = litInt("winnow_fp") _
        graft.functions.expressions.WinnowFingerprints(
          children(0), p(children(1), "k"), p(children(2), "w"))
      }))
    ext.injectFunction((
      FunctionIdentifier("nfc"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.NfcNormalize].getName,
        "nfc"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.NfcNormalize(children(0))))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.JaroWinkler].getName,
        "jaro_winkler"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.JaroWinkler(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("winnow_fp_pos"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.WinnowFingerprintPositions].getName,
        "winnow_fp_pos"),
      (children: Seq[Expression]) => {
        val p = litInt("winnow_fp_pos") _
        graft.functions.expressions.WinnowFingerprintPositions(
          children(0), p(children(1), "k"), p(children(2), "w"))
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.SimHashBits].getName,
        "simhash"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.SimHashBits(
          children(0), litInt("simhash")(children(1), "bits"))))
    ext.injectFunction((
      FunctionIdentifier("char_ngram_stats"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.CharNgramStats].getName,
        "char_ngram_stats"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.CharNgramStats(
          children(0), litInt("char_ngram_stats")(children(1), "n"))))
    ext.injectFunction((
      FunctionIdentifier("deflate_len"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.DeflateLen].getName,
        "deflate_len"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.DeflateLen(children(0))))
  }

  /** Capacity of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, stock 100, an LRU keyed on
    * the generated source and the requesting class loader). The
    * production path's working set is larger than the stock size: one
    * `BatchRunner.refreshReporting` compiled 124–126 generated classes
    * and one schedule slot (`runCustomer` + `runCall`) 107–125, so a
    * daemon tick uses about 250, plus a few variants per op for the
    * date literals that codegen inlines. At 100 entries the cache cycled
    * and every op recompiled every class (Janino: 1.3–2.6 s per refresh,
    * 0.9–1.4 s per slot, and HotSpot re-warmed each new class). Fixed,
    * not a knob: it is sized from the measured working set, and an entry
    * costs only its class's bytecode.
    *
    * The builder also drops the whole-stage codegen stage id from
    * generated class names (`spark.sql.codegen.useIdInClassName`). AQE
    * numbers stages in the order they are re-planned, which varies with
    * timing, and the id in the name made each numbering a new class.
    * Without it a refresh's classes fall from ~123 to ~107 (fixture
    * warehouse, `CodegenHealthSpec`) and a repeated identical refresh
    * compiles nothing. The id stays in the plan (`*(6)`) and in a
    * comment inside the generated source.
    */
  val CodegenCacheEntries = 1000

  /** The engine's session builder.
    *
    * Which master wins, in order:
    *  1. an already-running SparkContext — `getOrCreate` reuses it and
    *     ignores every master setting;
    *  2. anything the caller sets on the returned builder, such as
    *     `.master(...)` or `.config(sparkConf)` with `spark.master`
    *     (builder options apply in call order, after this method's);
    *  3. the `spark.master` system property (spark-submit `--master`
    *     sets it): when present, `master` is not set at all;
    *  4. otherwise `master`, the LOCAL default.
    * Only the system property is consulted here: a `SparkConf` built
    * elsewhere and not passed to the builder is never seen, and a stray
    * `spark.master` property left in a test or host JVM silently
    * replaces the local default for every session built here.
    *
    * The generated-class cache size ([[CodegenCacheEntries]]) is a
    * static SQL conf: it takes effect only when this builder creates
    * the JVM's first session, and Spark sizes the cache once per JVM.
    */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
    // Respect an externally provided master (spark-submit --master sets
    // the spark.master system property): the `master` argument is the
    // LOCAL default, not an override — hard-setting it would silently
    // turn a cluster deployment into a driver-local run.
    if (!sys.props.contains("spark.master")) b.master(master)
    b
      .withExtensions(extensions)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing floor, stock default. Round-15 swept 1m→1k:
      // order-corrected same-JVM A/Bs showed NO reproducible net win
      // (heavy gates ~0.95, cheap tail ~1.1-1.6 at small floors, full
      // suite 1.00) — the apparent early wins were run-order warmth
      // bias (OPTIMIZATION_r15.md "Measurement honesty"). The knob
      // stays: a deploy whose post-shuffle stages are byte-light but
      // CPU-dense (decimal over posexplode) can lower it per workload.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "1m"))
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // Output committer algorithm, stock default (v1). Round-15
      // A/B'd v2 (task-commit renames, no serial job-commit merge):
      // the naive same-JVM A/B said 0.87, the order-REVERSED A/B said
      // v1 0.78 — i.e. whatever ran second won, and the order-corrected
      // A/B landed at 1.09. No proven win at 16-32 dirs/write, so the
      // safer v1 stays; the knob remains for deploys with hundreds of
      // partition dirs per write, where v2's parallel task-commit
      // renames do matter (this engine tolerates v2's weaker
      // job-failure atomicity — index writes commit via ledger rows,
      // compacts via rewriteInPlace's directory swap).
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
        sys.env.getOrElse("SPARK_GRAFT_COMMITTER_ALGO", "1"))
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Managed-table warehouse (bucketed tables) outside the repo; a
      // cluster deployment overrides this to its real warehouse path.
      .config("spark.sql.warehouse.dir",
        sys.props("java.io.tmpdir") + "/graft-warehouse")
      .config("spark.ui.enabled", "false")
  }

  /** Standard local session: `local[cpus]` with one shuffle partition per
    * core (local mode has no reason to over-partition; a cluster deploy
    * sets `spark.sql.shuffle.partitions` to ~2-3× total cores instead).
    */
  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
