package graft

import org.apache.spark.sql.SparkSession

/** Single place that builds the engine's SparkSession with the
  * configuration contract every entrypoint (Verify, Bench, tests)
  * shares. Keeping this centralized means a scale-tuning change (AQE,
  * shuffle partitions, partition-overwrite mode) applies everywhere.
  */
object Engine {

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
    import graft.functions.expressions._
    // One row per native expression: SQL name, expression class (its
    // ExpressionInfo), and the builder from call arguments to the node.
    val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
      ("cosine_sim", classOf[CosineSimilarity],
        c => CosineSimilarity(c(0), c(1))),
      ("dot_exact", classOf[DotProductExact],
        c => DotProductExact(c(0), c(1))),
      ("minhash_sig", classOf[MinHashSignature], c => {
        val p = litInt("minhash_sig") _
        MinHashSignature(c(0), p(c(1), "k"), p(c(2), "n"))
      }),
      ("ngram_stats", classOf[NgramStats],
        c => NgramStats(c(0), litInt("ngram_stats")(c(1), "n"))),
      ("dot_product", classOf[DotProduct], c => DotProduct(c(0), c(1))),
      ("fwht", classOf[Fwht], c => Fwht(c(0))),
      ("word_shingles", classOf[WordShingles],
        c => WordShingles(c(0), litInt("word_shingles")(c(1), "n"))),
      ("winnow_fp", classOf[WinnowFingerprints], c => {
        val p = litInt("winnow_fp") _
        WinnowFingerprints(c(0), p(c(1), "k"), p(c(2), "w"))
      }),
      ("nfc", classOf[NfcNormalize], c => NfcNormalize(c(0))),
      ("jaro_winkler", classOf[JaroWinkler], c => JaroWinkler(c(0), c(1))),
      ("winnow_fp_pos", classOf[WinnowFingerprintPositions], c => {
        val p = litInt("winnow_fp_pos") _
        WinnowFingerprintPositions(c(0), p(c(1), "k"), p(c(2), "w"))
      }),
      ("simhash", classOf[SimHashBits],
        c => SimHashBits(c(0), litInt("simhash")(c(1), "bits"))),
      ("char_ngram_stats", classOf[CharNgramStats],
        c => CharNgramStats(c(0), litInt("char_ngram_stats")(c(1), "n"))),
      ("deflate_len", classOf[DeflateLen], c => DeflateLen(c(0))))
    functions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
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

  /** The engine's session builder. Engine defaults, applied on top of
    * any master/cores choice:
    *
    *  - non-ANSI: the reference's SAFE_CAST / pandas-coercion semantics
    *    (reference runner.py:171, api.py:109-127) are permissive.
    *  - AQE on: runtime coalescing + skew-join splitting is the 100 TB
    *    answer to skewed keys (SURVEY.md §4).
    *  - dynamic partition overwrite: a partitioned overwrite replaces
    *    only the partitions it writes. Writers that mean a snapshot (the
    *    index builds, the merge's staging dir in
    *    [[operators.Upsert.rewritePartitions]]) opt out per write.
    *  - nanosAsLong: the fixture `events` table carries parquet
    *    TIMESTAMP(NANOS), which Spark's reader otherwise rejects
    *    (PARQUET_TYPE_ILLEGAL); we read the raw int64 and convert in
    *    [[Tables.table]].
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
      // AQE coalescing floor, stock: smaller floors measured no net win
      // in order-corrected A/Bs (OPTIMIZATION_r15.md "Measurement honesty").
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // Output committer v1, stock: v2 measured 1.09x slower order-corrected
      // (OPTIMIZATION_r15.md), and v1 keeps job-failure atomicity.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
        "1")
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
