package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What the harness learns from one op after it ran (untimed). */
final case class OpCheck(items: Double, useful: Double, ok: Boolean = true,
    mergedUseful: Double = 0)

/** One benchmark workload: set-up, then a fixed op sequence. `prepare`
  * and `after` run outside the timed region; `op` is what is timed.
  */
trait Workload {
  def warmOps: Int
  def timedOps: Int
  def setup(spark: SparkSession, dir: String, rec: Option[Recorder]): Unit
  def prepare(i: Int): Unit
  def op(i: Int, rec: Option[Recorder]): Unit
  def after(i: Int): OpCheck
  /** Final-state checks against the model; empty when correct. */
  def finish(): Seq[String]
  def close(): Unit = ()
  /** Traffic counters (stub and fetch side) for per-op deltas. */
  def counters: Map[String, Long] = Map.empty

  /** Seconds per named set-up phase, for the provenance record. */
  val setupPhases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def phase[T](name: String)(body: => T): T = {
    val t = System.nanoTime()
    try body finally setupPhases(name) = (System.nanoTime() - t) / 1e9
  }
}

object Trace {
  def span[T](rec: Option[Recorder], name: String)(body: => T): T =
    rec.fold(body)(_(name)(body))
}

/** Entry point: `perfbench.Main <workload> <seed> <trace 0|1> <work dir>
  * <result file> [<spans file>]`. Normally launched by `run.py`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(name, seedS, traceS, dir, out) = args.take(5)
    val seed = seedS.toLong
    val traced = traceS == "1"
    val nproc = Runtime.getRuntime.availableProcessors()
    val w: Workload = name match {
      case "slots" => new SlotsWorkload(seed, nproc, warmOps = 1, timedOps = 2)
      case "report" => new ReportWorkload(seed, warmOps = 1, timedOps = 2)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val root = s"$dir/work"

    // Set-up: session start plus the workload's own set-up, in a fresh
    // JVM and an empty work dir. It runs once: a second, warm set-up
    // would cost as much as the timed ops.
    val t = System.nanoTime()
    val spark = w.phase("session")(graft.Engine.local(nproc))
    val rec = if (traced) Some(new Recorder(spark, Thread.currentThread())) else None
    w.setup(spark, root, rec)
    val setupS = (System.nanoTime() - t) / 1e9
    val setupRefusals = w.counters.getOrElse("stub.refusals", 0L)

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum.toDouble
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jit = ManagementFactory.getCompilationMXBean
    val costs = scala.collection.mutable.ArrayBuffer.empty[OpCost]
    val timed = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, OpCheck)]
    val layers = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val warmMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var newBytes = 0.0
    var failures = Vector.empty[String]
    for (i <- 0 until w.warmOps + w.timedOps) {
      w.prepare(i)
      val before = Files.snapshot(root)
      rec.foreach(_.beginOp(i))
      val n0 = w.counters
      val g0 = gcMs
      val c0 = os.getProcessCpuTime
      val j0 = jit.getTotalCompilationTime
      val s0 = OpCost.stealTicks()
      val t0 = System.nanoTime()
      val err = try { w.op(i, rec); None } catch {
        case e: Exception => Some(s"op $i: $e")
      }
      val t1 = System.nanoTime()
      val cost = OpCost((os.getProcessCpuTime - c0) / 1e6,
        (jit.getTotalCompilationTime - j0).toDouble, gcMs - g0,
        (OpCost.stealTicks() - s0) * 10.0)
      val after = Files.snapshot(root)
      rec.foreach { r =>
        val n1 = w.counters
        def d(k: String) = (n1.getOrElse(k, 0L) - n0.getOrElse(k, 0L)).toDouble
        layers += r.endOp(t0, t1, gcMs - g0) ++ Files.diff(before, after) ++
          Map("sources.requests" -> d("stub.requests"),
            "sources.auth_refreshes" -> d("stub.unauthorized"),
            "sources.transport_ms" -> d("fetch.ns") / 1e6)
      }
      val chk = if (err.isEmpty) w.after(i) else OpCheck(0, 0, ok = false)
      err.foreach(failures :+= _)
      if (err.isEmpty && !chk.ok) failures :+= s"op $i: output differs from the model"
      if (i < w.warmOps) warmMs += (t1 - t0) / 1e6
      else {
        timed += ((i, (t1 - t0) / 1e6, chk))
        costs += cost
        newBytes += Files.newBytes(before, after)
      }
    }
    val finalErrs = (try w.finish() catch { case e: Exception => Seq(s"final check: $e") }) ++
      PerLayer.coverage(layers.toSeq).zipWithIndex.collect { case (c, i) if !(c >= 0.9) =>
        f"op $i: layer self times cover only ${c * 100}%.1f%% of its wall" }
    // Let the ContextCleaner release blocks the first collection unpinned.
    System.gc(); Thread.sleep(1000); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    // A failed final-state check fails every op: none can be trusted.
    val okOps = if (finalErrs.nonEmpty) 0 else timed.count(_._3.ok)
    val items = timed.map(_._3.items).sum
    val metrics: Map[String, (Double, String)] = rec match {
      case None => Map(
        "setup_s" -> (setupS, "s"),
        "success_rate" -> (okOps.toDouble / timed.size, "ratio"),
        "op_p50_ms" -> (Stats.median(timed.map(_._2).toSeq), "ms"),
        "items_per_s" -> (items / (timed.map(_._2).sum / 1000), "1/s"),
        "bytes_per_item" -> (newBytes / items, "B"),
        "retained_heap_mb" -> (heapMb, "MB"))
      case Some(r) =>
        r.close()
        if (args.length > 5) java.nio.file.Files.writeString(new File(args(5)).toPath, r.spansJson)
        PerLayer.metrics(layers.drop(w.warmOps).toSeq, timed.toSeq, r, setupRefusals)
    }

    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter(_._1.startsWith("spark.")).filterNot(_._1.contains("host"))
    val result = Json.obj(
      "correct" -> (failures.isEmpty && finalErrs.isEmpty),
      "attempted" -> timed.size,
      "failed" -> (timed.size - okOps),
      "metrics" -> Json.Raw(metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        s"${Json.str(k)}: ${Json.obj("value" -> v, "unit" -> u)}" }.mkString("{", ", ", "}")),
      "provenance" -> Json.Raw(Json.obj(
        "workload" -> name, "seed" -> seed, "nproc" -> nproc, "traced" -> traced,
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filter(a => a.startsWith("-X")),
        "spark_conf" -> conf.toMap,
        "setup_s" -> setupS,
        "setup_phases_s" -> w.setupPhases,
        "warm_ops" -> w.warmOps, "warm_ops_ms" -> warmMs, "timed_ops" -> timed.size,
        "ops" -> timed.zip(costs).map { case ((i, ms, c), k) =>
          Json.Raw(Json.obj("op" -> i, "ms" -> ms, "items" -> c.items, "cpu_ms" -> k.cpuMs,
            "jit_ms" -> k.jitMs, "gc_ms" -> k.gcMs, "steal_ms" -> k.stealMs)) },
        "errors" -> (failures ++ finalErrs).take(20))))
    java.nio.file.Files.writeString(new File(out).toPath, result)
    w.close()
    spark.stop()
  }
}

/** What an op cost the process and the machine, for the provenance
  * record: process CPU (all threads, JIT compilers included), JIT
  * compile time, GC time, and vCPU time the hypervisor stole from the
  * machine (all cpus, from /proc/stat).
  */
final case class OpCost(cpuMs: Double, jitMs: Double, gcMs: Double, stealMs: Double)

object OpCost {
  /** Steal ticks (1/100 s) summed over cpus; 0 where /proc/stat is absent. */
  def stealTicks(): Long =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+")
      if (f.length > 8) f(8).toLong else 0L
    } catch { case _: java.io.IOException => 0L }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

/** File-tree accounting around each op (untimed): what the op wrote. */
object Files {
  type Snap = Map[String, Long]

  def snapshot(root: String): Snap = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
      finally s.close()
    }
  }

  private def created(a: Snap, b: Snap): Map[String, Long] =
    b.filter { case (f, n) => !a.get(f).contains(n) && !f.endsWith(".crc") }

  def newBytes(a: Snap, b: Snap): Double = created(a, b).values.sum.toDouble

  /** Per-op storage counters for the traced run. */
  def diff(a: Snap, b: Snap): Map[String, Double] = {
    val c = created(a, b)
    val data = c.filter(_._1.endsWith(".parquet"))
    def under(t: String) = data.filter(_._1.contains(s"/$t/"))
    val mergeTargets = Seq("customer", "fact_staff_daily")
    val rewritten = mergeTargets.flatMap(t => under(t).keys.map(f =>
      f.substring(0, f.lastIndexOf('/')))).distinct
    Map(
      "storage.files_written" -> data.size.toDouble,
      "storage.bytes_written" -> c.values.sum.toDouble,
      "upsert.partitions_rewritten" -> rewritten.size.toDouble,
      "upsert.bytes_rewritten" -> mergeTargets.map(t => under(t).values.sum).sum.toDouble,
      "upsert.rows_rewritten" -> mergeTargets.flatMap(t => under(t).keys).map(rows).sum,
      "incremental.audit_files" -> under("update_log").size.toDouble,
      "storage.table_files" -> b.keys.count(_.endsWith(".parquet")).toDouble)
  }

  /** Row count from a parquet footer (no Spark job). */
  private def rows(file: String): Double = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount.toDouble finally r.close()
  }
}

/** Per-layer metrics of a traced run, averaged per timed op unless the
  * name says otherwise.
  */
object PerLayer {
  /** The printed self-time metrics and the sampler layer each reports.
    * Together they are every layer [[Layers.of]] knows.
    */
  val SelfTimes: Seq[(String, String)] = Seq(
    "sources.fetch_ms" -> "sources.fetch",
    "storage.append_ms" -> "storage.append",
    "storage.truncate_ms" -> "storage.truncate",
    "storage.read_schema_ms" -> "storage.read_schema",
    "storage.other_ms" -> "storage.other",
    "upsert.merge_ms" -> "upsert.merge",
    "incremental.audit_flush_ms" -> "incremental.audit_flush",
    "incremental.checkpoint_ms" -> "incremental.checkpoint",
    "pipelines.transform_ms" -> "pipelines.transform",
    "pipelines.fact_ms" -> "pipelines.fact",
    "pipelines.runner_ms" -> "pipelines.runner")

  /** Per op: the printed self times' share of its wall. Time the sampler
    * found outside every layer (no program frame on the stack) is not
    * covered.
    */
  def coverage(ops: Seq[Map[String, Double]]): Seq[Double] = ops.map { o =>
    SelfTimes.map { case (_, l) => o.getOrElse(s"self.$l", 0.0) }.sum /
      o.getOrElse("op.wall_ms", Double.NaN)
  }

  def metrics(ops: Seq[Map[String, Double]], timed: Seq[(Int, Double, OpCheck)],
      r: Recorder, setupRefusals: Long): Map[String, (Double, String)] = {
    val n = math.max(1, ops.size).toDouble
    def sum(k: String) = ops.map(_.getOrElse(k, 0.0)).sum
    def per(k: String) = sum(k) / n
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val ms = "ms"; val count = "count"
    val coverage = PerLayer.coverage(ops)
    SelfTimes.map { case (m, l) => m -> (per(s"self.$l"), ms) }.toMap ++ Map(
      "sources.transport_ms" -> (per("sources.transport_ms"), ms),
      "sources.requests" -> (per("sources.requests"), count),
      "sources.jobs" -> (per("sources.fetch.jobs"), count),
      "sources.auth_refreshes" -> (per("sources.auth_refreshes"), count),
      "sources.window_refusals" -> (setupRefusals.toDouble, count),
      "sources.useful_ratio" -> (ratio(timed.map(_._3.useful).sum, timed.map(_._3.items).sum), "ratio"),
      "storage.jobs" -> (Seq("append", "truncate", "read_schema", "other")
        .map(s => per(s"storage.$s.jobs")).sum, count),
      "storage.files_written" -> (per("storage.files_written"), count),
      "storage.bytes_written" -> (per("storage.bytes_written"), "B"),
      "storage.table_files" -> (ops.lastOption.map(_.getOrElse("storage.table_files", 0.0)).getOrElse(0.0), count),
      "upsert.jobs" -> (per("upsert.merge.jobs"), count),
      "upsert.partitions_rewritten" -> (per("upsert.partitions_rewritten"), count),
      "upsert.bytes_rewritten" -> (per("upsert.bytes_rewritten"), "B"),
      "upsert.useful_ratio" -> (ratio(timed.map(_._3.mergedUseful).sum, sum("upsert.rows_rewritten")), "ratio"),
      "pipelines.customer_ms" -> (per("pipelines.customer.inclusive_ms"), ms),
      "pipelines.call_ms" -> (per("pipelines.call.inclusive_ms"), ms),
      "pipelines.merge_a_ms" -> (per("pipelines.merge_a_ms"), ms),
      "pipelines.merge_b_ms" -> (per("pipelines.merge_b_ms"), ms),
      "incremental.audit_files" -> (per("incremental.audit_files"), count),
      "incremental.warm_ms" -> (r.total("incremental.warm"), ms),
      "engine.jobs" -> (per("engine.jobs"), count),
      "engine.tasks" -> (per("engine.tasks"), count),
      "engine.driver_only_ms" -> (per("engine.driver_only_ms"), ms),
      "engine.planning_ms" -> (per("engine.planning_ms"), ms),
      "engine.executor_run_ms" -> (per("engine.executor_run_ms"), ms),
      "engine.executor_cpu_ms" -> (per("engine.executor_cpu_ms"), ms),
      "engine.shuffle_bytes" -> (per("engine.shuffle_bytes"), "B"),
      "engine.spill_bytes" -> (per("engine.spill_bytes"), "B"),
      "engine.gc_ms" -> (per("engine.gc_ms"), ms),
      "trace.op_p50_ms" -> (Stats.median(timed.map(_._2)), ms),
      "trace.coverage_min" -> (if (coverage.isEmpty) 0.0 else coverage.min, "ratio"))
  }
}
