package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A recorded interval: `parent` is the id of the span that caused it
  * (0 for an op root), `op` the op it belongs to (-1 during set-up).
  */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, op: Int)

/** Maps a stack frame of the program to the module layer it belongs to.
  * Shared by the job listener (call sites) and the stack sampler, so a
  * job and the driver time around it land in the same layer.
  */
object Layers {
  def of(cls: String, method: String): Option[String] =
    if (!cls.startsWith("graft.")) None
    else if (cls.startsWith("graft.sources.Storage"))
      Some(if (method.contains("loadAppend")) "storage.append"
        else if (method.contains("loadTruncate")) "storage.truncate"
        else if (method.contains("read")) "storage.read_schema"
        else "storage.other")
    else if (cls.startsWith("graft.sources.")) Some("sources.fetch")
    else if (cls.startsWith("graft.operators.Upsert")) Some("upsert.merge")
    else if (cls.startsWith("graft.incremental.UpdateLogBuffer"))
      Some("incremental.audit_flush")
    else if (cls.startsWith("graft.incremental.CheckpointStore"))
      Some("incremental.checkpoint")
    else if (cls.startsWith("graft.pipelines.CallioIngest"))
      Some("pipelines.transform")
    else if (cls.startsWith("graft.pipelines.FactStaffDaily"))
      Some("pipelines.fact")
    else if (cls.startsWith("graft.pipelines.")) Some("pipelines.runner")
    else None // shared helpers (functions, operators used inside a layer): look outward

  /** Innermost program layer of a stack, innermost frame first. */
  def innermost(frames: Iterator[(String, String)]): Option[String] =
    frames.flatMap { case (c, m) => of(c, m) }.nextOption()

  private val frameRe = """^\s*(?:at\s+)?([\w.$]+)\.([\w$]+)\(.*$""".r

  /** Layer of a job from Spark's long call-site form. */
  def ofCallSite(details: String): String =
    innermost(details.linesIterator.collect {
      case frameRe(c, m) => (c, m)
    }).getOrElse("unattributed")
}

/** Per-run recorder for the traced run. Everything is kept in memory and
  * written once at the end. It observes the program only from outside:
  * spans around the harness's calls into public functions, a
  * [[SparkListener]] that attributes each job to the innermost
  * `graft.<module>` frame of its call site, a [[QueryExecutionListener]]
  * for Catalyst phase times, and a sampler on the driver thread that
  * charges each slice of an op's wall time to the innermost program
  * layer on the stack (falling back to the open harness span).
  */
final class Recorder(spark: SparkSession, driver: Thread) {
  private val t0 = System.nanoTime()
  private val t0WallMs = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Long, String, Long)]
  private var nextId = 1L
  @volatile private var op = -1
  private var opSpan = 0L

  // Per-op accumulators, reset at beginOp; guarded by `this`.
  private val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = synchronized { acc(k) += v }

  private val jobLayer = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  // SQL execution id -> layer of the execution's call site. Adaptive
  // query stages run as jobs on a Spark thread pool whose own stack holds
  // no program frame; they inherit the execution id.
  private val execLayer = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execLayer.put(s.executionId, Layers.ofCallSite(s.details))
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // A job with no program frame on its call site takes the open span.
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.SpanKey)))
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execLayer.get(id.toLong)))
      val site = e.stageInfos.headOption.map(s => Layers.ofCallSite(s.details))
        .filter(_ != "unattributed").orElse(exec).getOrElse("unattributed")
      val layer = if (site == "unattributed") span.getOrElse(site) else site
      jobLayer.put(e.jobId, (layer, e.time))
      add("engine.jobs", 1); add(s"$layer.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobLayer.remove(e.jobId)).foreach { case (layer, start) =>
        Recorder.this.synchronized {
          jobIntervals += ((start, e.time))
          spans += Span(nextId, s"job:$layer", (start - t0WallMs) * 1000000L,
            (e.time - t0WallMs) * 1000000L, opSpan, op)
          nextId += 1
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        add("engine.tasks", 1)
        add("engine.executor_run_ms", m.executorRunTime.toDouble)
        add("engine.executor_cpu_ms", m.executorCpuTime / 1e6)
        add("engine.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("engine.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      add("engine.planning_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  // ---- spans ----------------------------------------------------------

  private val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Inclusive ms of every span named `name` so far, set-up included. */
  def total(name: String): Double = synchronized(totals(name))

  /** Time `body` as a span named after the layer it calls into. */
  def apply[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Recorder.SpanKey)
    sc.setLocalProperty(Recorder.SpanKey, name)
    val s = System.nanoTime()
    val id = synchronized { val i = nextId; nextId += 1; open.push((i, name, s)); i }
    try body
    finally {
      val e = System.nanoTime()
      sc.setLocalProperty(Recorder.SpanKey, outer)
      synchronized {
        open.pop()
        spans += Span(id, name, s - t0, e - t0,
          open.headOption.map(_._1).getOrElse(opSpan), op)
        acc(s"$name.inclusive_ms") += (e - s) / 1e6
        totals(name) += (e - s) / 1e6
      }
    }
  }

  private def currentSpanName: Option[String] = synchronized(open.headOption.map(_._2))

  // ---- driver-thread sampler -----------------------------------------

  @volatile private var running = true
  @volatile private var sampling = false
  @volatile private var lastNs = 0L
  @volatile private var lastLayer = "unattributed"
  @volatile private var lastLine = -1
  // Line of BatchRunner.refreshReporting on the stack, per sample; lets
  // the op split its wall into MERGE A and MERGE B afterwards: the first
  // Upsert call line seen ends MERGE A (with the reads both merges share).
  private val refreshLines = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
  private val upsertLines = mutable.Set.empty[Int]

  private def classify(): (String, Int) = {
    val st = driver.getStackTrace
    val frames = st.iterator.map(f => (f.getClassName, f.getMethodName))
    // Time with no program frame on the stack counts against coverage
    // under the open harness span's name.
    val layer = Layers.innermost(frames)
      .getOrElse(currentSpanName.fold("unattributed")("span:" + _))
    val line = st.find(f => f.getClassName.startsWith("graft.pipelines.BatchRunner") &&
      f.getMethodName.contains("refreshReporting")).map(_.getLineNumber).getOrElse(-1)
    (layer, line)
  }

  /** Charge the time since the last sample to the last sample's layer.
    * Only while an op is open, except for the op's closing charge.
    */
  private def charge(now: Long, layer: String, line: Int, closing: Boolean = false): Unit =
    synchronized {
      if (sampling || closing) {
        val ms = (now - lastNs) / 1e6
        acc(s"self.$lastLayer") += ms
        if (lastLine >= 0) refreshLines(lastLine) += ms
        if (line >= 0 && layer == "upsert.merge") upsertLines += line
        lastNs = now; lastLayer = layer; lastLine = line
      }
    }

  private val sampler = new Thread(() => {
    while (running) {
      if (sampling) {
        val (layer, line) = classify()
        charge(System.nanoTime(), layer, line)
      }
      Thread.sleep(Recorder.SampleMs)
    }
  }, "perfbench-sampler")
  sampler.setDaemon(true)
  sampler.start()

  // ---- ops ------------------------------------------------------------

  def beginOp(id: Int): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    synchronized {
      acc.clear(); jobIntervals.clear(); refreshLines.clear(); upsertLines.clear()
      opSpan = nextId; nextId += 1
      lastNs = System.nanoTime(); lastLayer = "unattributed"; lastLine = -1
      op = id
    }
    sampling = true
  }

  /** Close op `id` and return its per-op counters. `startNs`/`endNs` are
    * the harness's own timed boundaries.
    */
  def endOp(startNs: Long, endNs: Long, gcMs: Double): Map[String, Double] = {
    sampling = false
    val (layer, line) = classify()
    charge(endNs max lastNs, layer, line, closing = true)
    val id = op
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    synchronized {
      op = -1
      spans += Span(opSpan, s"op", startNs - t0, endNs - t0, 0, id)
      val wall = (endNs - startNs) / 1e6
      val busy = union(jobIntervals.toSeq)
      acc("engine.driver_only_ms") += math.max(0.0, wall - busy)
      acc("engine.gc_ms") += gcMs
      acc("op.wall_ms") += wall
      if (upsertLines.nonEmpty) {
        val a = upsertLines.min
        acc("pipelines.merge_a_ms") += refreshLines.collect { case (l, ms) if l <= a => ms }.sum
        acc("pipelines.merge_b_ms") += refreshLines.collect { case (l, ms) if l > a => ms }.sum
      }
      acc.toMap
    }
  }

  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    (total + math.max(0L, curE - curS)).toDouble
  }

  def close(): Unit = {
    running = false
    sampler.join()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def spansJson: String = synchronized {
    spans.map(s => Json.obj("id" -> s.id, "name" -> s.name,
      "start_us" -> s.startNs / 1000, "end_us" -> s.endNs / 1000,
      "parent" -> s.parent, "op" -> s.op)).mkString("[\n", ",\n", "\n]\n")
  }
}

object Recorder {
  val SpanKey = "perfbench.span"
  /** Sampling period of the driver thread's stack. */
  val SampleMs = 20L
}
