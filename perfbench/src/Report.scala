package perfbench

import java.time.LocalDate

import scala.collection.mutable

import graft.operators.Upsert
import graft.pipelines.{BatchRunner, CallioIngest}
import graft.sources.{PagedSource, Storage}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `report`: the two-MERGE `fact_staff_daily` refresh over a 30-day,
  * call-heavy PK warehouse. Set-up writes the warehouse with the ingest
  * path's own transforms and storage calls (what a backfill leaves,
  * without the fetch, which `slots` measures). Each op is one
  * `refreshReporting(dEnd)`; `dEnd` alternates between the last two
  * days, as the daemon refreshes one day several times, and every op
  * rewrites a trailing window of eight-plus fact partitions.
  */
final class ReportWorkload(seed: Long, val warmOps: Int, val timedOps: Int)
    extends Workload {
  private val universe = Universe.report(seed)
  private val lastDay = Universe.vn7Day(universe.now0)
  private def dEnd(i: Int): LocalDate = lastDay.minusDays((i % 2).toLong)
  private var spark: SparkSession = _
  private var wh: String = _
  private var runner: BatchRunner = _

  def setup(s: SparkSession, dir: String, rec: Option[Recorder]): Unit = {
    spark = s
    wh = s"$dir/warehouse"
    def json(docs: Seq[String]): DataFrame =
      s.read.json(s.createDataset(docs)(org.apache.spark.sql.Encoders.STRING))
    phase("call_log") {
      val calls = CallioIngest.callLogTransform(json(universe.calls.map(_.json).toSeq), "PK")
      Storage.loadAppend(calls, s"$wh/call_log", partitionCol = Some("NgayTao"),
        clusterBy = Seq("tenant"))
    }
    phase("customer") {
      val customers = CallioIngest.customerTransform(
        json(universe.customers.map(_.json).toSeq), "PK")
      Upsert.applyToPartitionedParquet(spark, s"$wh/customer", customers,
        keys = Seq("tenant", "_id"), partitionCol = "NgayUpdate")
    }
    phase("group")(Storage.loadTruncate(
      CallioIngest.groupTransform(json(universe.groupDocs("PK")), "PK"), s"$wh/group"))
    val noFetch: PagedSource.DocFetcher = (_, _, _, _, _, _, _) =>
      throw new IllegalStateException("the report workload does not fetch")
    val noSnapshot: BatchRunner.SnapshotFetcher = (_, _, _) =>
      throw new IllegalStateException("the report workload does not fetch")
    runner = new BatchRunner(spark, noFetch, noSnapshot, BatchRunner.Config(wh, Seq("PK")))
  }

  // Model of the fact rows with calls: (Ngay, MaNV_id) -> (TongCuoc, SoSDT_Unique)
  private val facts = mutable.Map.empty[(LocalDate, String), (Long, Long)]

  def prepare(i: Int): Unit = ()

  def op(i: Int, rec: Option[Recorder]): Unit =
    Trace.span(rec, "pipelines.report")(runner.refreshReporting(dEnd(i)))

  def after(i: Int): OpCheck = {
    val hi = dEnd(i); val lo = hi.minusDays(7)
    val calls = universe.calls.filter { c =>
      val d = Universe.utcDay(c.ts); !d.isBefore(lo) && !d.isAfter(hi)
    }
    var changed = 0
    calls.groupBy(c => (Universe.vn7Day(c.ts), c.user)).foreach { case (k, cs) =>
      val v = (cs.size.toLong, cs.map(_.to).distinct.size.toLong)
      if (!facts.get(k).contains(v)) changed += 1
      facts(k) = v
    }
    OpCheck(items = calls.size.toDouble, useful = 0, mergedUseful = changed.toDouble)
  }

  def finish(): Seq[String] = {
    val got = spark.read.parquet(s"$wh/fact_staff_daily")
      .filter(col("Tenant") === "PK" && col("TongCuoc") > 0)
      .select("Ngay", "MaNV_id", "TongCuoc", "SoSDT_Unique").collect()
      .map(r => (r.getDate(0).toLocalDate, r.getString(1)) -> (r.getLong(2), r.getLong(3)))
    val dupKeys = got.length - got.map(_._1).distinct.length
    val errs = mutable.ArrayBuffer.empty[String]
    if (dupKeys != 0) errs += s"$dupKeys duplicate (Ngay, MaNV_id) fact rows"
    if (got.toMap != facts.toMap)
      errs += s"fact TongCuoc/SoSDT_Unique differ from the model (${got.length} rows vs " +
        s"${facts.size}; e.g. ${(got.toSet diff facts.toSet).take(3)})"
    errs.toSeq
  }
}
