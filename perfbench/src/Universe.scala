package perfbench

import java.time.{Instant, LocalDate, ZoneOffset}
import scala.collection.mutable.ArrayBuffer

/** One version of a customer document as the API serves it. */
final case class Cust(tenant: String, id: String, ts: Long, version: Int,
    json: String) {
  def day: LocalDate = Universe.utcDay(ts)
}

/** One call document (calls are append-only, one version each). */
final case class Call(tenant: String, id: String, ts: Long, user: String,
    to: String, json: String)

/** The traffic of one schedule slot, per unit of tenant weight. The
  * same counts make the 30-day history (five slots a day) and the timed
  * slots, so the warehouse the timed slots merge into is the one their
  * own rate builds. They depend only on the workload, never on the
  * seed: the seed changes contents (ids, phones, statuses, times inside
  * a window), so every seed does the same amount of work.
  *
  * The reference publishes no production volumes; its only figures are
  * operational defaults (500-doc pages, five runs a day, a 30-day
  * backfill, a 3-minute overlap, a 7-day reporting window). These
  * counts are assumptions, chosen so that the largest tenant's slot
  * delta spans two pages and its busiest backfill days exceed the
  * result window.
  *
  * @param weights   per-tenant volume multipliers (Zipf: 1, 1/2, 1/3, ...)
  * @param slotNew   customers created per slot
  * @param slotUpd   existing customers updated per slot
  * @param slotCalls calls per slot
  */
final case class Shape(tenants: Seq[String], weights: Seq[Double],
    slotNew: Int, slotUpd: Int, slotCalls: Int, staffPerTenant: Int = 40,
    groupsPerTenant: Int = 6)

/** Seeded Callio-shaped universe: 30 days of schedule slots before
  * `now0`, whose latest customer versions and calls the backfill
  * fetches, then `slots` timed schedule slots, each with its delta.
  */
final class Universe(seed: Long, val shape: Shape, val slots: Int) {
  import Universe._

  private val rng = new java.util.SplittableRandom(seed)

  /** Backfill instant (a 02:30 slot) and the schedule slots after it;
    * fixed, not seeded.
    */
  val now0: Long = Instant.parse("2024-03-31T02:30:00Z").toEpochMilli
  private val schedule = Iterator.iterate(Instant.ofEpochMilli(now0 - HistoryDays * Day))(
      graft.incremental.Scheduler.nextScheduled(_, graft.incremental.Scheduler.defaultRunTimes))
    .map(_.toEpochMilli)
  /** Slot instants from the backfill cutoff to the last timed slot. */
  private val allSlots: IndexedSeq[Long] =
    schedule.takeWhile(_ <= now0).toIndexedSeq ++
      Iterator.iterate(now0)(t => graft.incremental.Scheduler.nextScheduled(
        Instant.ofEpochMilli(t), graft.incremental.Scheduler.defaultRunTimes).toEpochMilli)
        .drop(1).take(slots)
  val slotTimes: IndexedSeq[Long] = allSlots.filter(_ > now0)

  val customers = ArrayBuffer.empty[Cust]
  val calls = ArrayBuffer.empty[Call]

  private val statuses = Seq("kết bạn zalo", "có nhu cầu", "từ chối",
    "không nghe máy", "bận", "suy nghĩ thêm", "thuê bao")

  private def userOf(tenant: String): Int = rng.nextInt(shape.staffPerTenant)

  private def custJson(tenant: String, id: String, ts: Long, created: Long,
      version: Int, ph: String, u: Int): String = {
    val st = statuses(rng.nextInt(statuses.size))
    s"""{"_id":"$id","updateTime":$ts,"createTime":$created,""" +
      s""""name":"KH $id v$version","phone":"$ph","assignedTime":$created,""" +
      s""""user":{"_id":"$tenant-u$u","name":"NV $tenant $u",""" +
      s""""group":{"_id":"$tenant-g${u % shape.groupsPerTenant}"}},""" +
      s""""customFields":[{"key":"tinh-trang-kh","val":"$st"}]}"""
  }

  private def callJson(tenant: String, id: String, ts: Long, ph: String,
      u: Int): String = {
    val bill = if (rng.nextInt(10) < 3) 0 else 5 + rng.nextInt(300)
    val ring = 3 + rng.nextInt(25)
    s"""{"_id":"$id","createTime":$ts,"startTime":$ts,""" +
      s""""endTime":${ts + (ring + bill) * 1000L},"billDuration":$bill,""" +
      s""""duration":${ring + bill},"direction":"outbound",""" +
      s""""hangupCause":"NORMAL_CLEARING","toNumber":"$ph",""" +
      s""""fromUser":{"_id":"$tenant-u$u","name":"NV $tenant $u"},""" +
      s""""fromGroup":{"_id":"$tenant-g${u % shape.groupsPerTenant}"}}"""
  }

  /** `n` distinct instants strictly inside (lo, hi), ascending. Every
    * document of one tenant and entity in a window takes its instant
    * from one call, so no two share a time: the fetch's result-window
    * recovery resumes below the oldest time it saw.
    */
  private def instants(n: Int, lo: Long, hi: Long): Array[Long] = {
    require(hi - lo > 2L * n, "window too narrow for distinct instants")
    val set = scala.collection.mutable.HashSet.empty[Long]
    while (set.size < n) set += lo + 1 + rng.nextLong(hi - lo - 1)
    set.toArray.sorted
  }

  private def shuffled(xs: IndexedSeq[Int]): IndexedSeq[Int] = {
    val a = xs.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  private def scaled(n: Int, t: Int) =
    math.max(1, math.round(n * shape.weights(t)).toInt)

  locally {
    shape.tenants.zipWithIndex.foreach { case (tenant, t) =>
      // Per customer number: phone, assigned user, creation time, and its
      // latest version before now0 (time, version number).
      val phones = ArrayBuffer.empty[String]
      val users = ArrayBuffer.empty[Int]
      val created = ArrayBuffer.empty[Long]
      val lastTs = ArrayBuffer.empty[Long]
      val lastVer = ArrayBuffer.empty[Int]
      val updatedInRun = scala.collection.mutable.HashSet.empty[Int]
      val phoneBase = rng.nextInt(1000000)
      var nextCall = 0
      def id(c: Int) = s"$tenant-c$c"
      allSlots.sliding(2).foreach { case Seq(prev, now) =>
        val timed = now > now0
        val existing = phones.size
        // In the timed slots each customer is updated at most once: a
        // second update of a key whose first update left a row outside
        // the merge window would be a different MERGE case from the one
        // modelled.
        val pool = if (timed) (0 until existing).filterNot(updatedInRun) else 0 until existing
        val nUpd = math.min(scaled(shape.slotUpd, t), pool.size)
        val picks = scala.collection.mutable.LinkedHashSet.empty[Int]
        while (picks.size < nUpd) picks += pool(rng.nextInt(pool.size))
        val nNew = scaled(shape.slotNew, t)
        (existing until existing + nNew).foreach { c =>
          phones += f"09$t%d${(phoneBase + c * 7919L) % 10000000}%07d"
          users += userOf(tenant); created += 0L; lastTs += 0L; lastVer += 1
        }
        val roles = shuffled(picks.toIndexedSeq ++ (existing until existing + nNew))
        roles.zip(instants(roles.size, prev, now)).foreach { case (c, ts) =>
          if (c >= existing) {
            created(c) = ts; lastTs(c) = ts
            if (timed) customers += Cust(tenant, id(c), ts, 1,
              custJson(tenant, id(c), ts, ts, 1, phones(c), users(c)))
          } else {
            lastTs(c) = ts; lastVer(c) += 1
            if (timed) {
              updatedInRun += c
              customers += Cust(tenant, id(c), ts, lastVer(c),
                custJson(tenant, id(c), ts, created(c), lastVer(c), phones(c), users(c)))
            }
          }
        }
        if (now == now0) (0 until phones.size).foreach { c =>
          customers += Cust(tenant, id(c), lastTs(c), lastVer(c),
            custJson(tenant, id(c), lastTs(c), created(c), lastVer(c), phones(c), users(c)))
        }
        // Most calls reach a known customer's phone; a tenth go to
        // numbers the CRM does not hold.
        instants(scaled(shape.slotCalls, t), prev, now).foreach { ts =>
          val cid = s"$tenant-k$nextCall"; nextCall += 1
          val ph = if (phones.isEmpty || rng.nextInt(10) == 0)
            f"08$t%d${rng.nextInt(10000000)}%07d" else phones(rng.nextInt(phones.size))
          val u = userOf(tenant)
          calls += Call(tenant, cid, ts, s"$tenant-u$u", ph, callJson(tenant, cid, ts, ph, u))
        }
      }
    }
  }

  /** Staff (`/user`) and group (`/user-group`) snapshot documents. */
  def staffDocs(tenant: String): Seq[String] =
    (0 until shape.staffPerTenant).map { u =>
      s"""{"_id":"$tenant-u$u","email":"nv$u@${tenant.toLowerCase}.test",""" +
        s""""name":"NV $tenant $u","updateTime":${now0 - Day},""" +
        s""""createTime":${now0 - 40 * Day},""" +
        s""""group":{"_id":"$tenant-g${u % shape.groupsPerTenant}"}}"""
    }

  def groupDocs(tenant: String): Seq[String] =
    (0 until shape.groupsPerTenant).map { g =>
      s"""{"_id":"$tenant-g$g","name":"Team $tenant $g"}"""
    }
}

object Universe {
  val Day = 86400000L
  /** Days of history before the backfill (`DAYS_TO_FETCH_IF_EMPTY`). */
  val HistoryDays = 30

  def utcDay(ms: Long): LocalDate =
    Instant.ofEpochMilli(ms).atZone(ZoneOffset.UTC).toLocalDate

  def vn7Day(ms: Long): LocalDate =
    Instant.ofEpochMilli(ms).atZone(ZoneOffset.ofHours(7)).toLocalDate

  /** PK's traffic per slot: 100 new and 440 updated customers (a delta
    * of two 500-doc pages with the overlap re-reads) and 200 calls.
    */
  private val pk = Shape(Seq("PK"), Seq(1.0), slotNew = 100, slotUpd = 440, slotCalls = 200)

  /** `slots`: PK alone. Each further tenant costs about a third more
    * Spark jobs per slot and per backfill, which the run-time budget
    * does not hold.
    */
  def slots(seed: Long, nSlots: Int) = new Universe(seed, pk, nSlots)

  /** `report`: PK's 30-day history. */
  def report(seed: Long) = new Universe(seed, pk, 0)
}
