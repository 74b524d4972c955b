package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.ColumnLib._
import graft.operators.{AsofJoin, IntervalJoin, Sessionize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Advanced relational battery — capabilities beyond the reference's
  * SQL surface that a complete engine must carry: multi-dimensional
  * aggregation (ROLLUP/CUBE), the full window-function family, pivot,
  * decorrelated subqueries through the SQL front-end, and the two
  * operators Spark lacks natively (as-of join, gap sessionization),
  * implemented shuffle-minimally in graft.operators.
  */
object Advanced {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  private def eventsMs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      unix_millis(col("ts")).as("ms"))

  /** The q160/q161 co-purchase graph: an edge (a < b) between two parts
    * that share at least two orders.
    */
  private def copurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val items = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("i"))
      .distinct()
    items.alias("x").join(items.alias("y"),
        col("x.o") === col("y.o") && col("x.i") < col("y.i"))
      .groupBy(col("x.i").as("a"), col("y.i").as("b"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
      .select("a", "b")
  }

  /** DuckDB restatement of [[copurchaseEdges]]: `items`, `ed(a, b)`. */
  private val copurchaseCte = """items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i
                       FROM lineitem),
        ed AS (SELECT x.i AS a, y.i AS b
               FROM items x JOIN items y ON x.o = y.o AND x.i < y.i
               GROUP BY 1, 2 HAVING count(*) >= 2)"""

  val defs: Seq[QueryDef] = Seq(

    // ---- ROLLUP: hierarchical totals ----------------------------------
    QueryDef("q70_rollup",
      (s, dir) => {
        t(s, dir, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), exactSum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first)
      },
      Some("""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""")),

    // ---- CUBE: all grouping-set combinations --------------------------
    QueryDef("q71_cube",
      (s, dir) => {
        t(s, dir, "orders")
          .cube("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"), exactSum(col("o_totalprice")).as("total"))
          .orderBy(col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first)
      },
      Some("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""")),

    // ---- explicit GROUPING SETS + grouping_id (q104) --------------------
    // The grouping-set shapes ROLLUP/CUBE can't express: two DISJOINT
    // single-column sets in one pass over the fact table (one scan
    // feeding both aggregation levels — at 100 TB that halves the scan
    // cost vs two GROUP BYs unioned). grouping_id() disambiguates a
    // NULL that means "aggregated away" from a NULL data value — the
    // standard-bit encoding both engines share.
    QueryDef("q104_grouping_sets",
      (s, dir) => {
        t(s, dir, "orders")
          .groupingSets(
            Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
            col("o_orderstatus"), col("o_orderpriority"))
          .agg(grouping_id().cast(LongType).as("gid"),
            count(lit(1)).as("n"),
            exactSum(col("o_totalprice")).as("total"))
          .orderBy(col("gid"),
            col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first)
      },
      Some("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
               count(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY gid, 1 NULLS FIRST, 2 NULLS FIRST""")),

    // ---- window-function family: rank/dense_rank/lag/lead/frames ------
    // Total order within each partition (acctbal desc, custkey) keeps
    // every function deterministic; the running sum accumulates in
    // decimal so the frame arithmetic is exact in both engines.
    QueryDef("q72_window_funcs",
      (s, dir) => {
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "customer").select(
            col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
            rank().over(w).as("rnk"),
            dense_rank().over(w).as("drnk"),
            lag(col("c_custkey"), 1).over(w).as("prev_cust"),
            lead(col("c_custkey"), 1).over(w).as("next_cust"),
            sum(col("c_acctbal").cast(DecimalType(28, 6))).over(frame)
              .cast(DoubleType).as("running_bal"))
          .filter(col("rnk") <= 50)
          .orderBy("c_mktsegment", "rnk")
      },
      Some("""
        SELECT * FROM (
          SELECT c_mktsegment, c_custkey, c_acctbal,
                 rank() OVER w AS rnk,
                 dense_rank() OVER w AS drnk,
                 lag(c_custkey, 1) OVER w AS prev_cust,
                 lead(c_custkey, 1) OVER w AS next_cust,
                 CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) OVER
                   (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS running_bal
          FROM customer
          WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey))
        WHERE rnk <= 50 ORDER BY c_mktsegment, rnk""")),

    // ---- pivot: long → wide via the native pivot API -------------------
    QueryDef("q73_pivot",
      (s, dir) => {
        t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .pivot("o_orderpriority",
            Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .agg(count(lit(1)))
          .orderBy("o_orderstatus")
      },
      Some("""
        SELECT o_orderstatus,
               CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS "1-URGENT",
               CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS "2-HIGH",
               CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS "3-MEDIUM",
               CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS "4-NOT SPECIFIED",
               CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS "5-LOW"
        FROM orders GROUP BY 1 ORDER BY 1""")),

    // ---- subqueries through the SQL front-end (scalar + IN/EXISTS) -----
    // Catalyst decorrelates both; also exercises the parameterized SQL
    // entrypoint (S12).
    QueryDef("q74_subqueries",
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("v_customer")
        t(s, dir, "orders").createOrReplaceTempView("v_orders")
        s.sql("""
          SELECT c_mktsegment, count(*) AS n_rich_active
          FROM v_customer
          WHERE c_acctbal > (SELECT avg(c_acctbal) FROM v_customer)
            AND c_custkey IN (SELECT o_custkey FROM v_orders
                              WHERE o_totalprice > :minTotal)
          GROUP BY 1 ORDER BY 1""",
          Map("minTotal" -> 50000))
      },
      Some("""
        SELECT c_mktsegment, count(*) AS n_rich_active
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
          AND c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 50000)
        GROUP BY 1 ORDER BY 1""")),

    // ---- correlated subqueries: EXISTS / NOT EXISTS / scalar-in-SELECT --
    // The decorrelation surface q74 doesn't reach: a correlated EXISTS,
    // its NOT EXISTS complement, and a correlated scalar aggregate in
    // the projection. Catalyst rewrites all three to joins (semi, anti,
    // and left-outer aggregate); the oracle states them verbatim.
    QueryDef("q124_correlated_subqueries",
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("v_customer")
        t(s, dir, "orders").createOrReplaceTempView("v_orders")
        s.sql("""
          SELECT c.c_mktsegment,
                 count(*) AS n_customers,
                 CAST(SUM(CASE WHEN EXISTS (
                       SELECT 1 FROM v_orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_orderpriority = '1-URGENT')
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
                 CAST(SUM(CASE WHEN NOT EXISTS (
                       SELECT 1 FROM v_orders o
                       WHERE o.o_custkey = c.c_custkey)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_inactive,
                 CAST(SUM((SELECT count(*) FROM v_orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_totalprice > 100000)) AS BIGINT)
                   AS n_big_orders
          FROM v_customer c
          GROUP BY 1 ORDER BY 1""")
      },
      Some("""
        SELECT c.c_mktsegment,
               count(*) AS n_customers,
               CAST(SUM(CASE WHEN EXISTS (
                     SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_orderpriority = '1-URGENT')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
               CAST(SUM(CASE WHEN NOT EXISTS (
                     SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_inactive,
               CAST(SUM((SELECT count(*) FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_totalprice > 100000)) AS BIGINT)
                 AS n_big_orders
        FROM customer c
        GROUP BY 1 ORDER BY 1""")),

    // ---- AS-OF join (point-in-time enrichment) -------------------------
    // Quotes = every 20th event; each event picks the latest quote at or
    // before its time per user. Oracle uses DuckDB's native ASOF JOIN.
    QueryDef("q75_asof_join",
      (s, dir) => {
        val ev = eventsMs(s, dir)
        val quotes = ev.filter(col("event_id") % 20 === 0)
          .select(col("user_id"), col("ms"), col("value").as("quote"))
        AsofJoin.asof(
            ev.select("event_id", "user_id", "ms"), quotes,
            keys = Seq("user_id"), leftTime = "ms", rightTime = "ms")
          .select("event_id", "user_id", "quote")
        // no cosmetic orderBy: the driver's comparator sorts rows
        // before hashing, and the output sort was a full extra
        // exchange on a 100k-row frame
      },
      Some("""
        WITH ev AS (SELECT event_id, user_id, epoch_ms(ts) AS ms, value FROM events),
        q AS (SELECT user_id, ms, value AS quote FROM ev WHERE event_id % 20 = 0)
        SELECT ev.event_id, ev.user_id, q.quote
        FROM ev ASOF LEFT JOIN q
          ON ev.user_id = q.user_id AND ev.ms >= q.ms
        ORDER BY ev.event_id""")),

    // ---- AS-OF join directions: forward + nearest, with tolerance ------
    // Same construction as q75 but exercising the two non-default
    // directions under a 10-minute tolerance. The oracle runs DuckDB's
    // native ASOF with the inequality flipped for forward, and derives
    // nearest from both candidates with the same tie rule (exact tie →
    // backward, the pandas merge_asof convention).
    QueryDef("q116_asof_directions",
      (s, dir) => {
        val ev = eventsMs(s, dir)
        val quotes = ev.filter(col("event_id") % 20 === 0)
          .select(col("user_id"), col("ms"), col("value").as("quote"))
        val left = ev.select("event_id", "user_id", "ms")
        val fwd = AsofJoin.asof(left, quotes,
            keys = Seq("user_id"), leftTime = "ms", rightTime = "ms",
            tolerance = Some(600000L), direction = "forward")
          .select(col("event_id"), col("user_id"),
            col("quote").as("fwd_quote"))
        val near = AsofJoin.asof(left, quotes,
            keys = Seq("user_id"), leftTime = "ms", rightTime = "ms",
            tolerance = Some(600000L), direction = "nearest")
          .select(col("event_id"), col("quote").as("nearest_quote"))
        fwd.join(near, "event_id")
          .select("event_id", "user_id", "fwd_quote", "nearest_quote")
          .orderBy("event_id")
      },
      Some("""
        WITH ev AS (SELECT event_id, user_id, epoch_ms(ts) AS ms, value FROM events),
        q AS (SELECT user_id, ms, value AS quote FROM ev WHERE event_id % 20 = 0),
        b AS (SELECT ev.event_id, ev.user_id, ev.ms, q.ms AS bms, q.quote AS bq
              FROM ev ASOF LEFT JOIN q
                ON ev.user_id = q.user_id AND ev.ms >= q.ms),
        f AS (SELECT ev.event_id, q.ms AS fms, q.quote AS fq
              FROM ev ASOF LEFT JOIN q
                ON ev.user_id = q.user_id AND ev.ms <= q.ms)
        SELECT b.event_id, b.user_id,
               CASE WHEN fms IS NOT NULL AND fms - ms <= 600000
                    THEN fq END AS fwd_quote,
               CASE WHEN bms IS NOT NULL AND ms - bms <= 600000
                         AND (fms IS NULL OR fms - ms > 600000
                              OR ms - bms <= fms - ms) THEN bq
                    WHEN fms IS NOT NULL AND fms - ms <= 600000 THEN fq
               END AS nearest_quote
        FROM b JOIN f USING (event_id)
        ORDER BY event_id""")),

    // ---- interval-overlap join: bucketized equi-join (q118) ------------
    // Spark's plan for a raw overlap theta-join is a nested loop; the
    // operator (graft.operators.IntervalJoin) explodes intervals into
    // fixed 30-min buckets and meets candidates in an ordinary hash
    // join, emitting each true pair once from the first shared bucket.
    // The oracle IS the naive theta join — the gate proves the
    // bucketized plan computes exactly it. Left: 25 overlapping 90-min
    // maintenance windows anchored at the corpus min; right: 10-min
    // event intervals (every 20th event).
    QueryDef("q118_interval_join",
      (s, dir) => {
        val ev = eventsMs(s, dir).filter(col("event_id") % 20 === 0)
          .select(col("event_id"), col("value"),
            col("ms").as("ev_s"), (col("ms") + 600000L).as("ev_e"))
        // 1-row scalar collected to the driver (the Upsert min/max
        // pattern): windows anchored via a literal keep the window
        // table's lineage DISJOINT from ev — a crossJoin of an
        // ev-derived aggregate would make overlap() an ambiguous
        // self-join.
        val mnRow = ev.agg(min("ev_s")).head()
        // Empty ev ⇒ min is NULL; any anchor makes the join empty, so a
        // benign 0 keeps the (empty) result well-defined instead of NPE.
        val mnVal = if (mnRow.isNullAt(0)) 0L else mnRow.getLong(0)
        val w = t(s, dir, "nation")
          .select(col("n_nationkey").cast(LongType).as("w_id"),
            (lit(mnVal) + col("n_nationkey").cast(LongType) * 3600000L).as("w_s"),
            (lit(mnVal) + col("n_nationkey").cast(LongType) * 3600000L + 5400000L)
              .as("w_e"))
        IntervalJoin.overlap(w, ev, "w_s", "w_e", "ev_s", "ev_e",
            bucketWidth = 1800000L)
          .groupBy("w_id")
          .agg(count(lit(1)).as("n"),
            graft.functions.ColumnLib.exactSum(col("value")).as("sum_val"))
          .orderBy("w_id")
      },
      Some("""
        WITH ev AS (SELECT event_id, value, epoch_ms(ts) AS ev_s,
                           epoch_ms(ts) + 600000 AS ev_e
                    FROM events WHERE event_id % 20 = 0),
        mn AS (SELECT min(ev_s) AS mn FROM ev),
        w AS (SELECT CAST(n_nationkey AS BIGINT) AS w_id,
                     mn + CAST(n_nationkey AS BIGINT) * 3600000 AS w_s,
                     mn + CAST(n_nationkey AS BIGINT) * 3600000 + 5400000 AS w_e
              FROM nation, mn)
        SELECT w_id, count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_val
        FROM w JOIN ev ON w.w_s < ev.ev_e AND ev.ev_s < w.w_e
        GROUP BY 1 ORDER BY 1""")),

    // ---- range (band) join: value → band dimension ---------------------
    // Bands are tiny ⇒ broadcast nested-loop, the sane physical plan for
    // an inequality join.
    QueryDef("q76_range_join",
      (s, dir) => {
        val bands = t(s, dir, "region").select(
          (col("r_regionkey") * 100).cast(DoubleType).as("lo"),
          ((col("r_regionkey") + 1) * 100).cast(DoubleType).as("hi"),
          col("r_name").as("band"))
        t(s, dir, "events")
          .join(broadcast(bands),
            col("value") >= col("lo") && col("value") < col("hi"), "left")
          .groupBy(coalesce(col("band"), lit("OUT_OF_RANGE")).as("band"))
          .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_v"))
          .orderBy("band")
      },
      Some("""
        WITH bands AS (
          SELECT CAST(r_regionkey * 100 AS DOUBLE) AS lo,
                 CAST((r_regionkey + 1) * 100 AS DOUBLE) AS hi,
                 r_name AS band
          FROM region)
        SELECT COALESCE(b.band, 'OUT_OF_RANGE') AS band, count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_v
        FROM events e LEFT JOIN bands b ON e.value >= b.lo AND e.value < b.hi
        GROUP BY 1 ORDER BY 1""")),

    // ---- set operations: INTERSECT / EXCEPT (+ ALL variants) -----------
    // Not in the reference's surface (SURVEY §2.6) but part of a
    // complete relational engine.
    QueryDef("q78_set_ops",
      (s, dir) => {
        val buyers = t(s, dir, "orders")
          .filter(col("o_totalprice") > 100000).select("o_custkey")
        val urgent = t(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
        val both = buyers.intersect(urgent)
          .withColumn("kind", lit("both"))
        val onlyBig = buyers.except(urgent)
          .withColumn("kind", lit("big_only"))
        both.unionByName(onlyBig)
          .groupBy("kind").agg(count(lit(1)).as("n"))
          .orderBy("kind")
      },
      Some("""
        WITH buyers AS (SELECT o_custkey FROM orders WHERE o_totalprice > 100000),
        urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        u AS (
          SELECT 'both' AS kind, o_custkey FROM (
            SELECT o_custkey FROM buyers INTERSECT SELECT o_custkey FROM urgent)
          UNION ALL
          SELECT 'big_only', o_custkey FROM (
            SELECT o_custkey FROM buyers EXCEPT SELECT o_custkey FROM urgent))
        SELECT kind, count(*) AS n FROM u GROUP BY 1 ORDER BY 1""")),

    // ---- window family part 2: first/last/nth value, ntile, cume ranks --
    QueryDef("q79_window_more",
      (s, dir) => {
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "customer").select(
            col("c_mktsegment"), col("c_custkey"),
            first(col("c_custkey")).over(full).as("richest"),
            last(col("c_custkey")).over(full).as("poorest"),
            nth_value(col("c_custkey"), 2).over(full).as("second"),
            ntile(4).over(w).as("quartile"),
            round(percent_rank().over(w), 9).as("pr"),
            round(cume_dist().over(w), 9).as("cd"))
          .filter(col("c_custkey") % 37 === 0)
          .orderBy("c_mktsegment", "c_custkey")
      },
      Some("""
        SELECT * FROM (
          SELECT c_mktsegment, c_custkey,
                 first_value(c_custkey) OVER wf AS richest,
                 last_value(c_custkey) OVER wf AS poorest,
                 nth_value(c_custkey, 2) OVER wf AS second,
                 ntile(4) OVER w AS quartile,
                 round(percent_rank() OVER w, 9) AS pr,
                 round(cume_dist() OVER w, 9) AS cd
          FROM customer
          WINDOW w AS (PARTITION BY c_mktsegment
                       ORDER BY c_acctbal DESC, c_custkey),
                 wf AS (PARTITION BY c_mktsegment
                        ORDER BY c_acctbal DESC, c_custkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        WHERE c_custkey % 37 = 0
        ORDER BY c_mktsegment, c_custkey""")),

    // ---- collection aggregates: sorted list + string agg ----------------
    // collect_list order is nondeterministic, so both engines sort the
    // collected array — the portable form of list/string aggregation.
    // The array is serialized with to_json for the gate: the driver's
    // comparator sorts a pandas frame, and raw array cells are unhashable
    // there. The in-engine surface stays ArrayType (see q83 spec).
    QueryDef("q83_collections",
      (s, dir) => {
        t(s, dir, "nation")
          .groupBy((col("n_nationkey") % 5).as("grp"))
          .agg(
            to_json(array_sort(collect_list(col("n_name")))).as("names_json"),
            array_join(array_sort(collect_list(col("n_name"))), ",").as("names_csv"),
            size(collect_set(col("n_regionkey"))).as("n_regions"))
          .orderBy("grp")
      },
      Some("""
        SELECT n_nationkey % 5 AS grp,
               CAST(to_json(list_sort(list(n_name))) AS VARCHAR) AS names_json,
               array_to_string(list_sort(list(n_name)), ',') AS names_csv,
               CAST(count(DISTINCT n_regionkey) AS INT) AS n_regions
        FROM nation GROUP BY 1 ORDER BY 1""")),

    // ---- gap sessionization --------------------------------------------
    QueryDef("q77_sessionize",
      (s, dir) => {
        Sessionize.summarize(eventsMs(s, dir), "user_id", "ms",
            gapMs = 30 * 60000L) // (driver comparator sorts rows before hashing - no cosmetic sort)
      },
      Some("""
        WITH flagged AS (
          SELECT user_id, ms,
                 CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) > 1800000
                      THEN 1 ELSE 0 END AS new_session
          FROM (SELECT user_id, epoch_ms(ts) AS ms FROM events)),
        sessioned AS (
          SELECT user_id, ms,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY ms
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM flagged)
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               min(ms) AS session_start, max(ms) AS session_end,
               max(ms) - min(ms) AS duration_ms, count(*) AS n_events
        FROM sessioned GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- ordered funnel: view → click → purchase ------------------------
    // Sequence-sensitive conversion counting: a click only counts after
    // the user's FIRST view, a purchase only after that click — plain
    // per-type counts can't express the ordering. Physical shape: each
    // stage shuffles ONLY its own event type's rows (the event_type
    // filter pushes to the parquet scan), and every stage aggregate
    // groups on user_id ALONE — t1/t2 are functionally dependent on
    // the user, carried as min() of a per-user constant — so no
    // composite-key (user_id, t1) re-exchange ever appears
    // (PlanShapeSpec pins its absence). When the per-user stage tables
    // fit the broadcast threshold AQE probes them against the next
    // stage's scan with zero probe-side shuffle; past it, the SMJ path
    // shuffles each stage's filtered rows exactly once on user_id.
    // Per-user state is two longs, so a hot user costs nothing; delays
    // are summed exactly in BIGINT (stage delay = first-qualifying-
    // event time minus funnel start).
    QueryDef("q125_funnel",
      (s, dir) => {
        val ev = eventsMs(s, dir).select("user_id", "event_type", "ms")
        def stage(tp: String) = ev.filter(col("event_type") === tp)
        val v = stage("view").groupBy("user_id").agg(min("ms").as("t1"))
        val c = stage("click").join(v, "user_id")
          .filter(col("ms") >= col("t1"))
          .groupBy("user_id")
          .agg(min("ms").as("t2"), min("t1").as("t1"))
        val p = stage("purchase").join(c, "user_id")
          .filter(col("ms") >= col("t2"))
          .groupBy("user_id")
          .agg(min("ms").as("t3"), min("t1").as("t1"))
        val r1 = v.agg(count(lit(1)).as("n_users"),
          lit(0L).as("sum_delay_ms")).withColumn("stage", lit("1_view"))
        val r2 = c.agg(count(lit(1)).as("n_users"),
          coalesce(sum(col("t2") - col("t1")), lit(0L)).as("sum_delay_ms"))
          .withColumn("stage", lit("2_click"))
        val r3 = p.agg(count(lit(1)).as("n_users"),
          coalesce(sum(col("t3") - col("t1")), lit(0L)).as("sum_delay_ms"))
          .withColumn("stage", lit("3_purchase"))
        r1.unionByName(r2).unionByName(r3)
          .select(col("stage"), col("n_users"), col("sum_delay_ms"))
          .orderBy("stage")
      },
      Some("""
        WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        v AS (SELECT user_id, min(ms) AS t1 FROM ev
              WHERE event_type = 'view' GROUP BY 1),
        c AS (SELECT e.user_id, t1, min(ms) AS t2
              FROM ev e JOIN v USING (user_id)
              WHERE event_type = 'click' AND ms >= t1 GROUP BY 1, 2),
        p AS (SELECT e.user_id, c.t1, min(ms) AS t3
              FROM ev e JOIN c USING (user_id)
              WHERE event_type = 'purchase' AND ms >= t2 GROUP BY 1, 2)
        SELECT '1_view' AS stage, count(*) AS n_users,
               CAST(0 AS BIGINT) AS sum_delay_ms FROM v
        UNION ALL
        SELECT '2_click', count(*),
               CAST(COALESCE(SUM(t2 - t1), 0) AS BIGINT) FROM c
        UNION ALL
        SELECT '3_purchase', count(*),
               CAST(COALESCE(SUM(t3 - t1), 0) AS BIGINT) FROM p
        ORDER BY stage""")),

    // ---- cohort retention matrix ---------------------------------------
    // Users cohorted by the epoch-week of their first signup; each
    // (cohort_week, weeks-since-signup) cell counts distinct returning
    // users. Week ids come from exact integer division of epoch millis
    // (`div` / `//`) — no timezone or week-start convention to keep in
    // sync across engines, and no double rounding at bucket edges. The
    // cohort aggregate and the activity join share the user_id hash
    // partitioning (one exchange each side); the final distinct-count
    // grid is bounded by weeks², not data.
    QueryDef("q126_retention_cohort",
      (s, dir) => {
        val wk = 604800000L
        val ev = eventsMs(s, dir).select("user_id", "event_type", "ms")
        val su = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("ms").as("t0"))
          .select(col("user_id"), expr(s"t0 div $wk").as("cohort_week"))
        ev.select(col("user_id"), expr(s"ms div $wk").as("week"))
          .join(su, "user_id")
          .filter(col("week") >= col("cohort_week"))
          .groupBy(col("cohort_week"),
            (col("week") - col("cohort_week")).as("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""
        WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        su AS (SELECT user_id, min(ms) // 604800000 AS cohort_week
               FROM ev WHERE event_type = 'signup' GROUP BY 1),
        act AS (SELECT user_id, ms // 604800000 AS week FROM ev)
        SELECT cohort_week, week - cohort_week AS week_offset,
               count(DISTINCT a.user_id) AS n_users
        FROM act a JOIN su USING (user_id)
        WHERE week >= cohort_week
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- deterministic negative sampling (q137) -------------------------
    // The implicit-feedback training-set constructor (BPR/word2vec
    // negatives): k reproducible non-interacted items per customer.
    // Positives = distinct (o_custkey, l_partkey) from orders⋈lineitem;
    // the item space is the part dimension's dense 0-based key. The
    // operator's whole pipeline is gated — slot explode over users
    // only, 16-bit md5 candidate hash, anti-join against positives,
    // collided-slot dedup (min slot), bounded top-k by draw order.
    QueryDef("q137_negative_sampling",
      (s, dir) => {
        val pos = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
          .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("user_id"), col("l_partkey").as("item"))
        val nItems = t(s, dir, "part").count() // dimension-sized scalar
        graft.operators.Sampling.negativeSamples(pos, "user_id", "item",
            nItems, k = 5, salt = "neg1", overdraw = 3) // (driver comparator sorts rows before hashing - no cosmetic sort)
      },
      Some("""
        WITH pos AS (SELECT DISTINCT o.o_custkey AS user_id,
                            l.l_partkey AS item
                     FROM lineitem l
                     JOIN orders o ON l.l_orderkey = o.o_orderkey),
        np AS (SELECT count(*) AS n FROM part),
        slots AS (SELECT u.user_id, CAST(t.s AS INTEGER) AS slot
                  FROM (SELECT DISTINCT user_id FROM pos) u,
                       (SELECT unnest(range(15)) AS s) t),
        cand AS (SELECT user_id, slot,
                        CAST('0x' || substr(h, 1, 12) AS BIGINT) % np.n AS item
                 FROM (SELECT user_id, slot,
                              md5('neg1:'||CAST(user_id AS VARCHAR)||':'||
                                  CAST(slot AS VARCHAR)) AS h
                       FROM slots), np),
        surv AS (SELECT c.user_id, c.item, c.slot FROM cand c
                 WHERE NOT EXISTS (SELECT 1 FROM pos p
                                   WHERE p.user_id = c.user_id
                                     AND p.item = c.item)),
        dd AS (SELECT user_id, item, CAST(min(slot) AS INTEGER) AS slot
               FROM surv GROUP BY 1, 2)
        SELECT user_id, item, slot FROM (
          SELECT user_id, item, slot,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY slot, item) AS rk
          FROM dd)
        WHERE rk <= 5
        ORDER BY user_id, slot""")),

    // ---- next-event-prediction dataset (q138) ---------------------------
    // Behavior-sequence training examples straight from the event log:
    // gap-sessionize (the q77 operator, 30-min cut), then per session
    // of ≥ 3 events emit input = the event-type sequence minus its
    // last element, label = the last event's type — the
    // next-event-prediction dataset constructor. One shuffle
    // (user-keyed window) shared by sessionization and the sequence
    // collect; the per-session array is bounded by session length.
    // Total order inside a session is (ms, event_id) — the unique
    // tiebreaker the verify skill's window-dedup rule requires.
    QueryDef("q138_next_event_dataset",
      (s, dir) => {
        val ev = eventsMs(s, dir)
        val sessions = Sessionize.assign(ev, "user_id", "ms", 1800000L)
        sessions
          .groupBy(col("user_id"), col("session_id"))
          .agg(sort_array(collect_list(struct(col("ms"), col("event_id"),
            col("event_type")))).as("__seq"))
          .filter(size(col("__seq")) >= 3)
          .select(col("user_id"), col("session_id").cast("long").as("session_id"),
            size(col("__seq")).cast("long").as("n_events"),
            array_join(transform(
              slice(col("__seq"), lit(1), size(col("__seq")) - 1),
              x => x.getField("event_type")), " ").as("input_seq"),
            element_at(col("__seq"), -1).getField("event_type").as("label"))
          .orderBy("user_id", "session_id")
      },
      Some("""
        WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
                   FROM events),
        b AS (SELECT *, CASE WHEN ms - lag(ms) OVER
                               (PARTITION BY user_id ORDER BY ms) > 1800000
                             THEN 1 ELSE 0 END AS brk
              FROM e),
        sess AS (SELECT user_id, event_id, event_type, ms,
                        SUM(brk) OVER (PARTITION BY user_id ORDER BY ms
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS session_id
                 FROM b),
        r AS (SELECT *, row_number() OVER (PARTITION BY user_id, session_id
                          ORDER BY ms DESC, event_id DESC) AS rdesc
              FROM sess)
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               CAST(count(*) AS BIGINT) AS n_events,
               string_agg(CASE WHEN rdesc > 1 THEN event_type END, ' '
                 ORDER BY ms, event_id) AS input_seq,
               max(CASE WHEN rdesc = 1 THEN event_type END) AS label
        FROM r
        GROUP BY user_id, session_id
        HAVING count(*) >= 3
        ORDER BY user_id, session_id""")),

    // ---- SCD Type-2 history from a change log (q144) --------------------
    // The "what was this attribute at time t" warehouse pattern, built
    // from the raw event stream: consecutive equal values collapse
    // into runs (null-safe), each run becomes one validity-interval
    // row with an open current interval. One key-keyed window pass
    // (lag detects run starts, lead closes intervals) — a single
    // shuffle, no self-join. Total order is (ms, event_id).
    QueryDef("q144_scd2_history",
      (s, dir) => {
        graft.operators.Upsert.scd2FromChangeLog(
            eventsMs(s, dir).select("user_id", "event_id", "event_type", "ms"),
            Seq("user_id"), "event_type", "ms", "event_id") // (driver comparator sorts rows before hashing - no cosmetic sort)
      },
      Some("""
        WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
                   FROM events),
        l AS (SELECT *,
                lag(event_type) OVER
                  (PARTITION BY user_id ORDER BY ms, event_id) AS pv,
                row_number() OVER
                  (PARTITION BY user_id ORDER BY ms, event_id) AS rn
              FROM e),
        runs AS (SELECT user_id, event_id, event_type, ms FROM l
                 WHERE rn = 1 OR event_type IS DISTINCT FROM pv),
        h AS (SELECT user_id, event_type, ms AS valid_from,
                     lead(ms) OVER
                       (PARTITION BY user_id ORDER BY ms, event_id) AS valid_to
              FROM runs)
        SELECT user_id, event_type, valid_from, valid_to,
               valid_to IS NULL AS is_current
        FROM h ORDER BY user_id, valid_from, event_type""")),

    // ---- time-RANGE window frames (q145) --------------------------------
    // The window capability q72/q79 don't cover: a frame bounded by
    // VALUE distance, not row count — the 30-minute trailing sum/count
    // every rate-limit, anomaly, and rolling-metric pipeline needs.
    // RANGE frames are also the deterministic choice under timestamp
    // ties: all peers of the current ms are in-frame regardless of
    // their (arbitrary) sort order among themselves, so no tiebreak
    // column is needed for the AGGREGATE itself (the output row still
    // carries event_id for the hash compare). Value sums accumulate in
    // decimal — exact, order-free.
    QueryDef("q145_time_range_frame",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ms"))
          .rangeBetween(-1800000L, 0L)
        eventsMs(s, dir).select(col("user_id"), col("event_id"), col("ms"),
            count(lit(1)).over(w).as("n_30m"),
            sum(col("value").cast(DecimalType(28, 6))).over(w)
              .cast(DoubleType).as("sum_30m"))
          .filter(col("event_id") % 17 === 0)
          .orderBy("user_id", "ms", "event_id")
      },
      Some("""
        SELECT user_id, event_id, ms,
               CAST(n_30m AS BIGINT) AS n_30m, sum_30m
        FROM (
          SELECT user_id, event_id, epoch_ms(ts) AS ms,
                 count(*) OVER w AS n_30m,
                 CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE)
                   AS sum_30m
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                       RANGE BETWEEN 1800000 PRECEDING AND CURRENT ROW))
        WHERE event_id % 17 = 0
        ORDER BY user_id, ms, event_id""")),

    // ---- fixed-iteration bipartite PageRank (q146) ----------------------
    // Iterative weighted message passing as synchronized join+aggregate
    // rounds — the general shape behind PageRank/label-propagation/
    // HITS on a 100 TB graph (each iteration: one edge join, one
    // degree-normalized aggregate; k iterations = k shuffles, never a
    // driver loop over rows). Here: 2 damped iterations over the
    // supplier↔part co-occurrence graph from lineitem, uniform init.
    // All mass arithmetic in DECIMAL over exact integer degrees, final
    // rank rounded — bit-portable without float-order concerns.
    QueryDef("q146_pagerank2",
      (s, dir) => {
        // Numeric discipline (the house convention): every RATIO runs
        // in DOUBLE through a fixed expression tree — identical IEEE
        // ops in both engines, so per-edge messages are bit-identical
        // — and only the order-sensitive SUMS detour through
        // DECIMAL(38,18) (exact, shuffle-order-free). Chaining decimal
        // division/multiplication instead would hit Spark's
        // result-type rules, which collapse a (38,18)x(38,18) product
        // to scale 6.
        val D = DecimalType(38, 18)
        val edges = t(s, dir, "lineitem")
          .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
          .distinct().localCheckpoint(true)
        val degS = edges.groupBy("s").agg(count(lit(1)).as("ds"))
        val degP = edges.groupBy("p").agg(count(lit(1)).as("dp"))
        // Both vertex-set sizes from ONE job over the checkpointed
        // edge list (two separate .count() actions = two extra scans).
        val nRow = edges.agg(countDistinct(col("s")).as("ns"),
          countDistinct(col("p")).as("np")).head()
        val (nS, nP) = (nRow.getLong(0), nRow.getLong(1))
        // iteration: part rank <- 0.15/nP + 0.85 * sum(supp_rank/ds)
        //            supp rank <- 0.15/nS + 0.85 * sum(part_rank/dp)
        val e1 = edges.join(degS, "s")
          .select(col("p"),
            (lit(1.0) / lit(nS.toDouble) / col("ds").cast(DoubleType))
              .cast(D).as("m"))
          .groupBy("p").agg(sum(col("m")).cast(D).cast(DoubleType).as("mass"))
        val pr1 = e1.select(col("p"),
          (lit(0.15) / lit(nP.toDouble) + lit(0.85) * col("mass")).as("rp"))
        val e2 = edges.join(degP, "p").join(pr1, "p")
          .select(col("s"),
            (col("rp") / col("dp").cast(DoubleType)).cast(D).as("m"))
          .groupBy("s").agg(sum(col("m")).cast(D).cast(DoubleType).as("mass"))
        e2.select(col("s"),
            round(lit(0.15) / lit(nS.toDouble) + lit(0.85) * col("mass"), 12)
              .as("rank"))
          .orderBy(col("rank").desc, col("s"))
          .limit(30)
      },
      Some("""
        WITH edges AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p
                       FROM lineitem),
        degs AS (SELECT s, count(*) AS ds FROM edges GROUP BY 1),
        degp AS (SELECT p, count(*) AS dp FROM edges GROUP BY 1),
        ns AS (SELECT CAST(count(DISTINCT s) AS DOUBLE) AS n FROM edges),
        np AS (SELECT CAST(count(DISTINCT p) AS DOUBLE) AS n FROM edges),
        e1 AS (SELECT e.p,
                      CAST(SUM(CAST(1.0 / ns.n / CAST(degs.ds AS DOUBLE)
                        AS DECIMAL(38,18))) AS DOUBLE) AS mass
               FROM edges e JOIN degs USING (s), ns GROUP BY 1, ns.n),
        pr1 AS (SELECT p, 0.15 / np.n + 0.85 * mass AS rp
                FROM e1, np),
        e2 AS (SELECT e.s,
                      CAST(SUM(CAST(pr1.rp / CAST(degp.dp AS DOUBLE)
                        AS DECIMAL(38,18))) AS DOUBLE) AS mass
               FROM edges e JOIN degp USING (p) JOIN pr1 USING (p) GROUP BY 1)
        SELECT s, round(0.15 / ns.n + 0.85 * mass, 12) AS rank
        FROM e2, ns
        ORDER BY rank DESC, s LIMIT 30""")),

    // ---- co-purchase association rules (q147) ---------------------------
    // Market-basket mining, the A-priori first rung: frequent part
    // PAIRS within orders, with the three rule statistics (support,
    // confidence p1→p2, lift) from exact integer counts. The pair
    // self-join is ORDER-KEYED equality — its fan-out is Σ C(|basket|,2),
    // bounded by the per-order basket size (~7 here), never |items|².
    // Supports/totals are two aggregates; ratios are fixed double
    // expressions over exact longs, rounded to the 1e-9 grid.
    QueryDef("q147_copurchase",
      (s, dir) => {
        val items = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("i"))
          .distinct().localCheckpoint(true)
        val pairs = items.alias("a").join(items.alias("b"),
            col("a.o") === col("b.o") && col("a.i") < col("b.i"))
          .groupBy(col("a.i").as("p1"), col("b.i").as("p2"))
          .agg(count(lit(1)).as("pair_n"))
          .filter(col("pair_n") >= 3)
        val supp = items.groupBy(col("i")).agg(count(lit(1)).as("n_i"))
        val total = items.select("o").distinct().count()
        pairs
          .join(supp.select(col("i").as("p1"), col("n_i").as("n1")), "p1")
          .join(supp.select(col("i").as("p2"), col("n_i").as("n2")), "p2")
          .select(col("p1"), col("p2"), col("pair_n"),
            round(col("pair_n").cast(DoubleType) / lit(total.toDouble), 9)
              .as("support"),
            round(col("pair_n").cast(DoubleType) / col("n1").cast(DoubleType),
              9).as("confidence"),
            round(col("pair_n").cast(DoubleType) * lit(total.toDouble) /
              (col("n1").cast(DoubleType) * col("n2").cast(DoubleType)), 9)
              .as("lift"))
          .orderBy(col("pair_n").desc, col("p1"), col("p2"))
          .limit(25)
      },
      Some("""
        WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i
                       FROM lineitem),
        pairs AS (SELECT a.i AS p1, b.i AS p2,
                         CAST(count(*) AS BIGINT) AS pair_n
                  FROM items a JOIN items b ON a.o = b.o AND a.i < b.i
                  GROUP BY 1, 2 HAVING count(*) >= 3),
        supp AS (SELECT i, CAST(count(*) AS BIGINT) AS n_i
                 FROM items GROUP BY 1),
        tot AS (SELECT CAST(count(DISTINCT o) AS DOUBLE) AS n FROM items)
        SELECT p.p1, p.p2, p.pair_n,
               round(CAST(p.pair_n AS DOUBLE) / tot.n, 9) AS support,
               round(CAST(p.pair_n AS DOUBLE) / CAST(s1.n_i AS DOUBLE), 9)
                 AS confidence,
               round(CAST(p.pair_n AS DOUBLE) * tot.n /
                     (CAST(s1.n_i AS DOUBLE) * CAST(s2.n_i AS DOUBLE)), 9)
                 AS lift
        FROM pairs p
        JOIN supp s1 ON s1.i = p.p1
        JOIN supp s2 ON s2.i = p.p2, tot
        ORDER BY p.pair_n DESC, p.p1, p.p2 LIMIT 25""")),

    // ---- triangle counting, degree-oriented (q160) ----------------------
    // Per-vertex triangle counts over the q147 co-purchase graph
    // (pair_n >= 2 edges). The operator enumerates each triangle ONCE
    // via (degree, id) edge orientation — out-degrees bounded by
    // O(√m), hub-proof — while the oracle brute-forces the id-ordered
    // triple join; identical triangle sets prove the orientation loses
    // and double-counts nothing. Operator:
    // [[graft.operators.Graph.triangleCounts]].
    QueryDef("q160_triangles",
      (s, dir) => {
        val edges = copurchaseEdges(s, dir)
        graft.operators.Graph.triangleCounts(edges)
          .orderBy(col("n_tri").desc, col("v"))
          .limit(30)
      },
      Some(s"""
        WITH $copurchaseCte,
        tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM ed e1
                JOIN ed e2 ON e2.a = e1.b
                JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b)
        SELECT v, CAST(count(*) AS BIGINT) AS n_tri
        FROM (SELECT x AS v FROM tri
              UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri)
        GROUP BY 1 ORDER BY n_tri DESC, v LIMIT 30""")),

    // ---- label propagation communities (q161) ---------------------------
    // Two synchronous LPA rounds over the same co-purchase graph,
    // deterministic update (max neighbor-label count, ties to the
    // smallest label). The per-vertex argmax runs on the bounded-heap
    // TopKPerGroup plan; the oracle restates both unrolled rounds as
    // row_number windows. Operator:
    // [[graft.operators.Graph.labelPropagation]].
    QueryDef("q161_label_prop",
      (s, dir) => {
        val edges = copurchaseEdges(s, dir)
        graft.operators.Graph.labelPropagation(edges, iters = 2)
          .orderBy("v")
      },
      Some(s"""
        WITH $copurchaseCte,
        dir AS (SELECT a AS s, b AS t FROM ed
                UNION ALL SELECT b, a FROM ed),
        c1 AS (SELECT t AS v, s AS label, count(*) AS n
               FROM dir GROUP BY 1, 2),
        l1 AS (SELECT v, label FROM (
                 SELECT v, label, row_number() OVER (PARTITION BY v
                   ORDER BY n DESC, label ASC) AS rk FROM c1)
               WHERE rk = 1),
        c2 AS (SELECT d.t AS v, l1.label, count(*) AS n
               FROM dir d JOIN l1 ON l1.v = d.s GROUP BY 1, 2),
        l2 AS (SELECT v, label FROM (
                 SELECT v, label, row_number() OVER (PARTITION BY v
                   ORDER BY n DESC, label ASC) AS rk FROM c2)
               WHERE rk = 1)
        SELECT v, label FROM l2 ORDER BY v""")),

    // ---- snapshot diff → changelog (q162) -------------------------------
    // The inverse of q151's CDC apply: given two snapshots, emit the
    // minimal I/U/D changelog with per-row changed-column lists. The
    // two snapshots are carved deterministically from customer (mod-11
    // deletes, mod-13 inserts, mod-7 balance bumps), so inserts,
    // deletes, updates, AND untouched rows all occur; untouched rows
    // must vanish before any downstream exchange. Operator:
    // [[graft.operators.TableDiff.diff]] — one full-outer key join,
    // all column comparison in codegen.
    QueryDef("q162_snapshot_diff",
      (s, dir) => {
        val cust = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val before = cust.filter(col("c_custkey") % 11 =!= 3)
        val after = cust.filter(col("c_custkey") % 13 =!= 5)
          .withColumn("c_acctbal",
            when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100)
              .otherwise(col("c_acctbal")))
        graft.operators.TableDiff.diff(before, after, Seq("c_custkey"))
          .select(col("c_custkey"), col("op"),
            array_join(col("changed_cols"), ",").as("changed"),
            col("old_c_acctbal"), col("new_c_acctbal"))
          .orderBy("c_custkey")
      },
      Some("""
        WITH bef AS (SELECT c_custkey, c_name, c_acctbal FROM customer
                     WHERE c_custkey % 11 <> 3),
        aft AS (SELECT c_custkey, c_name,
                       CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100
                            ELSE c_acctbal END AS c_acctbal
                FROM customer WHERE c_custkey % 13 <> 5)
        SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey,
               CASE WHEN b.c_custkey IS NULL THEN 'insert'
                    WHEN a.c_custkey IS NULL THEN 'delete'
                    ELSE 'update' END AS op,
               CASE WHEN b.c_custkey IS NULL OR a.c_custkey IS NULL THEN ''
                    ELSE array_to_string(list_sort(list_filter([
                      CASE WHEN NOT (b.c_name IS NOT DISTINCT FROM a.c_name)
                           THEN 'c_name' END,
                      CASE WHEN NOT (b.c_acctbal IS NOT DISTINCT FROM a.c_acctbal)
                           THEN 'c_acctbal' END],
                      x -> x IS NOT NULL)), ',') END AS changed,
               b.c_acctbal AS old_c_acctbal,
               a.c_acctbal AS new_c_acctbal
        FROM bef b FULL OUTER JOIN aft a ON b.c_custkey = a.c_custkey
        WHERE b.c_custkey IS NULL OR a.c_custkey IS NULL
           OR NOT (b.c_name IS NOT DISTINCT FROM a.c_name)
           OR NOT (b.c_acctbal IS NOT DISTINCT FROM a.c_acctbal)
        ORDER BY c_custkey""")),

    // ---- incremental materialized-aggregate refresh (q163) --------------
    // Self-maintainable SUM/COUNT state merged with a delta batch in
    // O(delta) — the base facts are NEVER re-scanned: state comes from
    // the mod-3 "historical" 2/3 of orders, the delta is the remaining
    // third, and the refreshed state must hash-match the oracle's
    // from-scratch aggregate over ALL orders (decimal accumulation
    // makes the merge order-independent, so incremental ≡ batch
    // exactly). Operator: [[graft.incremental.MaterializedAgg]].
    QueryDef("q163_incremental_agg",
      (s, dir) => {
        val orders = t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        val base = orders.filter(col("o_orderkey") % 3 =!= 0)
        val delta = orders.filter(col("o_orderkey") % 3 === 0)
        val state = graft.incremental.MaterializedAgg.aggregate(
          base, Seq("o_custkey"), Seq("o_totalprice"))
        graft.incremental.MaterializedAgg.refresh(
            state, delta, Seq("o_custkey"), Seq("o_totalprice"))
          .select(col("o_custkey"),
            col("sum_o_totalprice").cast("double").as("sum_price"),
            col("n_rows"),
            // Exact integer micro-units: sum is decimal(38,6), so
            // sum·1e6 is an exact integer and the floored quotient is
            // engine-portable — round(double/) trips on repeating
            // decimals whose 9th digit is a rounding boundary.
            expr("CAST(sum_o_totalprice * 1000000 AS BIGINT) div n_rows")
              .as("avg_price_micro"))
          .orderBy("o_custkey")
      },
      Some("""
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                 AS sum_price,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) * 1000000
                      AS BIGINT) // count(*) AS BIGINT) AS avg_price_micro
        FROM orders GROUP BY 1 ORDER BY 1""")),

    // ---- calendar resample + forward fill (q164) ------------------------
    // Sparse per-type daily aggregates densified onto the global
    // [min,max] calendar (a no-event day becomes an explicit n=0 row)
    // with the last observed daily total carried forward — the
    // time-series regularization step. Spine is generated (1-row
    // bounds broadcast into sequence()), never shuffled; fill is one
    // per-type window whose partitions are calendar-bounded.
    // Operator: [[graft.operators.Resample]].
    QueryDef("q164_gap_fill",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_type"), col("ts").cast("date").as("d"),
            col("value"))
        val daily = ev.groupBy("event_type", "d")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(38,6)")).cast("double").as("v"))
        val spine = graft.operators.Resample.calendarSpine(
          ev, Seq("event_type"), "d")
        val filled = spine.join(daily, Seq("event_type", "d"), "left")
          .withColumn("n", coalesce(col("n"), lit(0L)))
        graft.operators.Resample.forwardFill(
            filled, Seq("event_type"), Seq(col("d").asc), Seq("v"))
          .select(col("event_type"), col("d"), col("n"),
            col("v").as("v_ffill"))
          .orderBy("event_type", "d")
      },
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
          FROM events GROUP BY 1, 2),
        bounds AS (SELECT min(CAST(ts AS DATE)) AS mn,
                          max(CAST(ts AS DATE)) AS mx FROM events),
        spine AS (SELECT t.event_type, CAST(u.s AS DATE) AS d
                  FROM (SELECT DISTINCT event_type FROM events) t,
                       bounds b,
                       LATERAL (SELECT unnest(generate_series(
                         b.mn, b.mx, INTERVAL 1 DAY)) AS s) u),
        j AS (SELECT s.event_type, s.d,
                     coalesce(daily.n, 0) AS n, daily.v
              FROM spine s LEFT JOIN daily
                ON daily.event_type = s.event_type AND daily.d = s.d)
        SELECT event_type, d, n,
               last_value(v IGNORE NULLS) OVER (
                 PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
        FROM j ORDER BY 1, 2""")),

    // ---- event-transition matrix (q165) ---------------------------------
    // First-order Markov transitions over each user's time-ordered
    // event stream: one lead() window per user (event_id tiebreak for
    // a total order), exact integer pair counts, transition
    // probability on the 1e-9 grid. The behavioral-model constructor
    // that complements q138's next-event dataset and q155's entropy.
    QueryDef("q165_transitions",
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").asc, col("event_id").asc)
        val steps = t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("from_type"))
          .withColumn("to_type", lead(col("from_type"), 1).over(w))
          .filter(col("to_type").isNotNull)
        val counts = steps.groupBy("from_type", "to_type")
          .agg(count(lit(1)).as("n"))
        // Row normalization as a window over the COUNTS table (bounded
        // by |types|², never data-sized) — a totals groupBy + join-back
        // would reference the lead() subtree twice and execute the
        // user-stream window pass twice (observed in the plan).
        val wTot = Window.partitionBy("from_type")
        counts
          .select(col("from_type"), col("to_type"), col("n"),
            round(col("n").cast("double") /
              sum(col("n")).over(wTot).cast("double"), 9).as("p"))
          .orderBy("from_type", "to_type")
      },
      Some("""
        WITH steps AS (
          SELECT event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS to_type
          FROM events),
        counts AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
                   FROM steps WHERE to_type IS NOT NULL GROUP BY 1, 2)
        SELECT from_type, to_type, n,
               round(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (
                 PARTITION BY from_type) AS DOUBLE), 9) AS p
        FROM counts ORDER BY 1, 2""")),

    // ---- frequent triples, A-priori rung 2 (q166) -----------------------
    // Extends q147's pair rung to 3-itemsets with the A-priori L1
    // prune: items below the support floor can never appear in a
    // frequent triple, so they are semi-joined OUT before the
    // basket-bounded triple enumeration (fan-out C(|basket|,3) per
    // order, never |items|³). Downward closure makes the prune
    // lossless — the oracle enumerates unpruned.
    QueryDef("q166_frequent_triples",
      (s, dir) => {
        val items = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("i"))
          .distinct().localCheckpoint(true)
        val l1 = items.groupBy("i").agg(count(lit(1)).as("n_i"))
          .filter(col("n_i") >= 2).select("i")
        // NOT widened: round-16 tried pinning the triple join's
        // parallelism with a user repartition on `o` (the C(basket,3)
        // fan-out stage byte-coalesces onto ~3 tasks while its cost is
        // CPU), but the order-corrected same-JVM A/B came back 1.03 —
        // at this scale the fan-out stage is ~0.5 s and the extra
        // user exchange (which also opts the join out of AQE skew
        // splitting) costs what the width buys. Re-try only with
        // evidence the fan-out stage dominates.
        val fi = items.join(l1, Seq("i"), "left_semi")
        val tri = fi.alias("a")
          .join(fi.alias("b"),
            col("a.o") === col("b.o") && col("a.i") < col("b.i"))
          .join(fi.alias("c"),
            col("b.o") === col("c.o") && col("b.i") < col("c.i"))
          .groupBy(col("a.i").as("i1"), col("b.i").as("i2"),
            col("c.i").as("i3"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n") >= 2)
        tri.orderBy(col("n").desc, col("i1"), col("i2"), col("i3"))
          .limit(20)
      },
      Some("""
        WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i
                       FROM lineitem)
        SELECT a.i AS i1, b.i AS i2, c.i AS i3,
               CAST(count(*) AS BIGINT) AS n
        FROM items a
        JOIN items b ON a.o = b.o AND a.i < b.i
        JOIN items c ON b.o = c.o AND b.i < c.i
        GROUP BY 1, 2, 3 HAVING count(*) >= 2
        ORDER BY n DESC, i1, i2, i3 LIMIT 20""")),

    // ---- per-group OLS trend slopes (q167) ------------------------------
    // Closed-form least-squares slope of daily value totals vs day
    // index, per event type — drift/trend detection over the metric
    // series q164 regularizes. Numeric discipline is q150's: grid
    // exact inputs (integer day index, decimal-exact daily sums cast
    // to double), DECIMAL(38,18) accumulation for the order-sensitive
    // Σ's, one fixed double expression for the ratio, 1e-9 grid out.
    QueryDef("q167_trend_slopes",
      (s, dir) => {
        val D2 = DecimalType(38, 18)
        val ev = t(s, dir, "events")
          .select(col("event_type"), col("ts").cast("date").as("d"),
            col("value"))
        val mn = ev.agg(min(col("d")).as("d0"))
        val daily = ev.groupBy("event_type", "d")
          .agg(sum(col("value").cast("decimal(38,6)")).cast("double").as("y"))
          .crossJoin(broadcast(mn))
          .select(col("event_type"),
            datediff(col("d"), col("d0")).cast("double").as("x"), col("y"))
        val sums = daily.groupBy("event_type").agg(
          count(lit(1)).cast("double").as("r"),
          sum(col("x").cast(D2)).cast("double").as("sx"),
          sum(col("y").cast(D2)).cast("double").as("sy"),
          sum((col("x") * col("x")).cast(D2)).cast("double").as("sxx"),
          sum((col("x") * col("y")).cast(D2)).cast("double").as("sxy"))
        sums.select(col("event_type"), col("r").cast("long").as("n_days"),
            round((col("r") * col("sxy") - col("sx") * col("sy")) /
              (col("r") * col("sxx") - col("sx") * col("sx")), 9)
              .as("slope"))
          .orderBy("event_type")
      },
      Some("""
        WITH mn AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
        daily AS (
          SELECT event_type,
                 CAST(date_diff('day', mn.d0, CAST(ts AS DATE)) AS DOUBLE)
                   AS x,
                 CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS y
          FROM events, mn GROUP BY 1, 2),
        sums AS (
          SELECT event_type,
                 CAST(count(*) AS DOUBLE) AS r,
                 CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy
          FROM daily GROUP BY 1)
        SELECT event_type, CAST(r AS BIGINT) AS n_days,
               round((r * sxy - sx * sy) / (r * sxx - sx * sx), 9) AS slope
        FROM sums ORDER BY 1""")),

    // ---- count-min sketch frequency estimates (q170) --------------------
    // depth=4 × width=256 counter cells over part keys — deliberately
    // narrow so collisions happen and the one-sided error is VISIBLE:
    // the gate reports exact vs estimate for the 20 hottest keys with
    // the overcount, and the oracle rebuilds bit-identical cells from
    // the same md5 hashing, proving construction AND probe. Cells are
    // mergeable (counters add) — the sketch a 100 TB profile job ships
    // per partition and unions. Operator: [[graft.operators.Skew
    // .countMinCells]]/[[graft.operators.Skew.cmsEstimate]].
    QueryDef("q170_count_min",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(col("l_partkey").as("k"))
        // ONE fact scan: the exact key-count table (bounded by |keys|)
        // is checkpointed and feeds the top-20, the weighted cells
        // build (≡ raw build by CMS additivity — the oracle builds
        // raw, so the gate proves it), and the output join.
        val exact = li.groupBy("k").agg(count(lit(1)).as("n_exact"))
          .localCheckpoint(true)
        val top = exact.orderBy(col("n_exact").desc, col("k")).limit(20)
        val sketch = graft.operators.Skew.countMinSketchWeighted(
          exact, "k", depth = 4, width = 256, salt = "cms",
          weight = col("n_exact"))
        graft.operators.Skew.cmsEstimate(sketch, top.select("k"), "k")
          .join(top, "k")
          .select(col("k"), col("n_exact"), col("cms_est"),
            (col("cms_est") - col("n_exact")).as("overcount"))
          .orderBy(col("n_exact").desc, col("k"))
      },
      Some("""
        WITH keys AS (SELECT l_partkey AS k FROM lineitem),
        exact AS (SELECT k, CAST(count(*) AS BIGINT) AS n_exact
                  FROM keys GROUP BY 1),
        top AS (SELECT * FROM exact ORDER BY n_exact DESC, k LIMIT 20),
        cells AS (SELECT r.r,
                         CAST('0x' || substr(md5('cms:' || r.r || ':' ||
                           CAST(k AS VARCHAR)), 1, 12) AS BIGINT) % 256 AS c,
                         CAST(count(*) AS BIGINT) AS cnt
                  FROM keys CROSS JOIN range(4) r(r) GROUP BY 1, 2),
        est AS (SELECT t.k,
                       min(coalesce(cells.cnt, 0)) AS cms_est
                FROM top t CROSS JOIN range(4) r(r)
                LEFT JOIN cells ON cells.r = r.r AND cells.c =
                  CAST('0x' || substr(md5('cms:' || r.r || ':' ||
                    CAST(t.k AS VARCHAR)), 1, 12) AS BIGINT) % 256
                GROUP BY 1)
        SELECT t.k, t.n_exact, e.cms_est,
               e.cms_est - t.n_exact AS overcount
        FROM top t JOIN est e USING (k)
        ORDER BY n_exact DESC, k""")),

    // ---- linear multi-touch attribution (q172) --------------------------
    // q154's last-touch rule generalized: every view/click inside the
    // 30-minute window before a purchase shares the purchase value
    // EQUALLY (credit = value / n_touches). Per-touch credits snap to
    // the 1e-9 grid before the decimal roll-up, so the totals are
    // shuffle-order-exact. The purchase↔touch pairing routes the
    // 30-minute containment through [[IntervalJoin.overlap]] keyed by
    // user: candidates meet on (user, 30-min time bucket), so a
    // hyper-active user's fan-out is bounded by its activity per
    // WINDOW (≈ the true output size), never lifetime-quadratic the
    // way a plain user-keyed equi-join + time filter is. Times ride
    // as unix_micros — Spark's native timestamp resolution, so the
    // bucketed predicate is bit-identical to timestamp arithmetic.
    QueryDef("q172_multi_touch",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val win = 30L * 60L * 1000000L // 30 min in micros
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_id"),
            col("ts").as("p_ts"), col("value").as("p_value"))
          // touch qualifies iff t_ts ∈ [p_ts-30m, p_ts]: half-open
          // interval [p-30m, p+1) over integer micros, point = [t, t+1)
          .withColumn("__ws", unix_micros(col("p_ts")) - lit(win))
          .withColumn("__we", unix_micros(col("p_ts")) + lit(1L))
        val touches = ev.filter(col("event_type").isin("view", "click"))
          .select(col("user_id"), col("event_id").as("t_id"),
            col("event_type").as("touch_type"), col("ts").as("t_ts"))
          .withColumn("__ts", unix_micros(col("t_ts")))
          .withColumn("__te", unix_micros(col("t_ts")) + lit(1L))
        val paired = graft.operators.IntervalJoin.overlap(
            purchases, touches, "__ws", "__we", "__ts", "__te",
            keys = Seq("user_id"), bucketWidth = win)
          .drop("__ws", "__we", "__ts", "__te")
        val wP = Window.partitionBy("p_id")
        val credited = paired
          .withColumn("n_touch", count(lit(1)).over(wP))
          .withColumn("credit",
            round(col("p_value") / col("n_touch").cast(DoubleType), 9))
        credited.groupBy("touch_type")
          .agg(count(lit(1)).as("n_touches"),
            countDistinct(col("p_id")).as("n_purchases"),
            sum(col("credit").cast(DecimalType(38, 18))).cast(DoubleType)
              .as("credit_total"))
          .orderBy("touch_type")
      },
      Some("""
        WITH p AS (SELECT user_id, event_id AS p_id, ts AS p_ts,
                          value AS p_value
                   FROM events WHERE event_type = 'purchase'),
        tch AS (SELECT user_id, event_id AS t_id, event_type AS touch_type,
                       ts AS t_ts
                FROM events WHERE event_type IN ('view', 'click')),
        paired AS (SELECT p.p_id, p.p_value, tch.touch_type
                   FROM p JOIN tch ON p.user_id = tch.user_id
                   WHERE tch.t_ts <= p.p_ts
                     AND tch.t_ts >= p.p_ts - INTERVAL 30 MINUTE),
        credited AS (SELECT touch_type, p_id,
                            round(p_value / CAST(count(*) OVER (
                              PARTITION BY p_id) AS DOUBLE), 9) AS credit
                     FROM paired)
        SELECT touch_type,
               CAST(count(*) AS BIGINT) AS n_touches,
               CAST(count(DISTINCT p_id) AS BIGINT) AS n_purchases,
               CAST(SUM(CAST(credit AS DECIMAL(38,18))) AS DOUBLE)
                 AS credit_total
        FROM credited GROUP BY 1 ORDER BY 1""")),

    // ---- seasonal anomaly detection (q173) ------------------------------
    // Day-of-week seasonal baseline + z-scored residuals over the
    // zero-filled daily series: composes q164's calendar spine (a
    // missing day MUST score as an anomalous 0, not a missing row)
    // with q143's exact-Σ numeric discipline. The metric-monitoring
    // staple: "is today's event volume abnormal FOR ITS WEEKDAY".
    QueryDef("q173_seasonal_anomaly",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_type"), col("ts").cast("date").as("d"))
        val daily = ev.groupBy("event_type", "d").agg(count(lit(1)).as("n"))
        val spine = graft.operators.Resample.calendarSpine(
          ev, Seq("event_type"), "d")
        val filled = spine.join(daily, Seq("event_type", "d"), "left")
          .withColumn("n", coalesce(col("n"), lit(0L)))
          .withColumn("dow", dayofweek(col("d")))
        val st = filled.groupBy("event_type", "dow")
          .agg(count(lit(1)).as("r"), sum(col("n")).as("sx"),
            sum(col("n") * col("n")).as("sx2"))
        filled.join(broadcast(st.filter(col("r") > 1)), Seq("event_type", "dow"))
          .withColumn("mean", col("sx").cast(DoubleType) / col("r"))
          .withColumn("vr",
            (col("sx2").cast(DoubleType) -
              col("sx").cast(DoubleType) * col("sx").cast(DoubleType) /
                col("r")) / (col("r") - 1))
          .filter(col("vr") > 0)
          .withColumn("z",
            round((col("n").cast(DoubleType) - col("mean")) /
              sqrt(col("vr")), 9))
          .filter(abs(col("z")) >= 1.5)
          .select(col("event_type"), col("d"), col("dow"), col("n"),
            round(col("mean"), 9).as("expected"), col("z"))
          .orderBy("event_type", "d")
      },
      Some("""
        WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS d FROM events),
        daily AS (SELECT event_type, d, CAST(count(*) AS BIGINT) AS n
                  FROM ev GROUP BY 1, 2),
        bounds AS (SELECT min(d) AS mn, max(d) AS mx FROM ev),
        spine AS (SELECT t.event_type, CAST(u.s AS DATE) AS d
                  FROM (SELECT DISTINCT event_type FROM ev) t,
                       bounds b,
                       LATERAL (SELECT unnest(generate_series(
                         b.mn, b.mx, INTERVAL 1 DAY)) AS s) u),
        filled AS (SELECT s.event_type, s.d,
                          coalesce(daily.n, 0) AS n,
                          dayofweek(s.d) + 1 AS dow
                   FROM spine s LEFT JOIN daily
                     ON daily.event_type = s.event_type AND daily.d = s.d),
        st AS (SELECT event_type, dow, count(*) AS r,
                      CAST(SUM(n) AS BIGINT) AS sx,
                      CAST(SUM(n * n) AS BIGINT) AS sx2
               FROM filled GROUP BY 1, 2)
        SELECT f.event_type, f.d, CAST(f.dow AS INTEGER) AS dow, f.n,
               round(CAST(sx AS DOUBLE) / r, 9) AS expected,
               round((CAST(f.n AS DOUBLE) - CAST(sx AS DOUBLE) / r) /
                     sqrt((CAST(sx2 AS DOUBLE) -
                           CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / r) /
                          (r - 1)), 9) AS z
        FROM filled f JOIN st
          ON st.event_type = f.event_type AND st.dow = f.dow
        WHERE st.r > 1
          AND (CAST(sx2 AS DOUBLE) -
               CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / r) / (r - 1) > 0
          AND abs(round((CAST(f.n AS DOUBLE) - CAST(sx AS DOUBLE) / r) /
                sqrt((CAST(sx2 AS DOUBLE) -
                      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / r) /
                     (r - 1)), 9)) >= 1.5
        ORDER BY 1, 2""")),

    // ---- k-anonymity release screen (q174) ------------------------------
    // The privacy profile a data export runs first: per requested k,
    // how many quasi-identifier groups and rows sit below it, plus
    // the global anonymity level (min group size — the k the release
    // actually provides). One QI aggregation (bounded by QI-space
    // cardinality), never a second data scan. Operator:
    // [[graft.operators.Validate.kAnonymity]].
    QueryDef("q174_k_anonymity",
      (s, dir) => {
        graft.operators.Validate.kAnonymity(
            t(s, dir, "customer"),
            qiCols = Seq("c_nationkey", "c_mktsegment"),
            ks = Seq(3, 5, 10, 25))
          .select(col("k"), col("groups_below"), col("rows_at_risk"),
            col("k_anonymity"), col("satisfied").cast("int").as("satisfied"))
          .orderBy("k")
      },
      Some("""
        WITH g AS (SELECT c_nationkey, c_mktsegment,
                          CAST(count(*) AS BIGINT) AS n
                   FROM customer GROUP BY 1, 2),
        lvl AS (SELECT min(n) AS l FROM g),
        ks AS (SELECT unnest([3, 5, 10, 25]) AS k)
        SELECT ks.k,
               CAST(SUM(CASE WHEN g.n < ks.k THEN 1 ELSE 0 END) AS BIGINT)
                 AS groups_below,
               CAST(SUM(CASE WHEN g.n < ks.k THEN g.n ELSE 0 END) AS BIGINT)
                 AS rows_at_risk,
               lvl.l AS k_anonymity,
               CAST(lvl.l >= ks.k AS INTEGER) AS satisfied
        FROM g CROSS JOIN ks CROSS JOIN lvl
        GROUP BY 1, lvl.l ORDER BY 1""")),

    // ---- l-diversity homogeneity screen (q175) --------------------------
    // k-anonymity's necessary companion (q174): a large QI group with
    // ONE sensitive value still leaks it. Sensitive attribute:
    // account-balance sign band; QI: (nation, segment). Operator:
    // [[graft.operators.Validate.lDiversity]].
    QueryDef("q175_l_diversity",
      (s, dir) => {
        val cust = t(s, dir, "customer")
          .withColumn("bal_band",
            when(col("c_acctbal") < 0, "neg")
              .when(col("c_acctbal") < 5000, "low")
              .otherwise("high"))
        graft.operators.Validate.lDiversity(
            cust, qiCols = Seq("c_nationkey", "c_mktsegment"),
            sensitiveCol = "bal_band", ls = Seq(2, 3))
          .select(col("l"), col("groups_below"), col("rows_at_risk"),
            col("l_diversity"), col("satisfied").cast("int").as("satisfied"))
          .orderBy("l")
      },
      Some("""
        WITH c AS (SELECT c_nationkey, c_mktsegment,
                          CASE WHEN c_acctbal < 0 THEN 'neg'
                               WHEN c_acctbal < 5000 THEN 'low'
                               ELSE 'high' END AS bal_band
                   FROM customer),
        g AS (SELECT c_nationkey, c_mktsegment,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(count(DISTINCT bal_band) AS BIGINT) AS d
              FROM c GROUP BY 1, 2),
        lvl AS (SELECT min(d) AS l FROM g),
        ls AS (SELECT unnest([2, 3]) AS l)
        SELECT ls.l,
               CAST(SUM(CASE WHEN g.d < ls.l THEN 1 ELSE 0 END) AS BIGINT)
                 AS groups_below,
               CAST(SUM(CASE WHEN g.d < ls.l THEN g.n ELSE 0 END) AS BIGINT)
                 AS rows_at_risk,
               lvl.l AS l_diversity,
               CAST(lvl.l >= ls.l AS INTEGER) AS satisfied
        FROM g CROSS JOIN ls CROSS JOIN lvl
        GROUP BY 1, lvl.l ORDER BY 1""")),

    // ---- blocked fuzzy record linkage (q176) ----------------------------
    // Entity resolution's scoring rung: Jaro–Winkler over part names,
    // blocked by brand so the pair space is Σ|block|², never n². The
    // scorer is the native `jaro_winkler` expression
    // ([[graft.functions.expressions.JaroWinkler]]) — one static-call
    // scan per candidate pair inside whole-stage codegen, pinned
    // bit-compatible with DuckDB's jaro_winkler_similarity (20k-pair
    // randomized differential during development; the gate re-proves
    // it on every fixture pair ≥ the threshold). Both engines filter
    // on the ROUNDED score, so the cut is boundary-safe.
    QueryDef("q176_record_linkage",
      (s, dir) => {
        val p = t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_name"))
        // Brand has ~25 values, so a plain brand-keyed self-join caps
        // the Σ|block|² pair expansion at 25 tasks; blockedSelfPairs
        // decomposes each block into bucket-pair sub-blocks (B=8 →
        // 25·36 = 900 tasks), same pair set, full parallelism.
        graft.operators.Skew.blockedSelfPairs(
            p, Seq("p_brand"), "p_partkey", buckets = 8)
          .select(col("a.p_partkey").as("k1"), col("b.p_partkey").as("k2"),
            col("p_brand").as("brand"),
            round(call_function("jaro_winkler",
              col("a.p_name"), col("b.p_name")), 9).as("jw"))
          .filter(col("jw") >= 0.9)
          .orderBy(col("jw").desc, col("k1"), col("k2"))
          .limit(100)
      },
      Some("""
        SELECT a.p_partkey AS k1, b.p_partkey AS k2,
               a.p_brand AS brand,
               round(jaro_winkler_similarity(a.p_name, b.p_name), 9) AS jw
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 9) >= 0.9
        ORDER BY jw DESC, k1, k2 LIMIT 100""")),

    // ---- KMV mergeable distinct sketch (q189) ---------------------------
    // The re-aggregable distinct-count rollup ("daily unique users,
    // re-rollable to month without re-reading the raw data") via
    // K-minimum-values — chosen over HLL precisely because KMV is a
    // pure function of md5 order statistics, so the ESTIMATE itself is
    // restated exactly in DuckDB and hash-gated, not just bounded.
    // The month rows are computed by MERGING the day sketches
    // ([[graft.operators.Skew.kmvMerge]]) while the oracle computes
    // months directly from the raw rows — a hash match proves the
    // merge property end-to-end (union's k smallest ≡ k smallest of
    // re-sketched union), q130's proof shape for the sketch tier.
    QueryDef("q189_kmv_distinct",
      (s, dir) => {
        import graft.operators.Skew
        val k = 64
        val ev = t(s, dir, "events")
          .select(col("ts").cast("date").as("d"), col("user_id"))
        val daily = Skew.kmvSketch(ev, Seq("d"), "user_id", k, "kmv9")
          .localCheckpoint(true) // day output AND month merge read it
        val dayRows = daily.select(lit("day").as("level"),
          col("d").cast("string").as("grp"),
          Skew.kmvEstimate(col("kmv"), k).as("kmv_est"))
        val monthRows = Skew.kmvMerge(
            daily.withColumn("m", date_format(col("d"), "yyyy-MM")),
            Seq("m"), k)
          .select(lit("month").as("level"), col("m").as("grp"),
            Skew.kmvEstimate(col("kmv"), k).as("kmv_est"))
        val exact = ev
          .select(lit("day").as("level"), col("d").cast("string").as("grp"),
            col("user_id"))
          .unionByName(ev.select(lit("month").as("level"),
            date_format(col("d"), "yyyy-MM").as("grp"), col("user_id")))
          .groupBy("level", "grp")
          .agg(count_distinct(col("user_id")).as("n_exact"))
        exact.join(dayRows.unionByName(monthRows), Seq("level", "grp"))
          .orderBy("level", "grp")
      },
      Some("""
        WITH ev AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events),
        lv AS (SELECT 'day' AS level, CAST(d AS VARCHAR) AS grp, user_id
               FROM ev
               UNION ALL
               SELECT 'month', strftime(d, '%Y-%m'), user_id FROM ev),
        ex AS (SELECT level, grp,
                      CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
               FROM lv GROUP BY 1, 2),
        h AS (SELECT DISTINCT level, grp,
                     substr(md5('kmv9:' || CAST(user_id AS VARCHAR)), 1, 12)
                       AS h
              FROM lv),
        rk AS (SELECT level, grp, h,
                      row_number() OVER (PARTITION BY level, grp
                        ORDER BY h) AS rk
               FROM h),
        nh AS (SELECT level, grp, count(*) AS nh FROM h GROUP BY 1, 2),
        kth AS (SELECT level, grp, h FROM rk WHERE rk = 64),
        est AS (SELECT nh.level, nh.grp,
                       CASE WHEN nh.nh < 64 THEN CAST(nh.nh AS DOUBLE)
                            ELSE round(63.0 /
                              (CAST(CAST('0x' || kth.h AS BIGINT) AS DOUBLE)
                               / 281474976710656.0), 9) END AS kmv_est
                FROM nh LEFT JOIN kth ON kth.level = nh.level
                                     AND kth.grp = nh.grp)
        SELECT ex.level, ex.grp, ex.n_exact, est.kmv_est
        FROM ex JOIN est ON est.level = ex.level AND est.grp = ex.grp
        ORDER BY 1, 2""")),

    // ---- incremental KMV maintenance (q191) -----------------------------
    // q189 proves the merge; this gates the MAINTENANCE loop a
    // warehouse actually runs: day sketches built from the FIRST half
    // of the event stream, then [[graft.operators.Skew.kmvUpdate]]
    // folds the second half in — touched days merge, untouched days
    // ride through, raw history is never re-read. The oracle computes
    // every day's estimate from the full raw stream: a hash match
    // proves maintain ≡ rebuild against an independent engine (the
    // q130/q184 proof shape, for the sketch tier). The time split is
    // on event_id parity, so most days land in BOTH halves (the merge
    // path is actually exercised, not vacuously).
    QueryDef("q191_kmv_incremental",
      (s, dir) => {
        import graft.operators.Skew
        val k = 64
        val ev = t(s, dir, "events")
          .select(col("ts").cast("date").as("d"), col("user_id"),
            col("event_id"))
        val base = ev.filter(col("event_id") % 2 === 0)
        val delta = ev.filter(col("event_id") % 2 === 1)
        val maintained = Skew.kmvUpdate(
          Skew.kmvSketch(base, Seq("d"), "user_id", k, "kmv9"),
          delta, Seq("d"), "user_id", k, "kmv9")
        maintained.select(col("d").cast("string").as("grp"),
            Skew.kmvEstimate(col("kmv"), k).as("kmv_est"),
            size(col("kmv")).cast("long").as("n_kept"))
          .orderBy("grp")
      },
      Some("""
        WITH ev AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events),
        h AS (SELECT DISTINCT CAST(d AS VARCHAR) AS grp,
                     substr(md5('kmv9:' || CAST(user_id AS VARCHAR)), 1, 12)
                       AS h
              FROM ev),
        rk AS (SELECT grp, h,
                      row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
               FROM h),
        nh AS (SELECT grp, count(*) AS nh FROM h GROUP BY 1),
        kth AS (SELECT grp, h FROM rk WHERE rk = 64)
        SELECT nh.grp,
               CASE WHEN nh.nh < 64 THEN CAST(nh.nh AS DOUBLE)
                    ELSE round(63.0 /
                      (CAST(CAST('0x' || kth.h AS BIGINT) AS DOUBLE)
                       / 281474976710656.0), 9) END AS kmv_est,
               CAST(least(nh.nh, 64) AS BIGINT) AS n_kept
        FROM nh LEFT JOIN kth USING (grp)
        ORDER BY grp""")),

    // ---- mergeable sample quantiles (q194) ------------------------------
    // The quantile rollup without a t-digest: per-(type, day)
    // bottom-k-by-hash samples ([[graft.operators.Sampling.stratifiedFixedN]]
    // — deterministic, mergeable) re-sampled per type, then
    // nearest-rank order statistics off the bounded sample
    // ([[graft.operators.Sampling.sampleQuantiles]]). The oracle
    // samples each type DIRECTLY from the raw stream and picks the
    // same ranks — a hash match proves both the merge property and
    // the estimator, value-exactly, against an independent engine.
    QueryDef("q194_sample_quantiles",
      (s, dir) => {
        import graft.operators.Sampling
        val k = 128
        val ev = t(s, dir, "events")
          .select(col("event_type"), col("ts").cast("date").as("d"),
            col("event_id"), col("value"))
        val daily = Sampling.stratifiedFixedN(ev,
          Seq("event_type", "d"), "event_id", "bk9", k)
        val merged = Sampling.stratifiedFixedN(daily,
          Seq("event_type"), "event_id", "bk9", k)
        Sampling.sampleQuantiles(merged, Seq("event_type"), "value",
            Seq(0.5, 0.9))
          .orderBy("event_type")
      },
      Some("""
        WITH s AS (SELECT event_type, event_id, value,
                          row_number() OVER (PARTITION BY event_type
                            ORDER BY md5('bk9:' || CAST(event_id AS VARCHAR)),
                                     event_id) AS rk
                   FROM events),
        samp AS (SELECT event_type, value FROM s WHERE rk <= 128),
        v AS (SELECT event_type, value,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY value) AS vr,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM samp)
        SELECT event_type, CAST(max(n) AS BIGINT) AS n_sample,
               max(CASE WHEN vr = CAST(floor(0.5 * (n - 1)) AS INT) + 1
                        THEN value END) AS p50,
               max(CASE WHEN vr = CAST(floor(0.9 * (n - 1)) AS INT) + 1
                        THEN value END) AS p90
        FROM v GROUP BY 1 ORDER BY 1""")),

    // ---- KMV set algebra: sketch-only source overlap (q199) -------------
    // q189 proves the KMV estimate, q191 its maintenance; this gates
    // the SET OPERATIONS tier (Beyer et al., SIGMOD'07): union,
    // intersection, and Jaccard estimates for every source pair
    // computed from the per-source 64-value sketches ALONE — at 100 TB
    // the pairwise-overlap matrix (q109's diagnostic) costs a full
    // vocabulary shuffle per refresh, while the sketch algebra reads
    // 20 rows of ≤ 768 bytes. Each pair's exact unigram Jaccard rides
    // alongside as the honesty yardstick (the q110/q189 convention:
    // the estimate AND its truth in one gated row). Operator:
    // [[graft.operators.Skew.kmvPairwiseSetOps]].
    QueryDef("q199_kmv_setops",
      (s, dir) => {
        import graft.operators.Skew
        val k = 64
        val sw = t(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .distinct()
          .localCheckpoint(true) // read by the sketch, sizes AND overlap
        val est = Skew.kmvPairwiseSetOps(
          Skew.kmvSketch(sw, Seq("source"), "w", k, "kmv9"), "source", k)
        val sz = sw.groupBy(col("source")).agg(count(lit(1)).as("n"))
          .localCheckpoint(true) // both sides of the pair enumeration
        val shared = sw.as("a").join(sw.as("b"),
            col("a.w") === col("b.w") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src1"), col("b.source").as("src2"))
          .agg(count(lit(1)).as("ni"))
        val ex = sz.as("za").join(broadcast(sz.as("zb")),
            col("za.source") < col("zb.source"))
          .select(col("za.source").as("src1"), col("zb.source").as("src2"),
            col("za.n").as("n1"), col("zb.n").as("n2"))
          .join(shared, Seq("src1", "src2"), "left")
          .select(col("src1"), col("src2"),
            (col("n1") + col("n2") - coalesce(col("ni"), lit(0L)))
              .as("n_union_exact"),
            round(coalesce(col("ni"), lit(0L)).cast("double") /
              (col("n1") + col("n2") - coalesce(col("ni"), lit(0L)))
                .cast("double"), 9).as("jaccard_exact"))
        est.join(ex, Seq("src1", "src2"))
          .orderBy("src1", "src2")
      },
      Some("""
        WITH w AS (SELECT DISTINCT source AS src, w FROM (
                     SELECT source, unnest(string_split(text, ' ')) AS w
                     FROM documents)),
        h AS (SELECT DISTINCT src, substr(md5('kmv9:' || w), 1, 12) AS h
              FROM w),
        rk AS (SELECT src, h, row_number() OVER (PARTITION BY src
                 ORDER BY h) AS rk FROM h),
        sk AS (SELECT src, h FROM rk WHERE rk <= 64),
        srcs AS (SELECT DISTINCT src FROM w),
        pr AS (SELECT a.src AS s1, b.src AS s2
               FROM srcs a JOIN srcs b ON a.src < b.src),
        uh AS (SELECT pr.s1, pr.s2, sk.h FROM pr JOIN sk ON sk.src = pr.s1
               UNION
               SELECT pr.s1, pr.s2, sk.h FROM pr JOIN sk ON sk.src = pr.s2),
        ur AS (SELECT s1, s2, h, row_number() OVER (PARTITION BY s1, s2
                 ORDER BY h) AS rk FROM uh),
        uk AS (SELECT s1, s2, h, rk FROM ur WHERE rk <= 64),
        usz AS (SELECT s1, s2, count(*) AS u FROM uk GROUP BY 1, 2),
        kth AS (SELECT s1, s2, h FROM uk WHERE rk = 64),
        mm AS (SELECT uk.s1, uk.s2, count(*) AS m
               FROM uk JOIN sk sa ON sa.src = uk.s1 AND sa.h = uk.h
                       JOIN sk sb ON sb.src = uk.s2 AND sb.h = uk.h
               GROUP BY 1, 2),
        est AS (SELECT usz.s1, usz.s2,
                       round(CAST(coalesce(mm.m, 0) AS DOUBLE) /
                             CAST(usz.u AS DOUBLE), 9) AS jaccard_est,
                       CASE WHEN usz.u < 64 THEN CAST(usz.u AS DOUBLE)
                            ELSE round(63.0 /
                              (CAST(CAST('0x' || kth.h AS BIGINT) AS DOUBLE)
                               / 281474976710656.0), 9) END AS union_est
                FROM usz
                LEFT JOIN kth ON kth.s1 = usz.s1 AND kth.s2 = usz.s2
                LEFT JOIN mm ON mm.s1 = usz.s1 AND mm.s2 = usz.s2),
        sz AS (SELECT src, count(*) AS n FROM w GROUP BY 1),
        sh AS (SELECT a.src AS s1, b.src AS s2, count(*) AS ni
               FROM w a JOIN w b ON a.w = b.w AND a.src < b.src
               GROUP BY 1, 2),
        ex AS (SELECT pr.s1, pr.s2,
                      za.n + zb.n - coalesce(sh.ni, 0) AS nu,
                      coalesce(sh.ni, 0) AS ni
               FROM pr
               JOIN sz za ON za.src = pr.s1
               JOIN sz zb ON zb.src = pr.s2
               LEFT JOIN sh ON sh.s1 = pr.s1 AND sh.s2 = pr.s2)
        SELECT est.s1 AS src1, est.s2 AS src2, est.jaccard_est,
               est.union_est,
               round(est.jaccard_est * est.union_est, 9) AS inter_est,
               CAST(ex.nu AS BIGINT) AS n_union_exact,
               round(CAST(ex.ni AS DOUBLE) / CAST(ex.nu AS DOUBLE), 9)
                 AS jaccard_exact
        FROM est JOIN ex ON ex.s1 = est.s1 AND ex.s2 = est.s2
        ORDER BY 1, 2""")),

    // ---- sketch-based join-size estimation (q210) -------------------------
    // The planner diagnostic a 100 TB warehouse runs BEFORE a giant
    // join: estimate |A ⋈ B| from per-side KMV sketches alone —
    // distinct-key intersection via the q199 set algebra, scaled by
    // each side's mean key multiplicity (the classic independence
    // estimate |A⋈B| ≈ D_∩ · (n_A/D_A) · (n_B/D_B)) — next to the
    // ACTUAL join cardinality as the honesty column. The estimate
    // chain is a fixed expression over grid doubles and surfaces
    // FLOORED (floor of identical doubles is exact; round() edge
    // behavior is not), so both engines print identical integers.
    QueryDef("q210_join_size_estimate",
      (s, dir) => {
        import graft.operators.Skew
        val k = 64
        val oKeys = t(s, dir, "orders")
          .select(lit("a").as("side"), col("o_orderkey").as("key"))
        val lKeys = t(s, dir, "lineitem")
          .select(lit("b").as("side"), col("l_orderkey").as("key"))
        val both = oKeys.unionByName(lKeys)
          .localCheckpoint(true) // sketch, per-side counts AND the join
        val sk = Skew.kmvSketch(both, Seq("side"), "key", k, "kmv9")
          .localCheckpoint(true) // pairwise set ops + per-side estimates
        val d = sk.select(col("side"),
          Skew.kmvEstimate(col("kmv"), k).as("dest"))
        val n = both.groupBy("side").agg(count(lit(1)).as("n"))
        val inter = Skew.kmvPairwiseSetOps(sk, "side", k)
          .select(col("inter_est"))
        val actual = both.filter(col("side") === "a")
          .join(both.filter(col("side") === "b")
            .select(col("key"), lit(1).as("__x")), Seq("key"))
          .agg(count(lit(1)).as("actual_rows"))
        def side(c: String, src: DataFrame, v: String) =
          src.filter(col("side") === c).select(col(v))
        side("a", n, "n").withColumnRenamed("n", "n_a")
          .crossJoin(side("b", n, "n").withColumnRenamed("n", "n_b"))
          .crossJoin(side("a", d, "dest").withColumnRenamed("dest", "d_a"))
          .crossJoin(side("b", d, "dest").withColumnRenamed("dest", "d_b"))
          .crossJoin(inter)
          .crossJoin(actual)
          .select(col("n_a"), col("n_b"),
            floor(col("d_a")).cast(LongType).as("d_a_est"),
            floor(col("d_b")).cast(LongType).as("d_b_est"),
            floor(col("inter_est")).cast(LongType).as("d_inter_est"),
            floor(col("inter_est") *
              (col("n_a").cast(DoubleType) / col("d_a")) *
              (col("n_b").cast(DoubleType) / col("d_b")))
              .cast(LongType).as("est_rows"),
            col("actual_rows"))
      },
      Some("""
        WITH ks AS (SELECT 'a' AS side, o_orderkey AS key FROM orders
                    UNION ALL
                    SELECT 'b', l_orderkey FROM lineitem),
        n AS (SELECT side, CAST(count(*) AS BIGINT) AS n
              FROM ks GROUP BY 1),
        h AS (SELECT DISTINCT side,
                     substr(md5('kmv9:' || CAST(key AS VARCHAR)), 1, 12) AS h
              FROM ks),
        rk AS (SELECT side, h, row_number() OVER (PARTITION BY side
                 ORDER BY h) AS rk FROM h),
        sk AS (SELECT side, h, rk FROM rk WHERE rk <= 64),
        nh AS (SELECT side, count(*) AS nh FROM h GROUP BY 1),
        dst AS (SELECT nh.side,
                       CASE WHEN nh.nh < 64 THEN CAST(nh.nh AS DOUBLE)
                            ELSE round(63.0 /
                              (CAST(CAST('0x' || kth.h AS BIGINT) AS DOUBLE)
                               / 281474976710656.0), 9) END AS dest
                FROM nh LEFT JOIN (SELECT side, h FROM sk WHERE rk = 64) kth
                  USING (side)),
        uh AS (SELECT h FROM sk WHERE side = 'a'
               UNION SELECT h FROM sk WHERE side = 'b'),
        ur AS (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM uh),
        uk AS (SELECT h, rk FROM ur WHERE rk <= 64),
        usz AS (SELECT count(*) AS u FROM uk),
        mm AS (SELECT count(*) AS m FROM uk
               WHERE h IN (SELECT h FROM sk WHERE side = 'a')
                 AND h IN (SELECT h FROM sk WHERE side = 'b')),
        uest AS (SELECT CASE WHEN usz.u < 64 THEN CAST(usz.u AS DOUBLE)
                             ELSE round(63.0 /
                               (CAST(CAST('0x' ||
                                  (SELECT h FROM uk WHERE rk = 64)
                                  AS BIGINT) AS DOUBLE)
                                / 281474976710656.0), 9) END AS union_est,
                        round(CAST(mm.m AS DOUBLE) /
                              CAST(usz.u AS DOUBLE), 9) AS jaccard_est
                 FROM usz, mm),
        inter AS (SELECT round(jaccard_est * union_est, 9) AS inter_est
                  FROM uest),
        act AS (SELECT CAST(count(*) AS BIGINT) AS actual_rows
                FROM orders o JOIN lineitem l
                  ON l.l_orderkey = o.o_orderkey)
        SELECT na.n AS n_a, nb.n AS n_b,
               CAST(floor(da.dest) AS BIGINT) AS d_a_est,
               CAST(floor(db.dest) AS BIGINT) AS d_b_est,
               CAST(floor(inter.inter_est) AS BIGINT) AS d_inter_est,
               CAST(floor(inter.inter_est *
                 (CAST(na.n AS DOUBLE) / da.dest) *
                 (CAST(nb.n AS DOUBLE) / db.dest)) AS BIGINT) AS est_rows,
               act.actual_rows
        FROM (SELECT n FROM n WHERE side = 'a') na,
             (SELECT n FROM n WHERE side = 'b') nb,
             (SELECT dest FROM dst WHERE side = 'a') da,
             (SELECT dest FROM dst WHERE side = 'b') db,
             inter, act""")),

    // ---- right-to-be-forgotten cascade (q200) ----------------------------
    // GDPR-erasure as an operator: erase a customer seed set and let
    // the FK walk ([[graft.operators.Cascade.deleteClosure]]) carry
    // the deletion through orders into lineitem — the transitive
    // closure a compliance pipeline must compute, with the orphan
    // audit (child rows whose FK no longer resolves) emitted as a
    // VERIFIED zero rather than assumed. Per-table before/deleted/
    // after counts; the oracle recomputes the closure and the orphan
    // audit independently in SQL. Scale shape: driver walks the table
    // DAG (3 nodes), data pays one semi-join per edge against the
    // (small) deleted-key set and one mirror anti-join — the seed is
    // never collected, no table is scanned more than O(edges) times.
    QueryDef("q200_forget_cascade",
      (s, dir) => {
        import graft.operators.Cascade
        val tables = Map(
          "customer" -> t(s, dir, "customer"),
          "orders" -> t(s, dir, "orders"),
          "lineitem" -> t(s, dir, "lineitem"))
        val fks = Seq(
          Cascade.Fk("orders", "o_custkey", "customer", "c_custkey"),
          Cascade.Fk("lineitem", "l_orderkey", "orders", "o_orderkey"))
        val seed = tables("customer")
          .filter(col("c_custkey") % 97 === 0).select("c_custkey")
        val out = Cascade.deleteClosure(tables, fks, "customer",
          "c_custkey", seed)
        val counts = Seq("customer", "orders", "lineitem").map { n =>
          val e = out(n)
          e.kept.agg(count(lit(1)).as("n_after"))
            .crossJoin(e.deleted.agg(count(lit(1)).as("n_deleted")))
            .select(lit(n).as("tbl"),
              (col("n_after") + col("n_deleted")).as("n_before"),
              col("n_deleted"), col("n_after"))
        }.reduce(_ unionByName _)
        val orphans = Cascade.orphanCounts(out, fks)
          .agg(sum(col("n_orphans")).cast(LongType).as("n_orphans_total"))
        counts.crossJoin(broadcast(orphans)).orderBy("tbl")
      },
      Some("""
        WITH seed AS (SELECT c_custkey AS k FROM customer
                      WHERE c_custkey % 97 = 0),
        delo_keys AS (SELECT o_orderkey FROM orders
                      WHERE o_custkey IN (SELECT k FROM seed)),
        delc AS (SELECT count(*) AS d FROM customer
                 WHERE c_custkey IN (SELECT k FROM seed)),
        delo AS (SELECT count(*) AS d FROM delo_keys),
        dell AS (SELECT count(*) AS d FROM lineitem
                 WHERE l_orderkey IN (SELECT o_orderkey FROM delo_keys)),
        nc AS (SELECT count(*) AS n FROM customer),
        no_ AS (SELECT count(*) AS n FROM orders),
        nl AS (SELECT count(*) AS n FROM lineitem),
        kc AS (SELECT c_custkey FROM customer
               WHERE c_custkey NOT IN (SELECT k FROM seed)),
        ko AS (SELECT o_orderkey, o_custkey FROM orders
               WHERE o_custkey NOT IN (SELECT k FROM seed)),
        kl AS (SELECT l_orderkey FROM lineitem
               WHERE l_orderkey NOT IN (SELECT o_orderkey FROM delo_keys)),
        orph AS (SELECT CAST(
                   (SELECT count(*) FROM ko
                    WHERE o_custkey NOT IN (SELECT c_custkey FROM kc)) +
                   (SELECT count(*) FROM kl
                    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM ko))
                   AS BIGINT) AS n_orphans_total)
        SELECT u.tbl, u.n_before, u.n_deleted, u.n_after,
               orph.n_orphans_total
        FROM (
          SELECT 'customer' AS tbl, CAST(nc.n AS BIGINT) AS n_before,
                 CAST(delc.d AS BIGINT) AS n_deleted,
                 CAST(nc.n - delc.d AS BIGINT) AS n_after
          FROM nc, delc
          UNION ALL
          SELECT 'orders', CAST(no_.n AS BIGINT), CAST(delo.d AS BIGINT),
                 CAST(no_.n - delo.d AS BIGINT)
          FROM no_, delo
          UNION ALL
          SELECT 'lineitem', CAST(nl.n AS BIGINT), CAST(dell.d AS BIGINT),
                 CAST(nl.n - dell.d AS BIGINT)
          FROM nl, dell) u, orph
        ORDER BY u.tbl""")),

    // ---- CDC apply with deletes (q151) ----------------------------------
    // The merge shape MERGE-without-DELETE can't express: a change
    // batch of I/U/D ops, latest version per key winning, applied in
    // one pass (anti-join touched keys + union the non-delete
    // winners). The batch is derived deterministically from the
    // customer dimension itself: every 4th key deleted, every
    // 4k+1 key updated (+100), of those every 8k+1 key RE-deleted at a
    // later version (latest-wins must override the earlier update),
    // and a sparse set of fresh keys inserted.
    QueryDef("q151_cdc_apply",
      (s, dir) => {
        val base = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val dbl = org.apache.spark.sql.types.DoubleType
        val str = org.apache.spark.sql.types.StringType
        val ch =
          base.filter(col("c_custkey") % 4 === 0)
            .select(col("c_custkey"), lit(null).cast(str).as("c_name"),
              lit(null).cast(dbl).as("c_acctbal"),
              lit("D").as("op"), lit(1L).as("ver"))
          .unionByName(base.filter(col("c_custkey") % 4 === 1)
            .select(col("c_custkey"), col("c_name"),
              (col("c_acctbal") + 100).as("c_acctbal"),
              lit("U").as("op"), lit(1L).as("ver")))
          .unionByName(base.filter(col("c_custkey") % 8 === 1)
            .select(col("c_custkey"), lit(null).cast(str).as("c_name"),
              lit(null).cast(dbl).as("c_acctbal"),
              lit("D").as("op"), lit(2L).as("ver")))
          .unionByName(base.filter(col("c_custkey") % 100 === 0)
            .select((col("c_custkey") + 1000000).as("c_custkey"),
              concat(lit("new_"), col("c_custkey")).as("c_name"),
              col("c_custkey").cast(dbl).as("c_acctbal"),
              lit("I").as("op"), lit(1L).as("ver")))
        graft.operators.Upsert.applyCdc(base, ch, Seq("c_custkey"),
            "op", "ver")
          .orderBy("c_custkey")
      },
      Some("""
        WITH t AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        ch AS (
          SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name,
                 CAST(NULL AS DOUBLE) AS c_acctbal, 'D' AS op, 1 AS ver
          FROM customer WHERE c_custkey % 4 = 0
          UNION ALL
          SELECT c_custkey, c_name, c_acctbal + 100, 'U', 1
          FROM customer WHERE c_custkey % 4 = 1
          UNION ALL
          SELECT c_custkey, NULL, NULL, 'D', 2
          FROM customer WHERE c_custkey % 8 = 1
          UNION ALL
          SELECT c_custkey + 1000000,
                 'new_' || CAST(c_custkey AS VARCHAR),
                 CAST(c_custkey AS DOUBLE), 'I', 1
          FROM customer WHERE c_custkey % 100 = 0),
        latest AS (SELECT * FROM (
                     SELECT *, row_number() OVER (PARTITION BY c_custkey
                       ORDER BY ver DESC, op DESC) AS rk
                     FROM ch) WHERE rk = 1)
        SELECT c_custkey, c_name, c_acctbal FROM t
        WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
        UNION ALL
        SELECT c_custkey, c_name, c_acctbal FROM latest WHERE op <> 'D'
        ORDER BY c_custkey""")),

    // ---- leave-one-out target encoding (q153) ---------------------------
    // The categorical-feature encoder gradient models want: replace a
    // category with the mean target of its OTHER members —
    // (Σ_g − x) / (n_g − 1) — so a row never sees its own label (the
    // leakage the naive group-mean encoding commits). Exact decimal
    // group sums broadcast back; the per-row exclusion is pure
    // map-side arithmetic through one fixed double expression.
    // Singleton categories (n_g = 1) have no "others" and yield NULL.
    QueryDef("q153_loo_encoding",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice"))
        val g = o.groupBy("o_orderpriority").agg(
          count(lit(1)).as("n_g"),
          sum(col("o_totalprice").cast(DecimalType(28, 6)))
            .cast(DoubleType).as("sum_g"))
        o.join(broadcast(g), "o_orderpriority")
          .select(col("o_orderkey"), col("o_orderpriority"),
            when(col("n_g") > 1,
              round((col("sum_g") - col("o_totalprice")) /
                (col("n_g") - 1).cast(DoubleType), 6))
              .as("loo_mean_price"))
          .filter(col("o_orderkey") % 23 === 0)
          .orderBy("o_orderkey")
      },
      Some("""
        WITH g AS (SELECT o_orderpriority, count(*) AS n_g,
                          CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                            AS DOUBLE) AS sum_g
                   FROM orders GROUP BY 1)
        SELECT o_orderkey, o_orderpriority,
               CASE WHEN n_g > 1
                    THEN round((sum_g - o_totalprice)
                               / CAST(n_g - 1 AS DOUBLE), 6) END
                 AS loo_mean_price
        FROM orders JOIN g USING (o_orderpriority)
        WHERE o_orderkey % 23 = 0
        ORDER BY o_orderkey""")),

    // ---- last-touch attribution (q154) ----------------------------------
    // The marketing-analytics standard: credit each purchase to the
    // user's LAST preceding view/click within a 30-minute lookback —
    // exactly an as-of backward join with tolerance, composed from the
    // AsofJoin operator (one union-sort shuffle, never a range
    // self-join). Purchases with no qualifying touch attribute to
    // 'none'; attribution counts roll up per touch type.
    QueryDef("q154_last_touch",
      (s, dir) => {
        val ev = eventsMs(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ms"))
        // Same-(user, ms) touches collapse deterministically (max type)
        // BEFORE the as-of: the backward pick among exact time ties is
        // otherwise unspecified in both engines.
        val touches = ev.filter(col("event_type").isin("view", "click"))
          .groupBy(col("user_id"), col("ms"))
          .agg(max(col("event_type")).as("touch_type"))
        AsofJoin.asof(purchases, touches, Seq("user_id"), "ms", "ms",
            valueCols = Seq("touch_type"), tolerance = Some(1800000L))
          .groupBy(coalesce(col("touch_type"), lit("none")).as("touch_type"))
          .agg(count(lit(1)).as("n_purchases"))
          .orderBy("touch_type")
      },
      Some("""
        WITH ev AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
                    FROM events),
        p AS (SELECT user_id, event_id, ms FROM ev
              WHERE event_type = 'purchase'),
        tch AS (SELECT user_id, ms, max(event_type) AS touch_type FROM ev
                WHERE event_type IN ('view', 'click') GROUP BY 1, 2),
        attr AS (SELECT p.event_id,
                        (SELECT t.touch_type FROM tch t
                         WHERE t.user_id = p.user_id AND t.ms <= p.ms
                           AND t.ms >= p.ms - 1800000
                         ORDER BY t.ms DESC LIMIT 1) AS touch_type
                 FROM p)
        SELECT coalesce(touch_type, 'none') AS touch_type,
               CAST(count(*) AS BIGINT) AS n_purchases
        FROM attr GROUP BY 1 ORDER BY 1""")),

    // ---- nested document export (q157) ----------------------------------
    // The denormalization every document-store/API export needs: each
    // order with its lineitems as an ORDERED nested array, serialized
    // to compact JSON. Cross-engine JSON equality is deliberate and
    // narrow: integer fields only (double formatting differs between
    // engines), sorted arrays (collect order is nondeterministic),
    // compact no-space encoding on both sides. One join + one
    // order-keyed collect aggregate.
    QueryDef("q157_nested_export",
      (s, dir) => {
        val items = t(s, dir, "lineitem")
          .select(col("l_orderkey"),
            col("l_linenumber").cast(LongType).as("ln"),
            col("l_partkey").as("pk"))
        t(s, dir, "orders").filter(col("o_orderkey") % 101 === 0)
          .select(col("o_orderkey"))
          .join(items, col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderkey")
          .agg(count(lit(1)).as("n_items"),
            to_json(array_sort(collect_list(struct(col("ln"), col("pk")))))
              .as("items_json"))
          .orderBy("o_orderkey")
      },
      Some("""
        SELECT o.o_orderkey, CAST(count(*) AS BIGINT) AS n_items,
               to_json(list(json_object('ln', l.l_linenumber,
                                        'pk', l.l_partkey)
                 ORDER BY l.l_linenumber, l.l_partkey)) AS items_json
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey % 101 = 0
        GROUP BY 1 ORDER BY 1""")),

    // ---- behavioral entropy (q155) --------------------------------------
    // The diversity feature behind bot/spam screens: Shannon entropy
    // of each user's event-type distribution, in integer micro-nats
    // (each ln of an exact count ratio snapped to 1e-6 and the dot
    // product pure integer arithmetic — the q64 discipline, so the
    // number is bit-identical across engines). One (user, type) count
    // aggregate + one user rollup; a single-behavior user scores 0.
    QueryDef("q155_user_entropy",
      (s, dir) => {
        val ev = eventsMs(s, dir)
        val byType = ev.groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("n_t"))
        val totals = byType.groupBy("user_id").agg(sum(col("n_t")).as("n"))
        byType.join(totals, "user_id")
          .select(col("user_id"), col("n"),
            (col("n_t") * round(log(col("n_t").cast("double") /
              col("n").cast("double")) * lit(1e6)).cast("long")).as("term"))
          .groupBy("user_id")
          .agg(first(col("n")).as("n_events"), sum(col("term")).as("__s"))
          // `div`, not `/`: Spark's slash is DOUBLE division, whose
          // truncated quotient can disagree with DuckDB's exact
          // integer `//` at representation margins. Both quotients are
          // positive, so div (truncate) == // (floor).
          .select(col("user_id"), col("n_events"),
            expr("(-__s) div n_events").as("entropy_micro"))
          .orderBy("user_id")
      },
      Some("""
        WITH bt AS (SELECT user_id, event_type,
                           CAST(count(*) AS BIGINT) AS n_t
                    FROM events GROUP BY 1, 2),
        tot AS (SELECT user_id, CAST(SUM(n_t) AS BIGINT) AS n
                FROM bt GROUP BY 1)
        SELECT bt.user_id, tot.n AS n_events,
               CAST(-SUM(bt.n_t *
                 CAST(round(ln(CAST(bt.n_t AS DOUBLE)/CAST(tot.n AS DOUBLE))
                   * 1000000) AS BIGINT)) // tot.n AS BIGINT) AS entropy_micro
        FROM bt JOIN tot USING (user_id)
        GROUP BY 1, 2 ORDER BY 1""")),

    // ---- time-decayed aggregates (q156) ---------------------------------
    // The recency-weighted feature every feature store serves: per
    // user, count and value-sum with exponential decay
    // exp(-(T - t)/τ), τ = 7 days, T = the corpus max event time (a
    // 1-row broadcast — deterministic, no wall clock in the plan).
    // Portability: each weight is one fixed double expression snapped
    // to the 1e-9 grid, the weighted sums accumulate in decimal
    // (exact, shuffle-order-free), and the final values round once.
    QueryDef("q156_decayed_aggregates",
      (s, dir) => {
        val D = DecimalType(38, 18)
        val ev = eventsMs(s, dir)
        val tmax = ev.agg(max(col("ms")).as("t_max"))
        ev.crossJoin(broadcast(tmax))
          .withColumn("w", round(
            exp((col("ms") - col("t_max")).cast(DoubleType) /
              lit(604800000.0)), 9))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("w").cast(D)).cast(DoubleType), 6)
              .as("decayed_count"),
            round(sum((col("w") * col("value")).cast(D)).cast(DoubleType), 6)
              .as("decayed_value"))
          .filter(col("user_id") % 7 === 0)
          .orderBy("user_id")
      },
      Some("""
        WITH ev AS (SELECT user_id, value, epoch_ms(ts) AS ms FROM events),
        tm AS (SELECT max(ms) AS t_max FROM ev),
        w AS (SELECT user_id, value,
                     round(exp(CAST(ms - tm.t_max AS DOUBLE) / 604800000.0), 9)
                       AS w
              FROM ev, tm)
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
               round(CAST(SUM(CAST(w AS DECIMAL(38,18))) AS DOUBLE), 6)
                 AS decayed_count,
               round(CAST(SUM(CAST(w * value AS DECIMAL(38,18))) AS DOUBLE), 6)
                 AS decayed_value
        FROM w
        WHERE user_id % 7 = 0
        GROUP BY 1 ORDER BY 1""")),

    // ---- data-quality validation report (q152) --------------------------
    // The dbt-tier guardrail run after every load: pk uniqueness,
    // nulls, accepted values, referential integrity, ranges — each one
    // scan + one aggregate, violations COUNTED never collected. One
    // check is deliberately made to FAIL (orders referencing a
    // customer dimension truncated in-plan), so the gate exercises the
    // violation-counting path, not just the all-green one.
    QueryDef("q152_dq_report",
      (s, dir) => {
        import graft.operators.Validate
        val li = t(s, dir, "lineitem")
        val ord = t(s, dir, "orders")
        val truncatedDim = t(s, dir, "customer")
          .filter(col("c_custkey") % 10 =!= 0)
        Validate.report(Seq(
          Validate.uniqueKey(li, Seq("l_orderkey", "l_linenumber"),
            "unique_key(lineitem)"),
          Validate.uniqueKey(ord, Seq("o_orderkey"), "unique_key(orders)"),
          Validate.notNull(ord, "o_orderstatus"),
          Validate.acceptedValues(li, "l_returnflag", Seq("A", "N", "R")),
          Validate.referentialIntegrity(li, "l_orderkey", ord, "o_orderkey"),
          Validate.referentialIntegrity(ord, "o_custkey",
            truncatedDim, "c_custkey"),
          Validate.inRange(li, "l_quantity", 1, 50)))
      },
      Some("""
        SELECT * FROM (
          SELECT 'unique_key(lineitem)' AS check_name,
                 CAST(count(*) AS BIGINT) AS n_checked,
                 CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))
                   AS BIGINT) AS n_violations,
                 count(*) = count(DISTINCT (l_orderkey, l_linenumber)) AS pass
          FROM lineitem
          UNION ALL
          SELECT 'unique_key(orders)', CAST(count(*) AS BIGINT),
                 CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
                 count(*) = count(DISTINCT o_orderkey)
          FROM orders
          UNION ALL
          SELECT 'not_null(o_orderstatus)', CAST(count(*) AS BIGINT),
                 CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT),
                 SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) = 0
          FROM orders
          UNION ALL
          SELECT 'accepted_values(l_returnflag)', CAST(count(*) AS BIGINT),
                 CAST(SUM(CASE WHEN l_returnflag IN ('A','N','R')
                               THEN 0 ELSE 1 END) AS BIGINT),
                 SUM(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) = 0
          FROM lineitem
          UNION ALL
          SELECT 'ref_integrity(l_orderkey)', CAST(count(*) AS BIGINT),
                 CAST(SUM(CASE WHEN l.l_orderkey IS NOT NULL
                               AND o.o_orderkey IS NULL
                          THEN 1 ELSE 0 END) AS BIGINT),
                 SUM(CASE WHEN l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL
                          THEN 1 ELSE 0 END) = 0
          FROM lineitem l
          LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
            ON o.o_orderkey = l.l_orderkey
          UNION ALL
          SELECT 'ref_integrity(o_custkey)', CAST(count(*) AS BIGINT),
                 CAST(SUM(CASE WHEN ord.o_custkey IS NOT NULL
                               AND c.c_custkey IS NULL
                          THEN 1 ELSE 0 END) AS BIGINT),
                 SUM(CASE WHEN ord.o_custkey IS NOT NULL AND c.c_custkey IS NULL
                          THEN 1 ELSE 0 END) = 0
          FROM orders ord
          LEFT JOIN (SELECT DISTINCT c_custkey FROM customer
                     WHERE c_custkey % 10 <> 0) c
            ON c.c_custkey = ord.o_custkey
          UNION ALL
          SELECT 'in_range(l_quantity)', CAST(count(*) AS BIGINT),
                 CAST(SUM(CASE WHEN l_quantity IS NOT NULL
                               AND l_quantity BETWEEN 1 AND 50
                          THEN 0 ELSE 1 END) AS BIGINT),
                 SUM(CASE WHEN l_quantity IS NOT NULL
                               AND l_quantity BETWEEN 1 AND 50
                          THEN 0 ELSE 1 END) = 0
          FROM lineitem)
        ORDER BY check_name""")))
}
