package graft.gates

import graft.operators.Analytics

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import GateSupport._
import OracleCtes._

/** Relational gates: TPC-H-style aggregates and joins, grouping sets,
  * windows, subqueries, as-of/range joins and physical-layout shapes. */
object RelationalGates {
  private val family = "relational"

  val gates: Seq[GateQuery] = Seq(
    /** A-priori frequent-pair mining over the order/part relation: which
      * parts are co-ordered, with support / confidence / lift in exact
      * integer ppm. The frequent-item semi-join before the per-order
      * self-join is the plan (see [[Analytics.basketRules]]). */
    GateQuery("q_basket_rules", family,
      build = (s, dir) =>
        Analytics.basketRules(t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
            minItemSupport = 20L, minPairSupport = 2L)
          .orderBy(col("n_ab").desc, col("item_a").asc, col("item_b").asc),
      // same transition counts, then 8 unrolled integer power iterations:
      // a-priori pair mining replica: same frequent-item semi-join, same
      // mega-basket width cap, same truncating-ppm metrics (lift derived
      // from the already-truncated confidence — see Analytics.basketRules)
      oracleSql = """
      WITH bk AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
                  FROM lineitem),
      itn AS MATERIALIZED (SELECT it, count(*)::BIGINT AS n_item
                           FROM bk GROUP BY 1),
      fq AS (SELECT it, n_item FROM itn WHERE n_item >= 20),
      nb AS (SELECT count(DISTINCT bk)::BIGINT AS n_baskets FROM bk),
      fb AS MATERIALIZED (
        SELECT bk, it, n_item FROM (
          SELECT b.bk, b.it, f.n_item,
                 count(*) OVER (PARTITION BY b.bk) AS w
          FROM bk b JOIN fq f ON b.it = f.it)
        WHERE w <= 64),
      pr AS (SELECT a.it AS item_a, b.it AS item_b,
                    any_value(a.n_item)::BIGINT AS n_a,
                    any_value(b.n_item)::BIGINT AS n_b,
                    count(*)::BIGINT AS n_ab
             FROM fb a JOIN fb b ON a.bk = b.bk AND a.it < b.it
             GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT item_a, item_b, n_a, n_b, n_ab,
             (n_ab * 1000000 // n_baskets)::BIGINT AS support_ppm,
             (n_ab * 1000000 // n_a)::BIGINT AS conf_ab_ppm,
             (n_ab * 1000000 // n_b)::BIGINT AS conf_ba_ppm,
             ((n_ab * 1000000 // n_a) * n_baskets // n_b)::BIGINT AS lift_ppm
      FROM pr CROSS JOIN nb
      ORDER BY n_ab DESC, item_a, item_b LIMIT 100"""),
    /** Value-based (RANGE) window frames — the frame type `q_window_suite`'s
      * row-based functions don't touch: trailing-30-minute event count and
      * exact-cents spend per user. RANGE frames are tie-insensitive (every
      * row with ts inside the bound joins the frame), so duplicates order-
      * independently — no tie-break column needed. */
    GateQuery("q_window_range", family,
      build = (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts_ms"))
          .rangeBetween(-1800000L, 0L)
        events(s, dir).select(col("user_id"), col("event_id"), col("ts_ms"),
            count(lit(1)).over(w).as("n_trailing_30m"),
            sum(cents(col("value"))).over(w).as("cents_trailing_30m"))
          .orderBy("event_id")
      },
      // value-based RANGE frame: trailing 30-minute activity per user
      oracleSql = """
      SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
             (count(*) OVER w)::BIGINT AS n_trailing_30m,
             (sum((value::DECIMAL(18,2) * 100)::BIGINT) OVER w)::BIGINT
               AS cents_trailing_30m
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                   RANGE BETWEEN 1800000 PRECEDING AND CURRENT ROW)
      ORDER BY event_id"""),
    /** Fact-to-dim join under key skew via salt replication
      * ([[graft.operators.Analytics.saltedJoin]]): events scatter across 8
      * salt copies of the customer dim, pinned to a shuffled-hash join (the
      * manual skew shape for dims too big to broadcast); the aggregate is
      * identical to the plain join, which is exactly what the oracle runs. */
    GateQuery("q_skew_salted_join", family,
      build = (s, dir) => {
        val ev = events(s, dir)
        val dim = t(s, dir, "customer").select(col("c_custkey").as("user_id"),
          col("c_mktsegment"))
        Analytics.saltedJoin(ev, dim, "user_id", nSalts = 8,
            saltSrc = col("event_id"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_events"),
               countDistinct(col("user_id")).as("n_users"),
               sum(when(col("event_type") === "purchase", cents(col("value")))
                 .otherwise(lit(0L))).as("purchase_cents"))
          .orderBy("c_mktsegment")
      },
      // the salted join is result-identical to the plain join — the oracle
      // runs the unsalted form, so the gate proves salting changes only the
      // partitioning, never the answer
      oracleSql = """
      SELECT c.c_mktsegment, count(*)::BIGINT AS n_events,
             count(DISTINCT e.user_id)::BIGINT AS n_users,
             sum(CASE WHEN e.event_type = 'purchase'
                      THEN (e.value::DECIMAL(18,2) * 100)::BIGINT
                      ELSE 0 END)::BIGINT AS purchase_cents
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1 ORDER BY 1"""),
    GateQuery("q1_agg", family,
      build = (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum(cents(col("l_quantity"))).as("sum_qty_c"),
            sum(cents(col("l_extendedprice"))).as("sum_base_price_c"),
            sum(revenueTm(col("l_extendedprice"), col("l_discount"))).as("sum_disc_price_tm"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus"),
      oracleSql = """
      SELECT l_returnflag, l_linestatus,
             sum((l_quantity::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_qty_c,
             sum((l_extendedprice::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_base_price_c,
             sum((l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)) * 10000)::BIGINT)::BIGINT AS sum_disc_price_tm,
             count(*)::BIGINT AS count_order
      FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus"""),
    GateQuery("q3_topk", family,
      build = (s, dir) => {
        val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
        val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy(col("l_orderkey"),
                   date_format(o("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
          .agg(sum(revenueTm(col("l_extendedprice"), col("l_discount"))).as("revenue_tm"))
          .orderBy(col("revenue_tm").desc, col("l_orderkey").asc)
          .limit(10)
      },
      oracleSql = """
      SELECT l_orderkey, strftime(o_orderdate::DATE, '%Y-%m-%d') AS o_orderdate,
             sum((l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)) * 10000)::BIGINT)::BIGINT AS revenue_tm
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY 1, 2 ORDER BY revenue_tm DESC, l_orderkey ASC LIMIT 10"""),
    GateQuery("q5_join", family,
      build = (s, dir) => {
        val r = t(s, dir, "region").where(col("r_name") === "ASIA")
        val n = t(s, dir, "nation")
        val c = t(s, dir, "customer")
        val su = t(s, dir, "supplier")
        val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(su, l("l_suppkey") === su("s_suppkey"))
          .join(c, o("o_custkey") === c("c_custkey") &&
                   c("c_nationkey") === su("s_nationkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(sum(revenueTm(col("l_extendedprice"), col("l_discount"))).as("revenue_tm"))
          .orderBy("n_name")
      },
      oracleSql = """
      SELECT n_name,
             sum((l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)) * 10000)::BIGINT)::BIGINT AS revenue_tm
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name ORDER BY n_name"""),
    GateQuery("q_window_rank", family,
      build = (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        t(s, dir, "orders")
          .withColumn("rk", row_number().over(w))
          .where(col("rk") <= 2)
          .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey", "rk")
      },
      oracleSql = """
      WITH r AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        FROM orders)
      SELECT o_custkey, rk::INT AS rk, o_orderkey, o_totalprice FROM r
      WHERE rk <= 2 ORDER BY o_custkey, rk"""),
    GateQuery("q_setops", family,
      build = (s, dir) => {
        val c = t(s, dir, "customer")
        val building = c.where(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val rich = c.where(col("c_acctbal") > 5000).select("c_custkey")
        val inter = building.intersect(rich).select(lit("intersect").as("op"), col("c_custkey"))
        val exc = building.except(rich).select(lit("except").as("op"), col("c_custkey"))
        inter.unionByName(exc).orderBy("op", "c_custkey")
      },
      oracleSql = """
      WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
           rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      SELECT 'intersect' AS op, c_custkey FROM (SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM rich)
      UNION ALL
      SELECT 'except' AS op, c_custkey FROM (SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM rich)
      ORDER BY op, c_custkey"""),
    GateQuery("q_sort_limit", family,
      build = (s, dir) =>
        t(s, dir, "orders")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .select("o_orderkey", "o_totalprice")
          .limit(100),
      oracleSql = """
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100"""),
    GateQuery("q_semi_anti", family,
      build = (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .agg(count(lit(1)).as("n")).select(lit("with_orders").as("kind"), col("n"))
        val withoutOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .agg(count(lit(1)).as("n")).select(lit("without_orders").as("kind"), col("n"))
        withOrders.unionByName(withoutOrders).orderBy("kind")
      },
      oracleSql = """
      SELECT 'with_orders' AS kind, count(*)::BIGINT AS n FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      UNION ALL
      SELECT 'without_orders' AS kind, count(*)::BIGINT AS n FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY kind"""),
    GateQuery("q_distinct_agg", family,
      build = (s, dir) => {
        val su = t(s, dir, "supplier")
        val n = t(s, dir, "nation")
        su.join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
          .groupBy("n_name")
          .agg(countDistinct(col("s_suppkey")).as("n_suppliers"),
               count(lit(1)).as("n_rows"))
          .orderBy("n_name")
      },
      oracleSql = """
      SELECT n_name, count(DISTINCT s_suppkey)::BIGINT AS n_suppliers,
             count(*)::BIGINT AS n_rows
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name"""),
    /** As-of (point-in-time) join: each event annotated with the user's most
      * recent purchase value at or before the event — Spark has no built-in
      * ASOF JOIN; see `Relational.asofJoin` for the single-shuffle shape. */
    GateQuery("q_asof_join", family,
      build = (s, dir) => {
        val ev = events(s, dir)
        val probe = ev.select("event_id", "user_id", "ts_ms")
        val changelog = ev.where(col("event_type") === "purchase")
          .groupBy("user_id", "ts_ms")
          .agg(max("value").as("last_purchase_value"))
        graft.operators.Relational.asofJoin(probe, changelog, "user_id", "ts_ms",
            Seq("last_purchase_value"))
          .orderBy("event_id")
      },
      oracleSql = """
      WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
      c AS (SELECT user_id, epoch_ms(ts) AS ts_ms, max(value) AS last_purchase_value
            FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      SELECT p.event_id, p.user_id, p.ts_ms, c.last_purchase_value
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.ts_ms >= c.ts_ms
      ORDER BY event_id"""),
    /** Forward as-of: the NEXT purchase value at-or-after each event (the
      * mirror of `q_asof_join`; same single-shuffle carry, reversed frame). */
    GateQuery("q_asof_join_fwd", family,
      build = (s, dir) => {
        val ev = events(s, dir)
        val probe = ev.select("event_id", "user_id", "ts_ms")
        val changelog = ev.where(col("event_type") === "purchase")
          .groupBy("user_id", "ts_ms")
          .agg(max("value").as("next_purchase_value"))
        graft.operators.Relational.asofJoin(probe, changelog, "user_id", "ts_ms",
            Seq("next_purchase_value"), direction = "forward")
          .orderBy("event_id")
      },
      oracleSql = """
      WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
      c AS (SELECT user_id, epoch_ms(ts) AS ts_ms, max(value) AS next_purchase_value
            FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      SELECT p.event_id, p.user_id, p.ts_ms, c.next_purchase_value
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.ts_ms <= c.ts_ms
      ORDER BY event_id"""),
    /** Nearest as-of: the closest purchase in EITHER direction (ties →
      * backward, the standard preference) — composed from the backward and
      * forward single-shuffle as-of passes with the matched timestamps
      * carried as value columns; the pick is a row-local CASE. Two key
      * shuffles total, no per-key cross product. */
    GateQuery("q_asof_join_nearest", family,
      build = (s, dir) => {
        val ev = events(s, dir)
        val probe = ev.select("event_id", "user_id", "ts_ms")
        val cl = ev.where(col("event_type") === "purchase")
          .groupBy("user_id", "ts_ms")
          .agg(max(cents(col("value"))).as("pv"))
        val clB = cl.select(col("user_id"), col("ts_ms"),
          col("pv").as("pv_b"), col("ts_ms").as("ts_b"))
        val clF = cl.select(col("user_id"), col("ts_ms"),
          col("pv").as("pv_f"), col("ts_ms").as("ts_f"))
        val back = graft.operators.Relational.asofJoin(probe, clB,
          "user_id", "ts_ms", Seq("pv_b", "ts_b"))
        val both = graft.operators.Relational.asofJoin(back, clF,
          "user_id", "ts_ms", Seq("pv_f", "ts_f"), direction = "forward")
        both.select(col("event_id"), col("user_id"), col("ts_ms"),
            when(col("ts_b").isNull && col("ts_f").isNull, lit(null))
              .when(col("ts_f").isNull, col("pv_b"))
              .when(col("ts_b").isNull, col("pv_f"))
              .when(col("ts_ms") - col("ts_b") <= col("ts_f") - col("ts_ms"),
                    col("pv_b"))
              .otherwise(col("pv_f")).as("nearest_value_c"),
            when(col("ts_b").isNull && col("ts_f").isNull, lit(null))
              .when(col("ts_f").isNull, col("ts_ms") - col("ts_b"))
              .when(col("ts_b").isNull, col("ts_f") - col("ts_ms"))
              .otherwise(least(col("ts_ms") - col("ts_b"),
                               col("ts_f") - col("ts_ms"))).as("dist_ms"))
          .orderBy("event_id")
      },
      // both ASOF directions + a row-local nearest pick (ties -> backward)
      oracleSql = """
      WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
      c AS (SELECT user_id, epoch_ms(ts) AS ts_ms,
                   max((value::DECIMAL(18,2) * 100)::BIGINT) AS pv
            FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      b AS (SELECT p.event_id, p.user_id, p.ts_ms,
                   c.pv AS pv_b, c.ts_ms AS ts_b
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.ts_ms >= c.ts_ms),
      f AS (SELECT p.event_id, c.pv AS pv_f, c.ts_ms AS ts_f
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.ts_ms <= c.ts_ms)
      SELECT b.event_id, b.user_id, b.ts_ms,
             CASE WHEN ts_b IS NULL AND ts_f IS NULL THEN NULL
                  WHEN ts_f IS NULL THEN pv_b
                  WHEN ts_b IS NULL THEN pv_f
                  WHEN b.ts_ms - ts_b <= ts_f - b.ts_ms THEN pv_b
                  ELSE pv_f END AS nearest_value_c,
             CASE WHEN ts_b IS NULL AND ts_f IS NULL THEN NULL
                  WHEN ts_f IS NULL THEN b.ts_ms - ts_b
                  WHEN ts_b IS NULL THEN ts_f - b.ts_ms
                  ELSE least(b.ts_ms - ts_b, ts_f - b.ts_ms) END AS dist_ms
      FROM b JOIN f USING (event_id)
      ORDER BY event_id"""),
    /** Tolerance as-of: the most recent purchase at or before each event,
      * but only when fresher than 1 hour (pandas merge_asof(tolerance=)
      * semantics — stale state is no state for feature joins). Same single
      * key shuffle as `q_asof_join`; the tolerance is a row-local
      * projection over the carried match timestamp
      * ([[graft.operators.Relational.asofJoinTolerance]]). */
    GateQuery("q_asof_join_tolerance", family,
      build = (s, dir) => {
        val ev = events(s, dir)
        val probe = ev.select("event_id", "user_id", "ts_ms")
        val changelog = ev.where(col("event_type") === "purchase")
          .groupBy("user_id", "ts_ms")
          .agg(max(cents(col("value"))).as("last_purchase_value_c"))
        graft.operators.Relational.asofJoinTolerance(probe, changelog,
            "user_id", "ts_ms", Seq("last_purchase_value_c"),
            tolerance = 3600L * 1000L)
          .orderBy("event_id")
      },
      oracleSql = """
      WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
      c AS (SELECT user_id, epoch_ms(ts) AS ts_ms,
                   max((value::DECIMAL(18,2) * 100)::BIGINT) AS pv
            FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      b AS (SELECT p.event_id, p.user_id, p.ts_ms,
                   c.pv, c.ts_ms AS mts
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.ts_ms >= c.ts_ms)
      SELECT event_id, user_id, ts_ms,
             CASE WHEN mts IS NOT NULL AND ts_ms - mts <= 3600000
                  THEN pv END AS last_purchase_value_c,
             CASE WHEN mts IS NOT NULL AND ts_ms - mts <= 3600000
                  THEN mts END AS match_ts
      FROM b ORDER BY event_id"""),
    /** Range (interval) join via time binning: events inside the 10-minute
      * window opened by each 'view' event of the same user. The raw non-equi
      * join would plan a nested loop; binning makes it an equi-join. */
    GateQuery("q_range_join", family,
      build = (s, dir) => {
        val ev = events(s, dir)
        val probe = ev.select(col("event_id"), col("user_id"), col("ts_ms"))
        val iv = ev.where(col("event_type") === "view")
          .select(col("event_id").as("iv_id"), col("user_id"),
                  col("ts_ms").as("start_ms"),
                  (col("ts_ms") + 600000L).as("end_ms"))
        graft.operators.Relational.rangeJoinBinned(probe, "ts_ms", iv,
            "start_ms", "end_ms", keyCol = Some("user_id"), binWidth = 600000L)
          .select(col("event_id"), col("iv_id"))
          .orderBy("event_id", "iv_id")
      },
      oracleSql = """
      WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
      iv AS (SELECT event_id AS iv_id, user_id, epoch_ms(ts) AS start_ms,
                    epoch_ms(ts) + 600000 AS end_ms
             FROM events WHERE event_type = 'view')
      SELECT p.event_id, iv.iv_id
      FROM p JOIN iv ON p.user_id = iv.user_id
        AND p.ts_ms >= iv.start_ms AND p.ts_ms < iv.end_ms
      ORDER BY event_id, iv_id"""),
    /** Co-located join over bucket-materialized tables: both fact tables are
      * written once as bucketed+sorted parquet (the ingest-time shuffle),
      * then the join plans with ZERO exchanges — the 100 TB pattern for
      * repeated joins on a distribution key. The merge hint keeps the demo
      * honest at gate scale (a broadcast would hide the bucketing); the
      * plan shape (no Exchange, bucketed scans) is pinned in PlanSpec. */
    GateQuery("q_bucketed_join", family,
      build = (s, dir) => {
        import graft.operators.Relational.bucketMaterialize
        // table/path names carry the source-dir tag: concurrent gate runs at
        // different SFs must not clobber each other's materialized layouts
        val tag = layoutTag(dir)
        val l = bucketMaterialize(
          t(s, dir, "lineitem").select(col("l_orderkey"),
            col("l_quantity").cast("long").as("qty")),
          s"graft_b_lineitem_$tag", "l_orderkey", 8,
          s"${graft.util.Scratch.base}/graft_bucketed_$tag/lineitem")
        val o = bucketMaterialize(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
          s"graft_b_orders_$tag", "o_orderkey", 8,
          s"${graft.util.Scratch.base}/graft_bucketed_$tag/orders")
        l.hint("merge").join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(sum("qty").as("sum_qty"), count(lit(1)).as("n_items"))
          .orderBy("o_orderpriority")
      },
      oracleSql = """
      SELECT o_orderpriority, sum(l_quantity::BIGINT)::BIGINT AS sum_qty,
             count(*)::BIGINT AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1"""),
    /** ROLLUP grouping sets: per (flag, status), per flag, and grand total in
      * ONE aggregation pass — Catalyst plans grouping sets as a single Expand
      * (+3× rows) feeding one partial+final aggregate, not three scans. NULL
      * group markers are coalesced to 'ALL' and disambiguated by
      * `grouping_id()` so the output carries no NULL sort-order hazard
      * (Spark sorts NULLS FIRST, DuckDB NULLS LAST). */
    GateQuery("q_rollup", family,
      build = flagStatusTotals(_.rollup(_: _*)),
      oracleSql = """
      SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag_g,
             coalesce(l_linestatus, 'ALL') AS l_linestatus_g,
             GROUPING_ID(l_returnflag, l_linestatus)::BIGINT AS gid,
             sum((l_quantity::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_qty_c,
             count(*)::BIGINT AS n
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY gid, l_returnflag_g, l_linestatus_g"""),
    /** Full CUBE over the same keys as `q_rollup` — all four grouping sets,
      * completing the grouping-sets surface (rollup covers the prefix
      * chain only). Same single-pass partial-aggregate expansion. */
    GateQuery("q_cube", family,
      build = flagStatusTotals(_.cube(_: _*)),
      oracleSql = """
      SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag_g,
             coalesce(l_linestatus, 'ALL') AS l_linestatus_g,
             GROUPING_ID(l_returnflag, l_linestatus)::BIGINT AS gid,
             sum((l_quantity::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_qty_c,
             count(*)::BIGINT AS n
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY gid, l_returnflag_g, l_linestatus_g"""),
    /** EXPLICIT grouping sets — the arbitrary-subset form rollup/cube can't
      * express: here {(flag, status), (flag), (status)} but NOT the grand
      * total, i.e. two independent one-key rollups sharing one Expand +
      * one aggregate pass. */
    GateQuery("q_grouping_sets", family,
      build = (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("graft_gs_lineitem")
        s.sql("""
      SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag_g,
             coalesce(l_linestatus, 'ALL') AS l_linestatus_g,
             CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid,
             CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS sum_qty_c,
             count(*) AS n
      FROM graft_gs_lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                              (l_returnflag), (l_linestatus))
      ORDER BY gid, l_returnflag_g, l_linestatus_g""")
      },
      oracleSql = """
      SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag_g,
             coalesce(l_linestatus, 'ALL') AS l_linestatus_g,
             GROUPING_ID(l_returnflag, l_linestatus)::BIGINT AS gid,
             sum((l_quantity::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_qty_c,
             count(*)::BIGINT AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                              (l_returnflag), (l_linestatus))
      ORDER BY gid, l_returnflag_g, l_linestatus_g"""),
    /** UNPIVOT — the wide→long inverse of `q_pivot`: a per-status wide
      * aggregate (one summed column per return flag) melted back to
      * (status, flag, value) rows. Null cells are coalesced to 0 BEFORE
      * the melt: Spark's unpivot keeps null value rows while DuckDB's
      * UNPIVOT drops them, so the contract is pinned by never producing
      * one. */
    GateQuery("q_unpivot", family,
      build = (s, dir) => {
        val li = t(s, dir, "lineitem")
        def qty(flag: String) = coalesce(
          sum(when(col("l_returnflag") === flag, cents(col("l_quantity")))),
          lit(0L))
        val wide = li.groupBy("l_linestatus")
          .agg(qty("A").as("qty_a"), qty("N").as("qty_n"), qty("R").as("qty_r"))
        wide.unpivot(Array(col("l_linestatus")),
            Array(col("qty_a"), col("qty_n"), col("qty_r")),
            "flag", "sum_qty_c")
          .orderBy("l_linestatus", "flag")
      },
      oracleSql = """
      WITH wide AS (
        SELECT l_linestatus,
               coalesce(sum(CASE WHEN l_returnflag = 'A'
                 THEN (l_quantity::DECIMAL(18,2) * 100)::BIGINT END), 0)::BIGINT AS qty_a,
               coalesce(sum(CASE WHEN l_returnflag = 'N'
                 THEN (l_quantity::DECIMAL(18,2) * 100)::BIGINT END), 0)::BIGINT AS qty_n,
               coalesce(sum(CASE WHEN l_returnflag = 'R'
                 THEN (l_quantity::DECIMAL(18,2) * 100)::BIGINT END), 0)::BIGINT AS qty_r
        FROM lineitem GROUP BY 1)
      SELECT l_linestatus, flag, sum_qty_c
      FROM wide UNPIVOT (sum_qty_c FOR flag IN (qty_a, qty_n, qty_r))
      ORDER BY l_linestatus, flag"""),
    /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
      * MATCH each other, the semantics a plain equi-join silently drops.
      * Both sides derive a nullable key (status 'P' → NULL), so the
      * NULL↔NULL match population is real; Spark still plans this as a
      * hash join (null-safe equality is hashable), not a nested loop. */
    GateQuery("q_join_null_safe", family,
      build = (s, dir) => {
        // price filter keeps the per-key pair fan-out bounded at bench scale
        val o = t(s, dir, "orders").where(col("o_totalprice") > 450000)
        def k(c: Column): Column = when(col("o_orderstatus") === "P", lit(null)
          .cast("string")).otherwise(c)
        val a = o.select(k(col("o_orderpriority")).as("ka"),
                         col("o_orderkey").as("key_a"))
        val b = o.select(k(col("o_orderpriority")).as("kb"),
                         col("o_orderkey").as("key_b"))
        a.join(b, col("ka") <=> col("kb"))
          .groupBy(coalesce(col("ka"), lit("NULLKEY")).as("k"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("k")
      },
      oracleSql = """
      WITH o AS (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
                             ELSE o_orderpriority END AS k, o_orderkey
                 FROM orders WHERE o_totalprice > 450000)
      SELECT coalesce(a.k, 'NULLKEY') AS k, count(*)::BIGINT AS n_pairs
      FROM o a JOIN o b ON a.k IS NOT DISTINCT FROM b.k
      GROUP BY 1 ORDER BY k"""),
    /** FULL OUTER equi-join with real unmatched rows on BOTH sides:
      * high-value customers vs urgent orders — each side keeps its
      * non-matching population NULL-padded. */
    GateQuery("q_full_outer", family,
      build = (s, dir) => {
        val c = t(s, dir, "customer").where(col("c_acctbal") > 9000)
          .select(col("c_custkey"), col("c_mktsegment"))
        val o = t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_urgent"))
        c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
          .select(
            when(col("c_custkey").isNull, lit("order_only"))
              .when(col("o_custkey").isNull, lit("customer_only"))
              .otherwise(lit("both")).as("side"),
            coalesce(col("c_custkey"), col("o_custkey")).as("key"),
            col("c_mktsegment"), col("n_urgent"))
          .orderBy("side", "key")
      },
      oracleSql = """
      WITH c AS (SELECT c_custkey, c_mktsegment FROM customer
                 WHERE c_acctbal > 9000),
      o AS (SELECT o_custkey, count(*)::BIGINT AS n_urgent FROM orders
            WHERE o_orderpriority = '1-URGENT' GROUP BY 1)
      SELECT CASE WHEN c_custkey IS NULL THEN 'order_only'
                  WHEN o_custkey IS NULL THEN 'customer_only'
                  ELSE 'both' END AS side,
             coalesce(c_custkey, o_custkey)::BIGINT AS key,
             c_mktsegment, n_urgent
      FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
      ORDER BY side, key"""),
    /** Dynamic partition pruning: the fact side is PARTITIONED on the join
      * key and the selective filter lives on the DIM side only — at plan
      * time no static partition filter exists, so the fact scan must be
      * pruned at RUNTIME from the dim side's broadcast (Spark inserts a
      * `dynamicpruning` subquery on the partition column; PlanSpec pins
      * it). This is the star-schema scan-elimination pattern: at 100 TB
      * the fact table only reads the partitions the dimension selects. */
    GateQuery("q_dynamic_pruning", family,
      build = (s, dir) => {
        val tag = layoutTag(dir)
        val ev = graft.operators.Relational.partitionMaterialize(
          t(s, dir, "events").select(col("event_id"), col("user_id"),
            cents(col("value")).as("value_c"), col("event_type")),
          s"graft_dpp_events_$tag", "event_type",
          s"${graft.util.Scratch.base}/graft_partitioned_$tag/events_dpp")
        // tiny dim DERIVED FROM A SCAN (a local Seq would constant-fold its
        // filter into the LocalRelation and DPP sees no selective predicate):
        // distinct event types with a derived billing flag, filtered by a
        // string equality (isLikelySelective accepts EqualTo, not a bare
        // boolean attribute).
        val dim = t(s, dir, "events").select(col("event_type").as("et")).distinct()
          .withColumn("billable",
            when(col("et").isin("purchase", "click"), "Y").otherwise("N"))
        ev.join(broadcast(dim), ev("event_type") === dim("et"))
          .where(col("billable") === "Y")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_value_c"))
          .orderBy("event_type")
      },
      oracleSql = """
      SELECT event_type, count(*)::BIGINT AS n,
             sum((value::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_value_c
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY 1 ORDER BY event_type"""),
    /** Min-per-group join-back (the TPC-H Q2 correlated-subquery core,
      * decorrelated): each order paired with its cheapest lineitem. The
      * rank-1 window prunes map-side (partial WindowGroupLimit) — never a
      * self-join of the fact table against a grouped-min subquery, which
      * would scan it twice. Ties break on linenumber for determinism. */
    GateQuery("q_cheapest_lineitem", family,
      build = (s, dir) => {
        val w = Window.partitionBy("l_orderkey")
          .orderBy(col("l_extendedprice").asc, col("l_linenumber").asc)
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("l_orderkey"), col("l_linenumber"),
                  cents(col("l_extendedprice")).as("price_c"))
          .orderBy("l_orderkey")
      },
      // min-per-group join-back, decorrelated; ties on linenumber
      oracleSql = """
      WITH r AS (
        SELECT l_orderkey, l_linenumber,
               (l_extendedprice::DECIMAL(18,2) * 100)::BIGINT AS price_c,
               row_number() OVER (PARTITION BY l_orderkey
                 ORDER BY l_extendedprice ASC, l_linenumber ASC) AS rn
        FROM lineitem)
      SELECT l_orderkey, l_linenumber, price_c FROM r
      WHERE rn = 1 ORDER BY l_orderkey"""),
    /** Multiset (ALL) set ops — the bag semantics `q_setops`' distinct
      * variants don't cover; aggregated to per-key multiplicities so the
      * gate row count stays compact. */
    GateQuery("q_setops_all", family,
      build = (s, dir) => {
        val l = t(s, dir, "lineitem")
        val a = l.where(col("l_returnflag") === "R").select("l_orderkey")
        val b = l.where(col("l_linestatus") === "F").select("l_orderkey")
        val interAll = a.intersectAll(b)
          .select(lit("intersect_all").as("op"), col("l_orderkey"))
        val excAll = a.exceptAll(b)
          .select(lit("except_all").as("op"), col("l_orderkey"))
        interAll.unionByName(excAll)
          .groupBy("op", "l_orderkey").agg(count(lit(1)).as("n"))
          .orderBy("op", "l_orderkey")
      },
      oracleSql = """
      WITH a AS (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'),
           b AS (SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'),
      u AS (
        SELECT 'intersect_all' AS op, l_orderkey
        FROM (SELECT l_orderkey FROM a INTERSECT ALL SELECT l_orderkey FROM b)
        UNION ALL
        SELECT 'except_all' AS op, l_orderkey
        FROM (SELECT l_orderkey FROM a EXCEPT ALL SELECT l_orderkey FROM b))
      SELECT op, l_orderkey, count(*)::BIGINT AS n
      FROM u GROUP BY 1, 2 ORDER BY op, l_orderkey"""),
    /** Grouped exact quantiles over exact cents (percentile ≡ DuckDB
      * quantile_cont: same 1+(n-1)p linear interpolation — the equivalence
      * events_anomaly's medians already rest on). */
    GateQuery("q_quantiles", family,
      build = (s, dir) =>
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), cents(col("l_extendedprice")).as("price_c"))
          .groupBy("l_returnflag")
          // ONE percentile aggregate (array form) instead of three scalar
          // ones: each scalar `percentile` builds its own per-group value
          // counts map over every row; the array form accumulates once and
          // interpolates all three points from the same map — identical
          // values (same sort, same interpolation code path), one third the
          // aggregation state and CPU (guide §2.3 aggregate-before-shuffle)
          .agg(expr("percentile(price_c, array(0.5, 0.9, 0.99))").as("pcts"),
               count(lit(1)).as("n"))
          .select(col("l_returnflag"),
                  col("pcts").getItem(0).as("p50"),
                  col("pcts").getItem(1).as("p90"),
                  col("pcts").getItem(2).as("p99"),
                  col("n"))
          .orderBy("l_returnflag"),
      oracleSql = """
      WITH c AS (SELECT l_returnflag,
                        (l_extendedprice::DECIMAL(18,2) * 100)::BIGINT AS price_c
                 FROM lineitem)
      SELECT l_returnflag,
             quantile_cont(price_c, 0.5) AS p50,
             quantile_cont(price_c, 0.9) AS p90,
             quantile_cont(price_c, 0.99) AS p99,
             count(*)::BIGINT AS n
      FROM c GROUP BY 1 ORDER BY 1"""),
    /** MERGE INTO semantics without a table format: base ⟗ updates on the
      * key; matched rows take the update (action `updated`), unmatched
      * updates insert, unmatched base rows keep. One co-partitioned
      * full-outer join — the shape every upsert compaction job has; a real
      * lakehouse MERGE adds file-level pruning on top, the row semantics
      * are exactly this. */
    GateQuery("q_upsert", family,
      build = (s, dir) => {
        val o = t(s, dir, "orders")
        val base = o.where(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey"), cents(col("o_totalprice")).as("base_c"))
        val updates = o.where(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"),
                  (cents(col("o_totalprice")) + 100000L).as("upd_c"))
        base.join(updates, Seq("o_orderkey"), "full_outer")
          .select(col("o_orderkey"),
            coalesce(col("upd_c"), col("base_c")).as("price_c"),
            when(col("base_c").isNotNull && col("upd_c").isNotNull, "updated")
              .when(col("base_c").isNull, "inserted")
              .otherwise("kept").as("action"))
          .orderBy("o_orderkey")
      },
      oracleSql = """
      WITH base AS (
        SELECT o_orderkey, (o_totalprice::DECIMAL(18,2) * 100)::BIGINT AS base_c
        FROM orders WHERE o_orderkey % 3 <> 0),
      upd AS (
        SELECT o_orderkey,
               (o_totalprice::DECIMAL(18,2) * 100)::BIGINT + 100000 AS upd_c
        FROM orders WHERE o_orderkey % 2 = 0)
      SELECT coalesce(b.o_orderkey, u.o_orderkey) AS o_orderkey,
             coalesce(u.upd_c, b.base_c)::BIGINT AS price_c,
             CASE WHEN b.o_orderkey IS NOT NULL AND u.o_orderkey IS NOT NULL
                  THEN 'updated'
                  WHEN b.o_orderkey IS NULL THEN 'inserted'
                  ELSE 'kept' END AS action
      FROM base b FULL JOIN upd u ON b.o_orderkey = u.o_orderkey
      ORDER BY o_orderkey"""),
    /** SCD Type-2 dimension build from a changelog: each user's purchase
      * history becomes validity intervals — `valid_to` is the NEXT change's
      * timestamp (NULL = current row). One lead() pass on the user-key
      * shuffle; same-timestamp collisions pre-collapsed like the as-of
      * changelog. */
    GateQuery("q_scd2", family,
      build = (s, dir) => {
        val ch = events(s, dir).where(col("event_type") === "purchase")
          .groupBy("user_id", "ts_ms")
          .agg(max(cents(col("value"))).as("value_c"))
        val w = Window.partitionBy("user_id").orderBy("ts_ms")
        ch.select(col("user_id"), col("value_c"),
            col("ts_ms").as("valid_from"),
            lead(col("ts_ms"), 1).over(w).as("valid_to"))
          .orderBy("user_id", "valid_from")
      },
      oracleSql = """
      WITH ch AS (
        SELECT user_id, epoch_ms(ts) AS ts_ms,
               max((value::DECIMAL(18,2) * 100)::BIGINT) AS value_c
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      SELECT user_id, value_c, ts_ms AS valid_from,
             lead(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) AS valid_to
      FROM ch ORDER BY user_id, valid_from"""),
    /** Correlated EXISTS / NOT EXISTS with a non-equi correlated predicate
      * (`o_totalprice > c_acctbal`): Catalyst rewrites both to left-semi /
      * left-anti joins with mixed equi + residual conditions — one shuffle
      * per subquery on the correlation key, no per-row re-execution. */
    GateQuery("q_exists_subquery", family,
      build = (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("graft_sq_customer")
        t(s, dir, "orders").createOrReplaceTempView("graft_sq_orders")
        s.sql("""
      SELECT c_mktsegment, COUNT(*) AS n
      FROM graft_sq_customer c
      WHERE EXISTS (SELECT 1 FROM graft_sq_orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderstatus = 'O'
                      AND o.o_totalprice > c.c_acctbal)
        AND NOT EXISTS (SELECT 1 FROM graft_sq_orders o2
                        WHERE o2.o_custkey = c.c_custkey
                          AND o2.o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")
      },
      oracleSql = """
      SELECT c_mktsegment, COUNT(*)::BIGINT AS n
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderstatus = 'O'
                      AND o.o_totalprice > c.c_acctbal)
        AND NOT EXISTS (SELECT 1 FROM orders o2
                        WHERE o2.o_custkey = c.c_custkey
                          AND o2.o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    /** Scalar subqueries, uncorrelated and correlated: orders strictly above
      * the global / per-priority average price. The comparison is cross-
      * multiplied integer cents (`price_c * n > sum_c`) so no float mean is
      * ever materialized — partial-sum order can't perturb the answer on
      * either engine. Catalyst plans the uncorrelated pair as reusable
      * subquery broadcasts and rewrites the correlated pair to an aggregate
      * + equi-join — no per-row re-evaluation anywhere. */
    GateQuery("q_scalar_subquery", family,
      build = (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("graft_sq_orders2")
        s.sql("""
      WITH o AS (SELECT o_orderpriority,
                        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
                 FROM graft_sq_orders2)
      SELECT 'global' AS kind, o_orderpriority, COUNT(*) AS n
      FROM o o1
      WHERE price_c * (SELECT COUNT(*) FROM o) > (SELECT SUM(price_c) FROM o)
      GROUP BY o_orderpriority
      UNION ALL
      SELECT 'per_priority' AS kind, o_orderpriority, COUNT(*) AS n
      FROM o o1
      WHERE price_c * (SELECT COUNT(*) FROM o o2
                       WHERE o2.o_orderpriority = o1.o_orderpriority)
                    > (SELECT SUM(price_c) FROM o o3
                       WHERE o3.o_orderpriority = o1.o_orderpriority)
      GROUP BY o_orderpriority
      ORDER BY kind, o_orderpriority""")
      },
      oracleSql = """
      WITH o AS (SELECT o_orderpriority,
                        (o_totalprice::DECIMAL(18,2) * 100)::BIGINT AS price_c
                 FROM orders)
      SELECT 'global' AS kind, o_orderpriority, COUNT(*)::BIGINT AS n
      FROM o o1
      WHERE price_c * (SELECT COUNT(*) FROM o) > (SELECT SUM(price_c) FROM o)
      GROUP BY o_orderpriority
      UNION ALL
      SELECT 'per_priority' AS kind, o_orderpriority, COUNT(*)::BIGINT AS n
      FROM o o1
      WHERE price_c * (SELECT COUNT(*) FROM o o2
                       WHERE o2.o_orderpriority = o1.o_orderpriority)
                    > (SELECT SUM(price_c) FROM o o3
                       WHERE o3.o_orderpriority = o1.o_orderpriority)
      GROUP BY o_orderpriority
      ORDER BY kind, o_orderpriority"""),
    /** NOT IN over a subquery with a NULLable projection — SQL's three-valued
      * trap and Spark's dedicated NullAwareAntiJoin shape. The `nullable`
      * branch's list contains NULLs (status 'P' rows), so its NOT IN matches
      * nothing; the `clean` branch is a plain anti join with the real count.
      * Both engines must agree on both. */
    GateQuery("q_not_in_nullaware", family,
      build = (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("graft_sq_customer3")
        t(s, dir, "orders").createOrReplaceTempView("graft_sq_orders3")
        s.sql("""
      SELECT 'not_in_nullable' AS kind, COUNT(*) AS n FROM graft_sq_customer3
      WHERE c_custkey NOT IN
        (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_custkey END
         FROM graft_sq_orders3 WHERE o_totalprice > 150000)
      UNION ALL
      SELECT 'not_in_clean' AS kind, COUNT(*) AS n FROM graft_sq_customer3
      WHERE c_custkey NOT IN
        (SELECT o_custkey FROM graft_sq_orders3
         WHERE o_totalprice > 150000 AND o_orderstatus <> 'P')
      ORDER BY kind""")
      },
      oracleSql = """
      SELECT 'not_in_nullable' AS kind, COUNT(*)::BIGINT AS n FROM customer
      WHERE c_custkey NOT IN
        (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_custkey END
         FROM orders WHERE o_totalprice > 150000)
      UNION ALL
      SELECT 'not_in_clean' AS kind, COUNT(*)::BIGINT AS n FROM customer
      WHERE c_custkey NOT IN
        (SELECT o_custkey FROM orders
         WHERE o_totalprice > 150000 AND o_orderstatus <> 'P')
      ORDER BY kind"""),
    /** LATERAL VIEW posexplode: leading-token (first three positions)
      * distribution over normalized document text — the generator runs
      * inside whole-stage codegen, no join against the exploded relation. */
    GateQuery("q_lateral_explode", family,
      build = (s, dir) => {
        t(s, dir, "documents").createOrReplaceTempView("graft_sq_documents")
        s.sql("""
      SELECT pos, tok, COUNT(*) AS n
      FROM graft_sq_documents
      LATERAL VIEW posexplode(split(trim(regexp_replace(regexp_replace(
        lower(text), '[^a-z0-9\\s]', ' '), '\\s+', ' ')), ' ')) tk AS pos, tok
      WHERE pos < 3 AND tok <> ''
      GROUP BY pos, tok
      HAVING COUNT(*) >= 5
      ORDER BY pos, n DESC, tok""")
      },
      oracleSql = """
      WITH toks AS (SELECT string_split(trim(regexp_replace(regexp_replace(
                      lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS ts
                    FROM documents)
      SELECT i - 1 AS pos, ts[i] AS tok, COUNT(*)::BIGINT AS n
      FROM toks, unnest(generate_series(1, least(3, len(ts)))) AS g(i)
      WHERE ts[i] <> ''
      GROUP BY 1, 2
      HAVING COUNT(*) >= 5
      ORDER BY pos, n DESC, tok"""),
    /** Pivot with an EXPLICIT value list: one aggregation pass (no distinct
      * pre-scan for the pivot domain — at 100 TB the domain is config, not
      * data). Missing combinations fill 0. */
    GateQuery("q_pivot", family,
      build = (s, dir) =>
        t(s, dir, "events")
          .groupBy("user_id")
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy("user_id"),
      oracleSql = """
      SELECT user_id,
             count(*) FILTER (event_type = 'click')::BIGINT AS click,
             count(*) FILTER (event_type = 'error')::BIGINT AS error,
             count(*) FILTER (event_type = 'purchase')::BIGINT AS purchase,
             count(*) FILTER (event_type = 'signup')::BIGINT AS signup,
             count(*) FILTER (event_type = 'view')::BIGINT AS view
      FROM events GROUP BY user_id ORDER BY user_id"""),
    /** Partition-pruned scan over a partition-materialized table: events are
      * written once partitioned by event_type (the filter key), then the
      * filtered aggregate reads ONLY the matching directory — the scan's
      * `PartitionFilters` prune at planning time, zero IO for the rest.
      * PlanSpec pins the pruned scan shape. */
    GateQuery("q_partition_pruned", family,
      build = (s, dir) => {
        val tag = layoutTag(dir)
        val ev = graft.operators.Relational.partitionMaterialize(
          t(s, dir, "events").select(col("event_id"), col("user_id"),
            col("value"), col("event_type")),
          s"graft_p_events_$tag", "event_type",
          s"${graft.util.Scratch.base}/graft_partitioned_$tag/events")
        ev.where(col("event_type") === "purchase")
          .groupBy(expr("user_id DIV 100").as("user_bucket"))
          .agg(count(lit(1)).as("n"),
               sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("value_cents"))
          .orderBy("user_bucket")
      },
      oracleSql = """
      SELECT user_id // 100 AS user_bucket, count(*)::BIGINT AS n,
             sum((value::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS value_cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1 ORDER BY 1"""),
    /** Per-column ingest-QA profile over lineitem
      * ([[Relational.profileTable]]): row/null/distinct counts + typed
      * min/max per column in one aggregate pass (multi-distinct Expand).
      * Projections normalized per the cross-engine rendering rules (cents
      * BIGINT, ISO date strings); `rf_sparse` plants deterministic NULLs so
      * the null accounting has real work. */
    GateQuery("q_table_profile", family,
      build = (s, dir) =>
        graft.operators.Relational.profileTable(t(s, dir, "lineitem"), Seq(
            "l_orderkey" -> col("l_orderkey"),
            // cents(): the established decimal route — a raw double*100→long
            // cast truncates where the oracle's ::BIGINT rounds, a latent
            // mismatch if l_quantity were ever non-integral
            "l_quantity_cents" -> cents(col("l_quantity")),
            "l_shipdate_s" -> date_format(col("l_shipdate"), "yyyy-MM-dd"),
            "l_returnflag" -> col("l_returnflag"),
            "rf_sparse" -> when(col("l_linenumber") > 4,
                lit(null).cast("string")).otherwise(col("l_returnflag"))))
          .orderBy("column"),
      oracleSql = """
      WITH base AS MATERIALIZED (SELECT l_orderkey,
             (l_quantity::DECIMAL(18,2) * 100)::BIGINT AS l_quantity_cents,
             strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate_s,
             l_returnflag,
             CASE WHEN l_linenumber > 4 THEN NULL
                  ELSE l_returnflag END AS rf_sparse
           FROM lineitem)
      SELECT 'l_orderkey' AS "column", count(*)::BIGINT AS n_rows,
             count(CASE WHEN l_orderkey IS NULL THEN 1 END)::BIGINT AS n_nulls,
             count(DISTINCT l_orderkey)::BIGINT AS n_distinct,
             min(l_orderkey)::VARCHAR AS min_str,
             max(l_orderkey)::VARCHAR AS max_str
      FROM base
      UNION ALL
      SELECT 'l_quantity_cents', count(*)::BIGINT,
             count(CASE WHEN l_quantity_cents IS NULL THEN 1 END)::BIGINT,
             count(DISTINCT l_quantity_cents)::BIGINT,
             min(l_quantity_cents)::VARCHAR, max(l_quantity_cents)::VARCHAR
      FROM base
      UNION ALL
      SELECT 'l_shipdate_s', count(*)::BIGINT,
             count(CASE WHEN l_shipdate_s IS NULL THEN 1 END)::BIGINT,
             count(DISTINCT l_shipdate_s)::BIGINT,
             min(l_shipdate_s), max(l_shipdate_s)
      FROM base
      UNION ALL
      SELECT 'l_returnflag', count(*)::BIGINT,
             count(CASE WHEN l_returnflag IS NULL THEN 1 END)::BIGINT,
             count(DISTINCT l_returnflag)::BIGINT,
             min(l_returnflag), max(l_returnflag)
      FROM base
      UNION ALL
      SELECT 'rf_sparse', count(*)::BIGINT,
             count(CASE WHEN rf_sparse IS NULL THEN 1 END)::BIGINT,
             count(DISTINCT rf_sparse)::BIGINT,
             min(rf_sparse), max(rf_sparse)
      FROM base
      ORDER BY "column""""),
    /** Z-order clustered layout + 2-D box query: events are materialized
      * sorted along the Morton curve of (user bucket, value bucket), then a
      * query boxed on BOTH dimensions runs over the layout — each output
      * file covers a compact rectangle, so its parquet min/max stats skip
      * everything outside the box (multi-dim data skipping; the oracle
      * replays the identical shift/mask interleave arithmetic). */
    GateQuery("q_zorder_layout", family,
      build = (s, dir) => {
        val tag = layoutTag(dir)
        val ev = t(s, dir, "events").select(col("event_id"),
          pmod(col("user_id"), lit(4096L)).as("zx"),
          pmod(floor(col("value") * 100).cast("long"), lit(4096L)).as("zy"))
        val laid = graft.operators.Relational.zorderMaterialize(ev, "zx", "zy",
          s"${graft.util.Scratch.base}/graft_zorder_$tag/events", files = 8)
        laid.where(col("zx").between(0L, 1023L) && col("zy").between(0L, 1023L))
          .select("event_id", "zx", "zy", "zval")
          .orderBy("event_id")
      },
      // z-order layout: the materialized-file clustering cannot change WHICH
      // rows a box query returns, so the oracle replays the quantization +
      // interleave arithmetic and the box predicate directly
      oracleSql = s"""
      WITH q AS (
        SELECT event_id,
               ((user_id % 4096) + 4096) % 4096 AS zx,
               (((floor(value * 100)::BIGINT) % 4096) + 4096) % 4096 AS zy
        FROM events)
      SELECT event_id, zx, zy, ${sqlZorder("zx", "zy")} AS zval
      FROM q WHERE zx BETWEEN 0 AND 1023 AND zy BETWEEN 0 AND 1023
      ORDER BY event_id"""),
    /** Bounded pointer-doubling hierarchy flatten — Spark's answer to the
      * `WITH RECURSIVE` ancestor walk it lacks: a synthetic decimal forest
      * over `part` (parent = partkey DIV 10, roots 1..9) flattened to
      * (root, depth) in O(log depth) self-joins, verified against DuckDB's
      * native recursive CTE. */
    GateQuery("q_hierarchy", family,
      build = (s, dir) =>
        graft.operators.Relational.hierarchyFlatten(
            t(s, dir, "part").select(col("p_partkey").as("id"),
              when(col("p_partkey") >= 10, expr("p_partkey DIV 10")).as("parent")),
            "id", "parent", maxDoublings = 4)
          .select(col("id").as("p_partkey"), col("root"), col("depth"))
          .orderBy("p_partkey"),
      // native recursive-CTE ancestor walk vs the engine's pointer doubling:
      // same decimal forest (parent = partkey // 10, both floor on
      // non-negatives), root/depth read from the deepest walk row per id
      oracleSql = """
      WITH RECURSIVE nodes AS (
        SELECT p_partkey AS id,
               CASE WHEN p_partkey >= 10 THEN p_partkey // 10 END AS parent
        FROM part),
      walk AS (
        SELECT id, id AS cur, 0::BIGINT AS depth FROM nodes
        UNION ALL
        SELECT w.id, n.parent, w.depth + 1
        FROM walk w JOIN nodes n ON w.cur = n.id
        WHERE n.parent IS NOT NULL),
      fin AS (SELECT id, max(depth) AS md FROM walk GROUP BY id)
      SELECT w.id AS p_partkey, w.cur AS root, w.depth AS depth
      FROM walk w JOIN fin f ON w.id = f.id AND w.depth = f.md
      ORDER BY p_partkey"""),
    /** The window-function suite beyond rank: offsets (lag/lead), bucketing
      * (ntile), and the distribution functions — percent_rank and cume_dist
      * are exact integer ratios (one correctly-rounded division), so the
      * doubles compare bit-equal across engines. */
    GateQuery("q_window_suite", family,
      build = (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
        events(s, dir).select(col("user_id"), col("event_id"),
            lag("event_id", 1).over(w).as("prev_id"),
            lead("event_id", 1).over(w).as("next_id"),
            ntile(4).over(w).cast("long").as("quartile"),
            percent_rank().over(w).as("prank"),
            cume_dist().over(w).as("cdist"))
          .orderBy("user_id", "event_id")
      },
      oracleSql = """
      SELECT user_id, event_id,
             lag(event_id) OVER w AS prev_id,
             lead(event_id) OVER w AS next_id,
             ntile(4) OVER w AS quartile,
             percent_rank() OVER w AS prank,
             cume_dist() OVER w AS cdist
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
      ORDER BY user_id, event_id"""),
    /** The SQL-registration path: the same computations as `text_rollhash` /
      * `pipe_b64` / `text_quality_filter` / the shingle sizing, but issued
      * through `spark.sql` against the `graft_*` functions installed by
      * `GraftExtensions` (Verify/Bench set `spark.sql.extensions`; for
      * caller-owned sessions `ensureRegistered` installs the same builders).
      * What this row gates is the registration + analysis path, not the
      * kernels — those have their own oracled rows. */
    GateQuery("sql_functions", family,
      build = (s, dir) => {
        graft.functions.GraftFunctionRegistry.ensureRegistered(s)
        t(s, dir, "documents").createOrReplaceTempView("graft_sqlfn_documents")
        s.sql("""
      SELECT doc_id,
             graft_rollhash(text) AS rollhash,
             graft_b64_encode(cast(text AS BINARY)) AS b64,
             graft_quality_keep(text, 450, array('en', 'fr')) AS keep_en_fr,
             cast(size(graft_shingles(
               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' '), '\\s+', ' ')),
               3)) AS BIGINT) AS n_shingles
      FROM graft_sqlfn_documents ORDER BY doc_id""")
      },
      // sql_functions: the SAME computations as their dedicated rows, but
      // issued through `spark.sql` against the extensions-registered
      // functions — what this row verifies is the REGISTRATION path
      // (GraftExtensions → FunctionRegistry → analysis-time literal checks),
      // end-to-end through the driver's gate
      oracleSql = s"""
      WITH $qualityKeptCtes,
      shn AS (
        SELECT doc_id,
               CASE WHEN len($sqlToks) < 3 THEN 1::BIGINT
                    ELSE len(list_distinct(list_transform(
                           range(1, len($sqlToks) - 1),
                           i -> array_to_string(list_slice($sqlToks, i, i + 2), ' '))))::BIGINT
               END AS n_shingles
        FROM documents)
      SELECT d.doc_id, $rollhashExprSql AS rollhash,
             to_base64(encode(text)) AS b64,
             (quality >= 450 AND lang_pred IN ('en', 'fr')) AS keep_en_fr,
             n_shingles
      FROM documents d JOIN scored USING (doc_id) JOIN shn USING (doc_id)
      ORDER BY doc_id""")
  )

  /** revenue term l_extendedprice*(1-l_discount) has 4 exact decimals →
    * ten-thousandths as BIGINT. */
  private def revenueTm(price: Column, discount: Column): Column =
    ((price.cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - discount.cast("decimal(18,2)"))) * 10000)
      .cast("long")

  /** DuckDB replica of `Relational.part1by1` — the identical magic-mask
    * shift ladder in integer SQL (masks as decimal literals). */
  private def sqlPart1by1(e: String): String = {
    val a = s"(($e) & 65535)"
    val b = s"(($a | ($a << 8)) & 16711935)"
    val c = s"(($b | ($b << 4)) & 252645135)"
    val d = s"(($c | ($c << 2)) & 858993459)"
    s"(($d | ($d << 1)) & 1431655765)"
  }

  /** DuckDB replica of `Relational.zorderValue` (2-D Morton interleave). */
  private def sqlZorder(x: String, y: String): String =
    s"(${sqlPart1by1(x)} | (${sqlPart1by1(y)} << 1))"

  /** Quantity totals of lineitem per (return flag, line status) grouping
    * set, the sets chosen by `group` (`rollup` or `cube`); a rolled-up
    * column reads `ALL` and `gid` is the grouping id. */
  private def flagStatusTotals(
      group: (DataFrame, Seq[Column]) => RelationalGroupedDataset)(
      s: SparkSession, dir: String): DataFrame =
    group(t(s, dir, "lineitem"), Seq(col("l_returnflag"), col("l_linestatus")))
      .agg(sum(cents(col("l_quantity"))).as("sum_qty_c"),
           count(lit(1)).as("n"),
           grouping_id().cast("long").as("gid"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag_g"),
              coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus_g"),
              col("gid"), col("sum_qty_c"), col("n"))
      .orderBy("gid", "l_returnflag_g", "l_linestatus_g")
}
