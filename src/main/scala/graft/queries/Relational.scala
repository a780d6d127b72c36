package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Relational operator inventory — scans, filters, joins, aggregations, set
  * ops (SURVEY.md §2.1–2.4, §2.7) expressed over the synthetic star schema.
  *
  * Design rules applied to every query:
  *   - declarative DataFrame plans only: filters/projections reach the
  *     parquet scan (PushedFilters / ReadSchema), Catalyst picks join
  *     strategies; dimension tables are explicitly `broadcast()`ed.
  *   - deterministic output: total ORDER BY on a unique key set in both the
  *     Spark plan and the DuckDB oracle.
  *   - cross-engine-exact arithmetic: money sums go through integer cents
  *     (see [[Q.sqlCents]]); doubles are never summed directly.
  */
object Relational {
  import Q.sqlCents

  /** Spark-side mirror of [[Q.sqlCents]]. */
  private def centsSum(e: Column, name: String, scale: Int = 2): Column = {
    val f = math.pow(10, scale).toLong
    (sum(round(e * f).cast("long")) / f.toDouble).as(name)
  }

  // ---------------------------------------------------------------- q1
  /** TPC-H-Q1-style pricing summary: partial-agg friendly hash aggregation
    * (SURVEY §2.4 A1/A2). Map-side combine makes this shuffle tiny at any
    * scale: 600k rows → 6 groups. */
  val q1PricingSummary = Q(
    "q1_pricing_summary",
    (s, d) => Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        centsSum(col("l_extendedprice"), "sum_base_price"),
        centsSum(col("l_extendedprice") * (lit(1) - col("l_discount")),
          "sum_disc_price", 4),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some(s"""SELECT l_returnflag, l_linestatus,
      cast(sum(cast(l_quantity as bigint)) as bigint) AS sum_qty,
      ${sqlCents("l_extendedprice", "sum_base_price")},
      ${sqlCents("l_extendedprice * (1 - l_discount)", "sum_disc_price", 4)},
      count(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  // ---------------------------------------------------------------- q2
  /** Projection + rename + filter (P1/P2); pushdown visible in the scan. */
  val q2ScanProject = Q(
    "q2_scan_project",
    (s, d) => Tables.lineitem(s, d)
      .filter(col("l_quantity") > 45)
      .select(
        col("l_orderkey").as("okey"),
        col("l_linenumber").as("line_no"),
        col("l_partkey").as("pkey"),
        col("l_quantity").as("qty"))
      .orderBy(col("okey"), col("line_no")),
    Some("""SELECT l_orderkey AS okey, l_linenumber AS line_no,
      l_partkey AS pkey, l_quantity AS qty
      FROM lineitem WHERE l_quantity > 45
      ORDER BY okey, line_no"""))

  // ---------------------------------------------------------------- q3
  /** Timestamp-range filter + agg (P2): the listens date-window pattern. */
  val q3TsRange = Q(
    "q3_ts_range",
    (s, d) => Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"),
        centsSum(col("o_totalprice"), "sum_price"))
      .orderBy(col("o_orderpriority")),
    Some(s"""SELECT o_orderpriority, count(*) AS order_count,
      ${sqlCents("o_totalprice", "sum_price")}
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  // ---------------------------------------------------------------- q4
  /** Conditional expression CASE WHEN (P6). */
  val q4CaseWhen = Q(
    "q4_case_when",
    (s, d) => Tables.orders(s, d)
      .select(
        when(col("o_totalprice") > 200000, "large")
          .when(col("o_totalprice") > 50000, "medium")
          .otherwise("small").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col("bucket")),
    Some("""SELECT CASE WHEN o_totalprice > 200000 THEN 'large'
        WHEN o_totalprice > 50000 THEN 'medium' ELSE 'small' END AS bucket,
      count(*) AS n FROM orders GROUP BY 1 ORDER BY bucket"""))

  // ---------------------------------------------------------------- q5
  /** IN-list filter (P5) + join to region. */
  val q5InList = Q(
    "q5_in_list",
    (s, d) => Tables.nation(s, d)
      .filter(col("n_name").isin("NATION_1", "NATION_7", "NATION_13", "NATION_24"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name"), col("r_name"))
      .orderBy(col("n_name")),
    Some("""SELECT n_name, r_name FROM nation JOIN region
      ON n_regionkey = r_regionkey
      WHERE n_name IN ('NATION_1','NATION_7','NATION_13','NATION_24')
      ORDER BY n_name"""))

  // ---------------------------------------------------------------- q6
  /** LIKE-prefix filter (P7): pushed to parquet as StringStartsWith. */
  val q6LikePrefix = Q(
    "q6_like_prefix",
    (s, d) => Tables.part(s, d)
      .filter(col("p_name").startsWith("s"))
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
      .orderBy(col("p_brand")),
    Some("""SELECT p_brand, count(*) AS n FROM part
      WHERE p_name LIKE 's%' GROUP BY p_brand ORDER BY p_brand"""))

  // ---------------------------------------------------------------- q7
  /** Multi-way inner equi-join + agg (J1): revenue per nation. Dimension
    * sides (nation) broadcast; the lineitem⋈orders join shuffles on
    * orderkey — the natural co-partitioning key at 100 TB. */
  val q7JoinRevenue = Q(
    "q7_join_revenue",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          centsSum(col("l_extendedprice") * (lit(1) - col("l_discount")),
            "revenue", 4),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    },
    Some(s"""SELECT n_name,
      ${sqlCents("l_extendedprice * (1 - l_discount)", "revenue", 4)},
      count(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name"""))

  // ---------------------------------------------------------------- q8
  /** Left outer join to an aggregate (J2): customers keep rows with zero
    * orders (the explode_outer-keeps-unmapped pattern). */
  val q8LeftJoin = Q(
    "q8_left_join",
    (s, d) => {
      val perCust = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          centsSum(col("o_totalprice"), "spend"))
      Tables.customer(s, d)
        .join(perCust, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("spend"), lit(0.0)).as("spend"))
        .orderBy(col("c_custkey"))
    },
    Some(s"""SELECT c_custkey,
      coalesce(n_orders, 0) AS n_orders, coalesce(spend, 0.0) AS spend
      FROM customer LEFT JOIN (
        SELECT o_custkey, count(*) AS n_orders,
        ${sqlCents("o_totalprice", "spend")}
        FROM orders GROUP BY o_custkey) oc ON c_custkey = o_custkey
      ORDER BY c_custkey"""))

  // ---------------------------------------------------------------- q9
  /** Join USING two keys (J3): events joined back to a per-(user, type)
    * aggregate — the only-incremental recompute-skip shape. */
  val q9MultiKeyJoin = Q(
    "q9_multikey_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val hot = ev.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 20)
      ev.join(hot, Seq("user_id", "event_type"))
        .groupBy(col("user_id"), col("event_type"), col("cnt"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("user_id"), col("event_type"))
    },
    Some("""SELECT e.user_id, e.event_type, h.cnt, count(*) AS n_events
      FROM events e JOIN (
        SELECT user_id, event_type, count(*) AS cnt FROM events
        GROUP BY 1, 2 HAVING count(*) >= 20) h
      USING (user_id, event_type)
      GROUP BY e.user_id, e.event_type, h.cnt
      ORDER BY e.user_id, e.event_type"""))

  // ---------------------------------------------------------------- q10
  /** Anti join (J4): the deleted-listens retraction primitive. The right
    * side is a date-restricted slice (recently-active customers) so the
    * retraction provably deletes rows — an unrestricted right side made
    * every customer match and the oracle passed trivially on 0 rows. */
  val q10AntiJoin = Q(
    "q10_anti_join",
    (s, d) => Tables.customer(s, d)
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey, c_name, c_nationkey FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '1998-01-01')
      ORDER BY c_custkey"""))

  // ---------------------------------------------------------------- q11
  /** Semi join (J5): WHERE EXISTS — the incremental filter primitive. */
  val q11SemiJoin = Q(
    "q11_semi_join",
    (s, d) => Tables.part(s, d)
      .join(Tables.lineitem(s, d).filter(col("l_quantity") >= 48),
        col("p_partkey") === col("l_partkey"), "left_semi")
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n_parts"))
      .orderBy(col("p_brand")),
    Some("""SELECT p_brand, count(*) AS n_parts FROM part
      WHERE EXISTS (SELECT 1 FROM lineitem
        WHERE l_partkey = p_partkey AND l_quantity >= 48)
      GROUP BY p_brand ORDER BY p_brand"""))

  // ---------------------------------------------------------------- q12
  /** Self-join pair generation with `<` theta (J7): the co-occurrence /
    * similarity pair primitive. Shuffles once on the session key
    * (l_orderkey); pair blowup is bounded per order. */
  val q12SelfJoinPairs = Q(
    "q12_selfjoin_pairs",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_returnflag"))
      val a = li.alias("a")
      val b = li.alias("b")
      a.join(b,
          col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_returnflag").as("flag_a"),
          col("b.l_returnflag").as("flag_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("flag_a"), col("flag_b"))
    },
    Some("""SELECT a.l_returnflag AS flag_a, b.l_returnflag AS flag_b,
      count(*) AS n_pairs
      FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 ORDER BY flag_a, flag_b"""))

  // ---------------------------------------------------------------- q13
  /** Cross-join densification (J8): user × event-type grid with zero-filled
    * counts — the listening-activity time-range pattern. The grid side is
    * tiny and broadcast. */
  val q13CrossDensify = Q(
    "q13_cross_densify",
    (s, d) => {
      val ev = Tables.events(s, d)
      val users = ev.select(col("user_id")).distinct()
      val types = ev.select(col("event_type")).distinct()
      val counts = ev.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      users.crossJoin(broadcast(types))
        .join(counts, Seq("user_id", "event_type"), "left")
        .select(col("user_id"), col("event_type"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
        .orderBy(col("user_id"), col("event_type"))
    },
    Some("""SELECT u.user_id, t.event_type, coalesce(c.cnt, 0) AS cnt
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN (SELECT DISTINCT event_type FROM events) t
      LEFT JOIN (SELECT user_id, event_type, count(*) AS cnt
        FROM events GROUP BY 1, 2) c
      ON u.user_id = c.user_id AND t.event_type = c.event_type
      ORDER BY u.user_id, t.event_type"""))

  // ---------------------------------------------------------------- q14
  /** Scalar-subquery cross join (J9): percent-of-total via a 1-row side
    * (auto-broadcast nested loop — cheap by construction). */
  val q14ScalarCross = Q(
    "q14_scalar_cross",
    (s, d) => {
      val c = Tables.customer(s, d)
      val total = c.agg(count(lit(1)).as("total"))
      c.join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n_cust"))
        .crossJoin(total)
        .select(col("n_name"), col("n_cust"),
          (col("n_cust") / col("total")).as("share"))
        .orderBy(col("n_name"))
    },
    Some("""SELECT n_name, n_cust, n_cust / total AS share
      FROM (SELECT n_name, count(*) AS n_cust FROM customer
        JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name) g
      CROSS JOIN (SELECT count(*) AS total FROM customer) t
      ORDER BY n_name"""))

  // ---------------------------------------------------------------- q15
  /** Exact count(DISTINCT) (A4) — the listener-count primitive. */
  val q15CountDistinct = Q(
    "q15_count_distinct",
    (s, d) => Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type")),
    Some("""SELECT event_type, count(DISTINCT user_id) AS n_users,
      count(*) AS n_events FROM events
      GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------- q16
  /** Deterministic first-per-group (A3 made reproducible): earliest order
    * per customer via min_by on a (date, key) tiebreak. */
  val q16FirstPerGroup = Q(
    "q16_first_per_group",
    (s, d) => Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(min(struct(col("o_orderdate"), col("o_orderkey"),
        col("o_orderpriority"))).as("f"))
      .select(col("o_custkey"), col("f.o_orderkey").as("first_order"),
        col("f.o_orderpriority").as("first_priority"))
      .orderBy(col("o_custkey")),
    Some("""SELECT o_custkey, o_orderkey AS first_order,
      o_orderpriority AS first_priority FROM (
        SELECT *, row_number() OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders) t WHERE rn = 1 ORDER BY o_custkey"""))

  // ---------------------------------------------------------------- q17
  /** HAVING (A9). */
  val q17Having = Q(
    "q17_having",
    (s, d) => Tables.orders(s, d)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 20)
      .orderBy(col("o_custkey")),
    Some("""SELECT o_custkey, count(*) AS n_orders FROM orders
      GROUP BY o_custkey HAVING count(*) >= 20 ORDER BY o_custkey"""))

  // ---------------------------------------------------------------- q18
  /** Capped contribution LEAST(count, cap) (A10): the sitewide anti-skew
    * constant, two-level aggregation with map-side combine at level 1. */
  val q18CappedLeast = Q(
    "q18_capped_least",
    (s, d) => Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(least(count(lit(1)), lit(15L)).as("capped"))
      .groupBy(col("event_type"))
      .agg(sum(col("capped")).as("capped_total"))
      .orderBy(col("event_type")),
    Some("""SELECT event_type, cast(sum(capped) as bigint) AS capped_total FROM (
      SELECT event_type, user_id, least(count(*), 15) AS capped
      FROM events GROUP BY 1, 2) t
      GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------- q19
  /** Multi-column row dedupe (A11, dropDuplicates). */
  val q19Dedup = Q(
    "q19_dedup_rows",
    (s, d) => Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      .dropDuplicates()
      .orderBy(col("l_returnflag"), col("l_linestatus"), col("l_shipdate")),
    Some("""SELECT DISTINCT l_returnflag, l_linestatus, l_shipdate
      FROM lineitem ORDER BY 1, 2, 3"""))

  // ---------------------------------------------------------------- q20
  /** Scalar whole-table aggregate (A12): high-water-mark lookup. */
  val q20ScalarAgg = Q(
    "q20_scalar_agg",
    (s, d) => Tables.events(s, d)
      .agg(max(col("ts")).as("max_ts"), min(col("ts")).as("min_ts"),
        count(lit(1)).as("n")),
    Some("""SELECT max(ts) AS max_ts, min(ts) AS min_ts, count(*) AS n
      FROM events"""))

  // ---------------------------------------------------------------- q21
  /** UNION ALL partial-aggregate merge (A13/U1): the incremental stats
    * engine's combine step — two disjoint partials re-aggregated must equal
    * a direct aggregate (the oracle). */
  val q21UnionMerge = Q(
    "q21_union_merge",
    (s, d) => {
      val ev = Tables.events(s, d)
      val pivot = lit("2024-01-20").cast("timestamp")
      def partial(df: DataFrame) =
        df.groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
      partial(ev.filter(col("ts") < pivot))
        .unionByName(partial(ev.filter(col("ts") >= pivot)))
        .groupBy(col("user_id"), col("event_type"))
        .agg(sum(col("cnt")).as("cnt"))
        .orderBy(col("user_id"), col("event_type"))
    },
    Some("""SELECT user_id, event_type, count(*) AS cnt FROM events
      GROUP BY 1, 2 ORDER BY user_id, event_type"""))

  // ---------------------------------------------------------------- q22
  /** UNION ALL of differently-prioritized sources (U3) + min-priority
    * resolution — the top-genres source-priority pattern. */
  val q22UnionPriority = Q(
    "q22_union_priority",
    (s, d) => {
      val ev = Tables.events(s, d)
      val p1 = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), lit(1).as("prio"))
      val p2 = ev.filter(col("value") > 100)
        .select(col("user_id"), lit(2).as("prio"))
      p1.unionByName(p2)
        .groupBy(col("user_id"))
        .agg(min(col("prio")).as("best_prio"), count(lit(1)).as("n"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, min(prio) AS best_prio, count(*) AS n FROM (
      SELECT user_id, 1 AS prio FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, 2 AS prio FROM events WHERE value > 100) u
      GROUP BY user_id ORDER BY user_id"""))

  val all: Seq[Q] = Seq(
    q1PricingSummary, q2ScanProject, q3TsRange, q4CaseWhen, q5InList,
    q6LikePrefix, q7JoinRevenue, q8LeftJoin, q9MultiKeyJoin, q10AntiJoin,
    q11SemiJoin, q12SelfJoinPairs, q13CrossDensify, q14ScalarCross,
    q15CountDistinct, q16FirstPerGroup, q17Having, q18CappedLeast,
    q19Dedup, q20ScalarAgg, q21UnionMerge, q22UnionPriority)
}
