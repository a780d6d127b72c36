package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Window-function inventory (SURVEY.md §2.5 W1–W13, §2.6 O1–O6): top-k per
  * group, ranks, lag/lead gaps, session derivation, percent-of-total.
  *
  * Scale notes: every window here partitions by a high-cardinality key
  * (user, group key) — one shuffle on the partition key, then a per-group
  * in-memory sort; no global-ordering windows anywhere (the reference's
  * single-partition `Window.orderBy` id-assignment hazard, SURVEY §4, is
  * deliberately absent).
  */
object Windows {

  // ---------------------------------------------------------------- q23
  /** W1: row_number top-k per group — THE stats-engine ranking primitive.
    * Top-3 parts per brand by retail price, deterministic tiebreak. */
  val q23TopkPerGroup = Q(
    "q23_topk_per_group",
    (s, d) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      Tables.part(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("p_brand"), col("rn"), col("p_partkey"),
          col("p_retailprice"))
        .orderBy(col("p_brand"), col("rn"))
    },
    Some("""SELECT p_brand, rn, p_partkey, p_retailprice FROM (
      SELECT p_brand, p_partkey, p_retailprice, row_number() OVER (
        PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
      FROM part) t WHERE rn <= 3 ORDER BY p_brand, rn"""))

  // ---------------------------------------------------------------- q24
  /** W2: rank() with ties kept (the "instructive limit" similarity
    * semantics) — ties rank on a coarse bucket so rank<=2 can exceed 2
    * rows. */
  val q24RankTies = Q(
    "q24_rank_ties",
    (s, d) => {
      val bucketed = Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_custkey"),
          floor(col("c_acctbal") / 1000).as("bal_bucket"))
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("bal_bucket").desc)
      bucketed.withColumn("rk", rank().over(w))
        .filter(col("rk") <= 2)
        .select(col("c_nationkey"), col("rk"), col("bal_bucket"),
          col("c_custkey"))
        .orderBy(col("c_nationkey"), col("rk"), col("c_custkey"))
    },
    Some("""SELECT c_nationkey, rk, bal_bucket, c_custkey FROM (
      SELECT c_nationkey, c_custkey,
        cast(floor(c_acctbal / 1000) as bigint) AS bal_bucket,
        rank() OVER (PARTITION BY c_nationkey
          ORDER BY floor(c_acctbal / 1000) DESC) AS rk
      FROM customer) t WHERE rk <= 2
      ORDER BY c_nationkey, rk, c_custkey"""))

  // ---------------------------------------------------------------- q25
  /** W3: dense_rank over part sizes per type. */
  val q25DenseRank = Q(
    "q25_dense_rank",
    (s, d) => {
      val w = Window.partitionBy(col("p_type")).orderBy(col("p_size"))
      Tables.part(s, d)
        .select(col("p_type"), col("p_size")).distinct()
        .withColumn("size_rank", dense_rank().over(w))
        .orderBy(col("p_type"), col("p_size"))
    },
    Some("""SELECT p_type, p_size, dense_rank() OVER (
        PARTITION BY p_type ORDER BY p_size) AS size_rank
      FROM (SELECT DISTINCT p_type, p_size FROM part) t
      ORDER BY p_type, p_size"""))

  // ---------------------------------------------------------------- q26
  /** W4: lag() inter-event gap — the inter-listen-gap primitive. Gap math in
    * integer micros (`unix_micros` ≡ DuckDB `epoch_us`) so both engines
    * agree exactly; the per-user mean is integer-sum / count. */
  val q26LagGap = Q(
    "q26_lag_gap",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
        .filter(col("gap_us").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("gap_us")).as("sum_gap_us"),
          max(col("gap_us")).as("max_gap_us"))
        .withColumn("mean_gap_us", col("sum_gap_us") / col("n_gaps"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, count(*) AS n_gaps,
      cast(sum(gap_us) as bigint) AS sum_gap_us,
      max(gap_us) AS max_gap_us,
      cast(sum(gap_us) as bigint) / count(*) AS mean_gap_us
      FROM (SELECT user_id, epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
          PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events) t WHERE gap_us IS NOT NULL
      GROUP BY user_id ORDER BY user_id"""))

  // ---------------------------------------------------------------- q27
  /** W5: lead() skip detection — next event of same user within 30 s. */
  val q27LeadSkip = Q(
    "q27_lead_skip",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("next_us", lead(col("us"), 1).over(w))
        .filter(col("next_us").isNotNull &&
          col("next_us") - col("us") < 30L * 1000000L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_quick_followed"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS n_quick_followed FROM (
      SELECT event_type, epoch_us(ts) AS us, lead(epoch_us(ts), 1) OVER (
        PARTITION BY user_id ORDER BY ts, event_id) AS next_us
      FROM events) t
      WHERE next_us IS NOT NULL AND next_us - us < 30 * 1000000
      GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------- q28
  /** W6: session-id derivation via running count of gap-breaks — the
    * session-window primitive behind recording/artist similarity. Sessions
    * close after a 30-minute silence. */
  val q28Sessionize = Q(
    "q28_sessionize",
    (s, d) => {
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("new_sess",
          when(col("us") - lag(col("us"), 1).over(wOrd) > 1800L * 1000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_sess")).over(wRun))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          max(col("n_events")).as("longest_session"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, count(*) AS n_sessions,
      max(n_events) AS longest_session FROM (
        SELECT user_id, session_id, count(*) AS n_events FROM (
          SELECT user_id, sum(new_sess) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM (
            SELECT user_id, ts, event_id, CASE WHEN
              epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
                PARTITION BY user_id ORDER BY ts, event_id)
              > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
            FROM events) a) b GROUP BY 1, 2) c
      GROUP BY user_id ORDER BY user_id"""))

  // ---------------------------------------------------------------- q29
  /** W8: percent-of-total via SUM over whole partition — top-genres share
    * pattern. Share kept as exact bigint/bigint division. */
  val q29PctOfTotal = Q(
    "q29_pct_of_total",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
      Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("user_total", sum(col("cnt")).over(w))
        .withColumn("share", col("cnt") / col("user_total"))
        .orderBy(col("user_id"), col("event_type"))
    },
    Some("""SELECT user_id, event_type, cnt,
      cast(sum(cnt) OVER (PARTITION BY user_id) as bigint) AS user_total,
      cnt / cast(sum(cnt) OVER (PARTITION BY user_id) as bigint) AS share
      FROM (SELECT user_id, event_type, count(*) AS cnt FROM events
        GROUP BY 1, 2) t ORDER BY user_id, event_type"""))

  // ---------------------------------------------------------------- q30
  /** W9: max(rank) OVER as percentile denominator — the tags-dataset
    * percent-rank pattern (computed manually, not via percent_rank, to
    * mirror the reference's formulation). */
  val q30RankPercentile = Q(
    "q30_rank_percentile",
    (s, d) => {
      val ranked = Tables.orders(s, d)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        .withColumn("rk", rank().over(Window.orderBy(col("n").desc,
          col("o_custkey"))))
      // single global window is fine here: input is one row per customer,
      // already aggregated — bounded, not raw-event scale
      ranked
        .withColumn("max_rk", max(col("rk")).over(Window.partitionBy()))
        .withColumn("pct", col("rk") / col("max_rk"))
        .orderBy(col("o_custkey"))
    },
    Some("""SELECT o_custkey, n, rk, max(rk) OVER () AS max_rk,
      rk / (max(rk) OVER ()) AS pct FROM (
        SELECT o_custkey, n, rank() OVER (ORDER BY n DESC, o_custkey) AS rk
        FROM (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1) a) b
      ORDER BY o_custkey"""))

  // ---------------------------------------------------------------- q31
  /** W11: row_number with CASE-priority ORDER BY (Album>EP>Single pattern):
    * pick each customer's "best" order preferring priority class then
    * recency. */
  val q31CasePriority = Q(
    "q31_case_priority",
    (s, d) => {
      val pr = when(col("o_orderpriority") === "1-URGENT", 1)
        .when(col("o_orderpriority") === "2-HIGH", 2)
        .otherwise(3)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(pr, col("o_orderdate").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"))
        .orderBy(col("o_custkey"))
    },
    Some("""SELECT o_custkey, o_orderkey, o_orderpriority FROM (
      SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY
        CASE WHEN o_orderpriority = '1-URGENT' THEN 1
             WHEN o_orderpriority = '2-HIGH' THEN 2 ELSE 3 END,
        o_orderdate DESC, o_orderkey) AS rn
      FROM orders) t WHERE rn = 1 ORDER BY o_custkey"""))

  // ---------------------------------------------------------------- q32
  /** O1: global ORDER BY + LIMIT — Catalyst plans TakeOrderedAndProject
    * (per-partition top-k + merge; no global sort, scales to any input). */
  val q32GlobalTopk = Q(
    "q32_global_topk",
    (s, d) => Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      .select(col("o_orderkey"), col("o_totalprice")),
    Some("""SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""))

  // ---------------------------------------------------------------- q33
  /** O3/A6: collect_list + sort_array nesting — the stats-result shaping
    * primitive. The sorted array is emitted as a joined string: the
    * driver's pandas comparator cannot sort array columns, so the nested
    * value is canonicalized to a scalar that hashes on both engines. */
  val q33SortArray = Q(
    "q33_sort_array",
    (s, d) => Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 100 === 0)
      .groupBy(col("l_orderkey"))
      .agg(array_join(
        transform(sort_array(collect_list(col("l_partkey"))),
          x => x.cast("string")), ",").as("parts"))
      .orderBy(col("l_orderkey")),
    Some("""SELECT l_orderkey,
      array_to_string(list_sort(list(l_partkey)), ',') AS parts
      FROM lineitem WHERE l_orderkey % 100 = 0
      GROUP BY l_orderkey ORDER BY l_orderkey"""))

  val all: Seq[Q] = Seq(
    q23TopkPerGroup, q24RankTies, q25DenseRank, q26LagGap, q27LeadSkip,
    q28Sessionize, q29PctOfTotal, q30RankPercentile, q31CasePriority,
    q32GlobalTopk, q33SortArray)
}
