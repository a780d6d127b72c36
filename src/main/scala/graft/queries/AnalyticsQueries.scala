package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Product-analytics surface over the events fact: cohort retention,
  * cumulative-distinct growth curves, event-transition (Markov) matrices,
  * and the CUBE subtotal lattice. These are the report shapes the
  * reference's listening-activity family computes per time range
  * (listenbrainz_spark/stats/common/listening_activity.py:39,
  * stats/incremental/sitewide/listening_activity.py) generalized to the
  * standard cohort/growth formulations.
  *
  * Every output is exact: counts are longs, every ratio is ONE IEEE
  * division of two exact longs, so the driver's bit-level hash compare
  * holds across engines.
  */
object AnalyticsQueries {

  private val WeekSecs = 604800L
  private val DaySecs = 86400L

  // ---------------------------------------------------------------- q192
  /** Weekly cohort retention matrix. A user's cohort is their first-seen
    * epoch week; for every (cohort, weeks-since) cell, the number of
    * cohort members active that week and the retention ratio against the
    * cohort's week-0 size.
    *
    * Scale shape: the fact collapses to distinct (user, week) in one
    * user-keyed exchange; the cohort table derives from THAT (a per-user
    * min — same key, AQE-coalesced), so the join back is user-keyed on
    * both sides. The final aggregate is cohort×weeks cells — thousands of
    * rows at any corpus size — and the week-0 denominator is a window
    * over those cells, not another pass over the fact. At 100 TB exactly
    * one fact-sized shuffle (the distinct) survives.
    */
  val q192CohortRetention = Q(
    "q192_cohort_retention",
    (s, d) => {
      val uw = Tables.events(s, d)
        .select(col("user_id"),
          expr(s"unix_timestamp(ts) div $WeekSecs").as("week"))
        .distinct()
        // feeds the cohort min AND the join left side — pin it so the
        // fact scans (and the distinct exchange) run once, not twice
        .transform(graft.core.StateTable.pin)
      val cohort = uw.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      val cells = uw.join(cohort, "user_id")
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("weeks_since"))
        .agg(count(lit(1)).as("n_users"))
      val wc = Window.partitionBy(col("cohort_week"))
      cells
        .withColumn("cohort_size",
          sum(when(col("weeks_since") === 0, col("n_users"))
            .otherwise(lit(0L))).over(wc))
        .withColumn("retention", col("n_users") / col("cohort_size"))
        .select(col("cohort_week"), col("weeks_since"), col("n_users"),
          col("cohort_size"), col("retention"))
        .orderBy(col("cohort_week"), col("weeks_since"))
    },
    Some(s"""WITH uw AS (
        SELECT DISTINCT user_id,
          epoch_us(ts) // 1000000 // $WeekSecs AS week
        FROM events),
      cohort AS (
        SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1),
      cells AS (
        SELECT c.cohort_week, uw.week - c.cohort_week AS weeks_since,
          count(*) AS n_users
        FROM uw JOIN cohort c USING (user_id)
        GROUP BY 1, 2)
      SELECT cohort_week, weeks_since, n_users,
        cast(sum(CASE WHEN weeks_since = 0 THEN n_users ELSE 0 END)
          OVER (PARTITION BY cohort_week) AS bigint) AS cohort_size,
        n_users / cast(sum(CASE WHEN weeks_since = 0 THEN n_users ELSE 0
          END) OVER (PARTITION BY cohort_week) AS bigint) AS retention
      FROM cells ORDER BY cohort_week, weeks_since"""))

  // ---------------------------------------------------------------- q193
  /** Daily growth curve: new users (first-seen that day), daily active
    * users, and the cumulative distinct-user count — computed WITHOUT a
    * distinct-over-expanding-window. The classic trick: cumulative
    * distinct at day D equals the running sum of first-seen counts, so
    * the expensive formulation (distinct over an unbounded frame —
    * O(days × users)) collapses to one per-user min plus a running sum
    * over the per-day aggregate. The only global window runs over
    * #days rows, driver-sized at any corpus scale.
    */
  val q193CumulativeDistinct = Q(
    "q193_cumulative_distinct",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"),
          expr(s"unix_timestamp(ts) div $DaySecs").as("day"))
      val newPerDay = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
      val activePerDay = ev.distinct()
        .groupBy(col("day")).agg(count(lit(1)).as("active_users"))
      val wcum = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      activePerDay.join(newPerDay, Seq("day"), "left")
        .na.fill(0L, Seq("new_users"))
        .withColumn("cum_users", sum(col("new_users")).over(wcum))
        .select(col("day"), col("new_users"), col("active_users"),
          col("cum_users"))
        .orderBy(col("day"))
    },
    Some(s"""WITH ev AS (
        SELECT user_id, epoch_us(ts) // 1000000 // $DaySecs AS day
        FROM events),
      new_per_day AS (
        SELECT day, count(*) AS new_users FROM (
          SELECT user_id, min(day) AS day FROM ev GROUP BY 1) f
        GROUP BY 1),
      active_per_day AS (
        SELECT day, count(*) AS active_users FROM (
          SELECT DISTINCT user_id, day FROM ev) a GROUP BY 1)
      SELECT a.day, coalesce(n.new_users, 0) AS new_users,
        a.active_users,
        cast(sum(coalesce(n.new_users, 0)) OVER (ORDER BY a.day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint)
          AS cum_users
      FROM active_per_day a LEFT JOIN new_per_day n ON a.day = n.day
      ORDER BY a.day"""))

  // ---------------------------------------------------------------- q194
  /** First-order Markov transition matrix over per-user event streams:
    * order each user's events by (ts, event_id), lag the type, count
    * (prev → next) transitions, and normalize per source state. The
    * probability is one IEEE division of two exact longs. One user-keyed
    * window sort produces every transition; the transition matrix itself
    * is |types|² rows, so the normalizing window is over a bounded
    * aggregate, never the fact.
    */
  val q194MarkovTransitions = Q(
    "q194_markov_transitions",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wp = Window.partitionBy(col("prev"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("n"))
        .withColumn("out_total", sum(col("n")).over(wp))
        .withColumn("p", col("n") / col("out_total"))
        .select(col("prev"), col("next"), col("n"), col("out_total"),
          col("p"))
        .orderBy(col("prev"), col("next"))
    },
    Some("""WITH t AS (
        SELECT lag(event_type, 1) OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS prev,
          event_type AS next
        FROM events),
      m AS (
        SELECT prev, next, count(*) AS n FROM t
        WHERE prev IS NOT NULL GROUP BY 1, 2)
      SELECT prev, next, n,
        cast(sum(n) OVER (PARTITION BY prev) AS bigint) AS out_total,
        n / cast(sum(n) OVER (PARTITION BY prev) AS bigint) AS p
      FROM m ORDER BY prev, next"""))

  // ---------------------------------------------------------------- q195
  /** CUBE subtotal lattice over (l_returnflag, l_linestatus): all four
    * grouping sets — per-pair, per-flag, per-status, grand total — in
    * ONE pass (a single Expand + hash aggregate, vs four scans for the
    * UNION formulation). Completes the lattice family next to q165's
    * ROLLUP; per-column `grouping()` flags distinguish subtotal rows
    * from genuine NULL groups. Money stays in exact cents (Q.sqlCents
    * discipline). */
  val q195CubeLattice = Q(
    "q195_cube_lattice",
    (s, d) => Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"),
        round(col("l_extendedprice") * 100).cast("long").as("price_c"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        (sum(col("price_c")) / 100.0).as("revenue"),
        grouping(col("l_returnflag")).cast("long").as("g_flag"),
        grouping(col("l_linestatus")).cast("long").as("g_status"))
      .orderBy(col("g_flag"), col("g_status"), col("l_returnflag"),
        col("l_linestatus")),
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
        cast(sum(cast(round(l_extendedprice * 100) AS bigint)) AS bigint)
          / 100.0 AS revenue,
        cast(grouping(l_returnflag) AS bigint) AS g_flag,
        cast(grouping(l_linestatus) AS bigint) AS g_status
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY g_flag, g_status, l_returnflag, l_linestatus"""))

  // ---------------------------------------------------------------- q199
  /** Session co-occurrence LIFT: for every event-type pair, observed
    * co-session frequency over the independence expectation,
    * `lift = (N·c_ab) / (c_a·c_b)` at session granularity — the
    * association score behind "listeners of X also play Y" surfaces
    * (the reference scores session pairs by raw counts,
    * listenbrainz_spark/similarity/recording.py; lift normalizes away
    * item popularity). Sessionization is q71's 30-minute-gap window.
    *
    * Exactness: both products stay exact in int64 (session counts), the
    * score is ONE IEEE division — bit-reproducible. Scale: presence
    * collapses to distinct (user, session, type) in one user-keyed
    * exchange; pairs expand within session only (bounded by the q71 cap
    * rationale); N is one scalar anchor; the marginals table is
    * |types|-sized and broadcast into the pair join.
    */
  val q199CooccurLift = Q(
    "q199_cooccur_lift",
    (s, d) => {
      val gapUs = 1800L * 1000000L
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val sess = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_type"))
        .withColumn("new_sess",
          when(unix_micros(col("ts")) -
            lag(unix_micros(col("ts")), 1).over(w) > gapUs, 1L)
            .otherwise(lit(0L)))
        .withColumn("session_id", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("user_id"), col("session_id"),
          col("event_type").as("e"))
        .distinct()
        // the presence set feeds the scalar count, the marginals, and
        // BOTH sides of the pair join — pin it (the q191 lesson) so the
        // sessionization window runs once, not four times
        .transform(graft.core.StateTable.pin)
      val nSessions = sess.select(col("user_id"), col("session_id"))
        .distinct().count()
      val marginals = sess.groupBy(col("e")).agg(count(lit(1)).as("n_e"))
      val pairs = sess.as("a")
        .join(sess.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.session_id") === col("b.session_id") &&
            col("a.e") < col("b.e"))
        .groupBy(col("a.e").as("e_a"), col("b.e").as("e_b"))
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(marginals.select(col("e").as("e_a"),
          col("n_e").as("n_a"))), Seq("e_a"))
        .join(broadcast(marginals.select(col("e").as("e_b"),
          col("n_e").as("n_b"))), Seq("e_b"))
        .withColumn("n_sessions", lit(nSessions))
        .withColumn("lift",
          (col("n_sessions") * col("n_ab")).cast("double") /
            (col("n_a") * col("n_b")).cast("double"))
        .select(col("e_a"), col("e_b"), col("n_ab"), col("n_a"),
          col("n_b"), col("n_sessions"), col("lift"))
        .orderBy(col("e_a"), col("e_b"))
    },
    Some("""WITH sess AS (
        SELECT DISTINCT user_id, session_id, event_type AS e FROM (
          SELECT user_id, event_type, sum(new_sess) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM (
            SELECT user_id, event_type, ts, CASE WHEN
              epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
                PARTITION BY user_id ORDER BY ts) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_sess
            FROM events) x) y),
      n AS (SELECT count(*) AS n_sessions FROM (
        SELECT DISTINCT user_id, session_id FROM sess) z),
      marg AS (SELECT e, count(*) AS n_e FROM sess GROUP BY e),
      pairs AS (
        SELECT a.e AS e_a, b.e AS e_b, count(*) AS n_ab
        FROM sess a JOIN sess b
          ON a.user_id = b.user_id AND a.session_id = b.session_id
            AND a.e < b.e
        GROUP BY 1, 2)
      SELECT e_a, e_b, n_ab, ma.n_e AS n_a, mb.n_e AS n_b,
        n.n_sessions,
        cast(n.n_sessions * n_ab AS double)
          / cast(ma.n_e * mb.n_e AS double) AS lift
      FROM pairs JOIN marg ma ON pairs.e_a = ma.e
        JOIN marg mb ON pairs.e_b = mb.e, n
      ORDER BY e_a, e_b"""))

  // ---------------------------------------------------------------- q202
  /** Association rules over order baskets (Apriori level 2,
    * [[graft.operators.FrequentItemsets]]): parts co-purchased in ≥ 3
    * orders, both rule directions, exact confidence and lift. The
    * support prune runs BEFORE the pair expansion — the quadratic step
    * only ever sees frequent items. */
  val q202BasketRules = Q(
    "q202_basket_rules",
    (s, d) => graft.operators.FrequentItemsets.rules(
      Tables.lineitem(s, d), "l_orderkey", "l_partkey", minSupport = 3L)
      .orderBy(col("antecedent"), col("consequent")),
    Some("""WITH items AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        WHERE l_partkey IS NOT NULL),
      n AS (SELECT count(*) AS n_baskets FROM (
        SELECT DISTINCT b FROM items) z),
      freq AS (SELECT i, count(*) AS n_i FROM items GROUP BY i
        HAVING count(*) >= 3),
      pruned AS (SELECT items.b, items.i, freq.n_i
        FROM items JOIN freq ON items.i = freq.i),
      pairs AS (
        SELECT x.i AS i_a, y.i AS i_b, count(*) AS n_ab,
          min(x.n_i) AS n_a, min(y.n_i) AS n_b
        FROM pruned x JOIN pruned y ON x.b = y.b AND x.i < y.i
        GROUP BY 1, 2 HAVING count(*) >= 3),
      dirs AS (
        SELECT i_a AS antecedent, i_b AS consequent, n_ab, n_a, n_b
        FROM pairs
        UNION ALL
        SELECT i_b, i_a, n_ab, n_b, n_a FROM pairs)
      SELECT antecedent, consequent, n_ab, n_a, n_b, n.n_baskets,
        cast(n_ab AS double) / cast(n_a AS double) AS confidence,
        cast(n.n_baskets * n_ab AS double)
          / cast(n_a * n_b AS double) AS lift
      FROM dirs, n ORDER BY antecedent, consequent"""))

  // ---------------------------------------------------------------- q204
  /** Seasonal-baseline anomaly report: the per-(type, day-of-week, hour)
    * mean is the baseline; the 50 largest deviations from their own
    * seasonal cell are the anomalies. Exactness trick: the residual is
    * ranked by `|value_c·n − sum_c|` — an EXACT long per row (cents ×
    * cell count minus cell cents-sum) — normalized only at output
    * (`/ 100·n`, one IEEE division), so ranking never compares floats
    * with different accumulation histories. The day/hour keys derive
    * from epoch arithmetic, not calendar functions, so both engines bin
    * identically regardless of locale conventions. Baseline cells are
    * |types|·7·24 rows — broadcast back, no second fact shuffle.
    * Cross-cell ranking note: |resid| = resid_abs/(100·n) IS a float
    * compare across cells, but each is one exact-integer÷exact-integer
    * IEEE division — identical in any engine (the q194/q199 rule). */
  val q204SeasonalAnomalies = Q(
    "q204_seasonal_anomalies",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"),
        col("event_type"),
        expr(s"(unix_timestamp(ts) div $DaySecs) % 7").as("dow"),
        expr("(unix_timestamp(ts) div 3600) % 24").as("hr"),
        round(col("value") * 100).cast("long").as("value_c"))
      val base = ev.groupBy(col("event_type"), col("dow"), col("hr"))
        .agg(sum(col("value_c")).as("sum_c"), count(lit(1)).as("n"))
      ev.join(broadcast(base), Seq("event_type", "dow", "hr"))
        .withColumn("resid_scaled",
          col("value_c") * col("n") - col("sum_c"))
        .withColumn("resid",
          col("resid_scaled").cast("double") / (lit(100.0) * col("n")))
        .withColumn("baseline",
          col("sum_c").cast("double") / (lit(100.0) * col("n")))
        .orderBy(abs(col("resid")).desc, col("event_id"))
        .limit(50)
        .select(col("event_id"), col("event_type"), col("dow"),
          col("hr"), (col("value_c") / 100.0).as("value"),
          col("baseline"), col("resid"))
        .orderBy(abs(col("resid")).desc, col("event_id"))
    },
    Some(s"""WITH ev AS (SELECT event_id, event_type,
        (epoch_us(ts) // 1000000 // $DaySecs) % 7 AS dow,
        (epoch_us(ts) // 1000000 // 3600) % 24 AS hr,
        cast(round(value * 100) AS bigint) AS value_c
      FROM events),
      base AS (SELECT event_type, dow, hr,
          cast(sum(value_c) AS bigint) AS sum_c, count(*) AS n
        FROM ev GROUP BY 1, 2, 3)
      SELECT event_id, event_type, dow, hr, value_c / 100.0 AS value,
        cast(sum_c AS double) / (100.0 * n) AS baseline,
        cast(value_c * n - sum_c AS double) / (100.0 * n) AS resid
      FROM ev JOIN base USING (event_type, dow, hr)
      ORDER BY abs(cast(value_c * n - sum_c AS double) / (100.0 * n))
        DESC, event_id
      LIMIT 50"""))

  // ---------------------------------------------------------------- q205
  /** Hopping (sliding) event-time windows via Spark's native `window()`
    * TVF — 2-hour windows every 30 minutes, so each event lands in
    * exactly 4 overlapping windows (the tumbling q173 generalized).
    * Spark plans this as one generate+aggregate, no self-join; the
    * oracle replays the window algebra: starts are the 4 slide
    * multiples in (t − size, t]. Epoch-aligned in UTC, counts and
    * cents-sums exact. */
  val q205HoppingWindows = Q(
    "q205_hopping_windows",
    (s, d) => Tables.events(s, d)
      .select(window(col("ts"), "2 hours", "30 minutes").as("w"),
        round(col("value") * 100).cast("long").as("value_c"))
      .groupBy(unix_timestamp(col("w.start")).as("w_start"))
      .agg(count(lit(1)).as("n"),
        (sum(col("value_c")) / 100.0).as("sum_value"))
      .orderBy(col("w_start")),
    Some("""WITH ev AS (SELECT epoch_us(ts) // 1000000 AS t,
        cast(round(value * 100) AS bigint) AS value_c FROM events),
      hop AS (SELECT 1800 * (t // 1800 - u.k) AS w_start, value_c
        FROM ev, unnest(generate_series(0, 3)) AS u(k))
      SELECT w_start, count(*) AS n,
        cast(sum(value_c) AS bigint) / 100.0 AS sum_value
      FROM hop GROUP BY w_start ORDER BY w_start"""))

  // ---------------------------------------------------------------- q208
  /** Per-group trend line: closed-form OLS slope/intercept of daily
    * event counts over time, per event type. The regression runs over
    * PRE-AGGREGATED (type, day, count) points — days per type is a
    * bounded small set at any corpus size, so every OLS sum (Σx, Σy,
    * Σxy, Σx²) stays an exact long and slope/intercept are single IEEE
    * divisions of exact longs: `slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)`.
    * Days are re-origined per group (x = day − min day) to keep the
    * products small and the intercept meaningful. The fact shuffles
    * once into the (type, day) cells; the regression aggregates cells.
    */
  val q208GroupTrend = Q(
    "q208_group_trend",
    (s, d) => {
      val cells = Tables.events(s, d)
        .select(col("event_type"),
          expr(s"unix_timestamp(ts) div $DaySecs").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("y"))
      val wg = Window.partitionBy(col("event_type"))
      val pts = cells
        .withColumn("x", col("day") - min(col("day")).over(wg))
      val agg = pts.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      agg
        .withColumn("slope",
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
        .withColumn("intercept",
          (col("sy").cast("double") -
            col("slope") * col("sx").cast("double")) /
            col("n").cast("double"))
        .select(col("event_type"), col("n"), col("sy").as("total"),
          col("slope"), col("intercept"))
        .orderBy(col("event_type"))
    },
    Some(s"""WITH cells AS (
        SELECT event_type, epoch_us(ts) // 1000000 // $DaySecs AS day,
          count(*) AS y
        FROM events GROUP BY 1, 2),
      pts AS (SELECT event_type, y,
          day - min(day) OVER (PARTITION BY event_type) AS x
        FROM cells),
      agg AS (SELECT event_type, count(*) AS n,
          cast(sum(x) AS bigint) AS sx, cast(sum(y) AS bigint) AS sy,
          cast(sum(x * y) AS bigint) AS sxy,
          cast(sum(x * x) AS bigint) AS sxx
        FROM pts GROUP BY 1),
      sl AS (SELECT *,
          cast(n * sxy - sx * sy AS double)
            / cast(n * sxx - sx * sx AS double) AS slope
        FROM agg)
      SELECT event_type, n, sy AS total, slope,
        (cast(sy AS double) - slope * cast(sx AS double))
          / cast(n AS double) AS intercept
      FROM sl ORDER BY event_type"""))

  // ---------------------------------------------------------------- q209
  /** Distribution drift between two corpus slices WITHOUT log-space
    * divergences: per-bin document-length histograms of two sources and
    * their total-variation distance. TV = Σ|pA − pB| / 2 evaluates as
    * `Σ|cA·nB − cB·nA| / (2·nA·nB)` — every product an exact long, ONE
    * IEEE division at the end — so the drift score is bit-reproducible
    * where PSI/KL (log ratios) would not be. The standard
    * corpus-version / source-mix drift gate next to q185's content
    * diff; bins are map-side integer `div`s, the histogram join is
    * bin-keyed over ≤`bins` rows. */
  val q209DriftTv = Q(
    "q209_drift_tv",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("source"), expr("n_chars div 200").as("bin"))
      def hist(src: String, cn: String) = docs
        .filter(col("source") === src)
        .groupBy(col("bin")).agg(count(lit(1)).as(cn))
      val a = hist("src1", "c_a")
      val b = hist("src2", "c_b")
      val joined = a.join(b, Seq("bin"), "full")
        .na.fill(0L, Seq("c_a", "c_b"))
      val tot = joined.agg(sum(col("c_a")).as("n_a"),
        sum(col("c_b")).as("n_b"))
      joined.crossJoin(broadcast(tot))
        .withColumn("num", abs(col("c_a") * col("n_b") -
          col("c_b") * col("n_a")))
        .groupBy(col("n_a"), col("n_b"))
        .agg(sum(col("num")).as("num_sum"),
          count(lit(1)).as("n_bins"))
        .withColumn("tv_distance",
          col("num_sum").cast("double") /
            (lit(2.0) * col("n_a").cast("double") *
              col("n_b").cast("double")))
        .select(col("n_a"), col("n_b"), col("n_bins"),
          col("tv_distance"))
    },
    Some("""WITH d AS (SELECT source, n_chars // 200 AS bin
        FROM documents),
      a AS (SELECT bin, count(*) AS c_a FROM d WHERE source = 'src1'
        GROUP BY 1),
      b AS (SELECT bin, count(*) AS c_b FROM d WHERE source = 'src2'
        GROUP BY 1),
      j AS (SELECT coalesce(a.bin, b.bin) AS bin,
          coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
        FROM a FULL JOIN b ON a.bin = b.bin),
      t AS (SELECT cast(sum(c_a) AS bigint) AS n_a,
        cast(sum(c_b) AS bigint) AS n_b FROM j)
      SELECT n_a, n_b, count(*) AS n_bins,
        cast(sum(abs(c_a * n_b - c_b * n_a)) AS bigint)
          / (2.0 * n_a * n_b) AS tv_distance
      FROM j, t GROUP BY n_a, n_b"""))

  // ---------------------------------------------------------------- q222
  /** Conversion attribution ([[graft.operators.Attribution]]): each
    * purchase credits its last non-purchase touch inside a 7-day
    * lookback (last-touch) and the user's earliest touch ever
    * (first-touch), both from ONE user-keyed sort window — no range
    * self-join. The oracle replays the running ignore-nulls window, the
    * lookback filter, and both credit aggregates, so the verdict pins
    * every conversion's channel assignment. */
  val q222Attribution = Q(
    "q222_attribution",
    (s, d) => graft.operators.Attribution.attribute(
        Tables.events(s, d), "user_id", "ts", "event_type", "event_id",
        conversionType = "purchase", lookbackDays = 7)
      .orderBy(col("channel")),
    Some("""WITH a AS (SELECT user_id, ts, event_id, event_type,
        last_value(CASE WHEN event_type <> 'purchase'
            THEN event_type END IGNORE NULLS) OVER w AS lc,
        last_value(CASE WHEN event_type <> 'purchase'
            THEN ts END IGNORE NULLS) OVER w AS lts,
        first_value(CASE WHEN event_type <> 'purchase'
            THEN event_type END IGNORE NULLS) OVER w AS fc
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      conv AS (SELECT * FROM a WHERE event_type = 'purchase'
        AND lts IS NOT NULL AND lts >= ts - INTERVAL 7 DAY),
      lt AS (SELECT lc AS channel, count(*) AS last_touch
        FROM conv GROUP BY 1),
      ft AS (SELECT fc AS channel, count(*) AS first_touch
        FROM conv GROUP BY 1)
      SELECT channel, coalesce(last_touch, 0) AS last_touch,
        coalesce(first_touch, 0) AS first_touch
      FROM lt FULL OUTER JOIN ft USING (channel)
      ORDER BY channel"""))

  // ---------------------------------------------------------------- q224
  /** Linear multi-touch attribution ([[graft.operators.Attribution]]
    * linear): every touch inside a purchase's 7-day lookback splits the
    * conversion's credit 1/n ways — the credit-split model last/first
    * touch cannot express. The Spark side is ONE range window (state
    * bounded by the lookback span) + explode + a cell-bounded aggregate;
    * the oracle is the naive range self-join, so the driver hash proves
    * the windowed split equals the definitional pairing. Credits are
    * exact rationals (bigint / bigint through one IEEE division), so
    * they replay bit-for-bit cross-engine. */
  val q224LinearAttribution = Q(
    "q224_linear_attribution",
    (s, d) => graft.operators.Attribution.linear(
        Tables.events(s, d), "user_id", "ts", "event_type",
        conversionType = "purchase", lookbackDays = 7)
      .orderBy(col("channel"), col("window_touches")),
    Some("""WITH ev AS (SELECT user_id,
        cast(epoch(ts) AS BIGINT) AS es, event_type, event_id
      FROM events),
      j AS (SELECT c.event_id AS cid, t.event_type AS channel
        FROM ev c JOIN ev t ON t.user_id = c.user_id
          AND t.event_type <> 'purchase'
          AND t.es BETWEEN c.es - 604800 AND c.es
        WHERE c.event_type = 'purchase'),
      n AS (SELECT cid, count(*) AS wn FROM j GROUP BY 1),
      x AS (SELECT j.channel, n.wn FROM j JOIN n USING (cid))
      SELECT channel, wn AS window_touches,
        count(*) AS touch_events,
        count(*) / wn AS credit
      FROM x GROUP BY channel, wn
      ORDER BY channel, window_touches"""))

  // ---------------------------------------------------------------- q235
  /** Exact ROC-AUC at corpus scale ([[graft.operators.Evaluation]]):
    * score = price cents, label = return flag — "does price rank
    * returned line items above kept ones". Mann–Whitney U from
    * per-score aggregates + the PrefixSum range-exchange running sum:
    * no global sort of the scored rows, no single-partition window;
    * the shuffle carries distinct scores. Mid-rank tie handling is
    * exact via the ×2 integer scaling — auc_num/auc_den are bigints,
    * the one IEEE division replays bit-identically in DuckDB. */
  val q235AucExact = Q(
    "q235_auc_exact",
    (s, d) => {
      val scored = Tables.lineitem(s, d).select(
        expr("cast(round(l_extendedprice * 100) as bigint)").as("score"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("label"))
      graft.operators.Evaluation
        .aucExact(scored, col("score"), col("label"))
        .select(col("auc_num"), col("auc_den"), col("n_pos"),
          col("n_neg"), col("auc"))
    },
    Some("""WITH t AS (
        SELECT cast(round(l_extendedprice * 100) AS bigint) AS s,
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem),
      g AS (SELECT s, count(*) AS n, sum(y) AS p FROM t GROUP BY s),
      c AS (SELECT s, n, p,
          coalesce(sum(n) OVER (ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS less
        FROM g),
      a AS (SELECT cast(sum(p * (2 * less + n + 1)) AS bigint) AS rank2,
          cast(sum(p) AS bigint) AS pos, cast(sum(n) AS bigint) AS tot
        FROM c)
      SELECT rank2 - pos * (pos + 1) AS auc_num,
        2 * pos * (tot - pos) AS auc_den,
        pos AS n_pos, tot - pos AS n_neg,
        (rank2 - pos * (pos + 1)) / (2 * pos * (tot - pos)) AS auc
      FROM a"""))

  // ---------------------------------------------------------------- q239
  /** Reliability table ([[graft.operators.Calibration]]): a synthetic
    * predicted-probability in permille (price cents mod 1001 — spread,
    * deterministic, identical in both engines) against the return-flag
    * outcome, 10 equal-width bins. Per-bin accuracy/confidence are
    * IEEE quotients of bigints; the |gap| numerator stays integer.
    * One map-side-combinable hash aggregate; the shuffle carries 10
    * rows. */
  val q239CalibrationBins = Q(
    "q239_calibration_bins",
    (s, d) => {
      val scored = Tables.lineitem(s, d).select(
        (expr("cast(round(l_extendedprice * 100) as bigint)") % 1001L)
          .as("p"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      graft.operators.Calibration
        .reliability(scored, col("p"), col("y"), bins = 10)
        .orderBy(col("bin"))
    },
    Some("""WITH t AS (
        SELECT cast(round(l_extendedprice * 100) AS bigint) % 1001 AS p,
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem),
      b AS (SELECT least((p * 10) // 1000, 9) AS bin, p, y FROM t)
      SELECT bin, count(*) AS n, cast(sum(y) AS bigint) AS pos,
        cast(sum(p) AS bigint) AS score_sum,
        sum(y) / count(*) AS accuracy,
        sum(p) / (count(*) * 1000) AS confidence,
        cast(abs(1000 * sum(y) - sum(p)) AS bigint) AS gap_num
      FROM b GROUP BY bin ORDER BY bin"""))

  // ---------------------------------------------------------------- q240
  /** One-row exact calibration summary: Brier and ECE as
    * ratio-of-bigints (`Σ(p−1000y)² / 10⁶N`,
    * `Σ_b |1000·pos_b − ssum_b| / 1000N`) — float summation order
    * never appears, so the quotients replay bit-identically in
    * DuckDB. Same scored frame as q239. */
  val q240CalibrationSummary = Q(
    "q240_calibration_summary",
    (s, d) => {
      val scored = Tables.lineitem(s, d).select(
        (expr("cast(round(l_extendedprice * 100) as bigint)") % 1001L)
          .as("p"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      graft.operators.Calibration
        .summary(scored, col("p"), col("y"), bins = 10)
    },
    Some("""WITH t AS (
        SELECT cast(round(l_extendedprice * 100) AS bigint) % 1001 AS p,
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem),
      b AS (SELECT least((p * 10) // 1000, 9) AS bin, p, y FROM t),
      g AS (SELECT bin, count(*) AS n, sum(y) AS pos, sum(p) AS ssum,
          sum((p - 1000 * y) * (p - 1000 * y)) AS sq
        FROM b GROUP BY bin)
      SELECT cast(sum(n) AS bigint) AS n,
        cast(sum(sq) AS bigint) AS brier_num,
        cast(sum(n) * 1000000 AS bigint) AS brier_den,
        sum(sq) / (sum(n) * 1000000) AS brier,
        cast(sum(abs(1000 * pos - ssum)) AS bigint) AS ece_num,
        cast(sum(n) * 1000 AS bigint) AS ece_den,
        sum(abs(1000 * pos - ssum)) / (sum(n) * 1000) AS ece
      FROM g"""))

  // ---------------------------------------------------------------- q244
  /** Catalog concentration ([[graft.operators.Concentration]]): how
    * unevenly do line items spread across suppliers — exact Gini, HHI
    * and top-25 share as ratio-of-bigints. Supplier rank comes from
    * the PrefixSum range-exchange running count, so no
    * single-partition window plans even for billion-unit catalogs;
    * the statistic pass is one map-side-combinable aggregate. */
  val q244Concentration = Q(
    "q244_concentration",
    (s, d) => {
      val perSupplier = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("w"))
      graft.operators.Concentration
        .report(perSupplier, col("l_suppkey"), col("w"), topK = 25)
    },
    Some("""WITH u AS (
        SELECT l_suppkey AS unit, count(*) AS w
        FROM lineitem GROUP BY 1),
      r AS (SELECT unit, w,
          row_number() OVER (ORDER BY w, unit) AS i,
          count(*) OVER () AS n FROM u),
      a AS (SELECT max(n) AS nu, cast(sum(w) AS bigint) AS s,
          cast(sum(i * w) AS bigint) AS iw,
          cast(sum(w * w) AS bigint) AS ww,
          cast(sum(CASE WHEN i > n - 25 THEN w ELSE 0 END) AS bigint)
            AS topw
        FROM r)
      SELECT nu AS n, s AS total,
        2 * iw - (nu + 1) * s AS gini_num, nu * s AS gini_den,
        ww AS hhi_num, s * s AS hhi_den,
        topw AS topk_num, s AS topk_den,
        (2 * iw - (nu + 1) * s) / (nu * s) AS gini,
        ww / (s * s) AS hhi,
        topw / s AS topk_share
      FROM a"""))

  // ---------------------------------------------------------------- q245
  /** 2×2 chi-square independence ([[graft.operators.ChiSquare]]):
    * does cohort membership (even vs odd user id) move the purchase
    * rate? Cells and det are exact bigints from one conditional
    * aggregate; the statistic is five fixed-order IEEE steps that
    * replay bit-identically in DuckDB — never the int64-overflowing
    * N·det² numerator. */
  val q245ChiSquare = Q(
    "q245_chi_square",
    (s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("converted"))
        .select((col("user_id") % 2L === 0L).as("grp"),
          (col("converted") === 1L).as("out"))
      graft.operators.ChiSquare.test2x2(perUser, col("grp"), col("out"))
    },
    Some("""WITH pu AS (
        SELECT user_id % 2 = 0 AS grp,
          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
            AS o
        FROM events GROUP BY user_id),
      c AS (SELECT
          cast(sum(CASE WHEN grp AND o THEN 1 ELSE 0 END) AS bigint)
            AS n11,
          cast(sum(CASE WHEN grp AND NOT o THEN 1 ELSE 0 END) AS bigint)
            AS n10,
          cast(sum(CASE WHEN NOT grp AND o THEN 1 ELSE 0 END) AS bigint)
            AS n01,
          cast(sum(CASE WHEN NOT grp AND NOT o THEN 1 ELSE 0 END)
            AS bigint) AS n00
        FROM pu)
      SELECT n11, n10, n01, n00,
        n11 + n10 + n01 + n00 AS n,
        n11 * n00 - n10 * n01 AS det,
        CASE WHEN n11 + n10 = 0 OR n01 + n00 = 0
            OR n11 + n01 = 0 OR n10 + n00 = 0 THEN NULL
          ELSE (cast(n11 * n00 - n10 * n01 AS double) / (n11 + n10))
            * (cast(n11 * n00 - n10 * n01 AS double) / (n11 + n01))
            * (n11 + n10 + n01 + n00) / (n01 + n00) / (n10 + n00)
        END AS chi2
      FROM c"""))

  // ---------------------------------------------------------------- q246
  /** Two-sample Kolmogorov–Smirnov ([[graft.operators.KsTest]]): has
    * the value distribution shifted between click and view events?
    * D's numerator max|c1·n2 − c2·n1| stays bigint-exact; both CDFs
    * cumulate in ONE PrefixSum range-exchange pass (the new
    * multi-column runningTotals — one exchange, one window, two
    * running counts); the shuffle carries distinct value cents. */
  val q246KsDrift = Q(
    "q246_ks_drift",
    (s, d) => {
      val scored = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .select(
          expr("cast(round(value * 100) as bigint)").as("cents"),
          (col("event_type") === "click").as("g"))
      graft.operators.KsTest.twoSample(scored, col("cents"), col("g"))
    },
    Some("""WITH t AS (
        SELECT cast(round(value * 100) AS bigint) AS s,
          event_type = 'click' AS g
        FROM events WHERE event_type IN ('click', 'view')),
      gr AS (SELECT s,
          cast(sum(CASE WHEN g THEN 1 ELSE 0 END) AS bigint) AS a1,
          cast(sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS bigint) AS a2
        FROM t GROUP BY s),
      c AS (SELECT s,
          cast(sum(a1) OVER (ORDER BY s) AS bigint) AS c1,
          cast(sum(a2) OVER (ORDER BY s) AS bigint) AS c2
        FROM gr),
      n AS (SELECT cast(sum(a1) AS bigint) AS n1,
          cast(sum(a2) AS bigint) AS n2 FROM gr)
      SELECT n1, n2,
        cast(max(abs(c1 * n2 - c2 * n1)) AS bigint) AS ks_num,
        n1 * n2 AS ks_den,
        max(abs(c1 * n2 - c2 * n1)) / (n1 * n2) AS ks
      FROM c, n GROUP BY n1, n2"""))

  // ---------------------------------------------------------------- q247
  /** Poisson bootstrap ([[graft.operators.Bootstrap]]): 16 replica
    * means of the line-item price — every replica rides ONE corpus
    * scan as 2·B map-side-combinable sums (the Chamandy et al.
    * massive-data bootstrap), weights drawn by precomputed
    * Poisson(1)-CDF hex thresholds against the md5 uniform, so each
    * integer weight replays exactly in DuckDB. */
  val q247Bootstrap = Q(
    "q247_bootstrap",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(
        concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string")).as("k"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("x"))
      graft.operators.Bootstrap
        .poissonMeans(li, col("k"), col("x"), replicas = 16, salt = "g")
        .orderBy(col("replica"))
    },
    Some("""WITH reps AS (SELECT unnest(generate_series(0, 15)) AS rep),
      t AS (SELECT cast(l_orderkey AS varchar) || '-' ||
          cast(l_linenumber AS varchar) AS k,
          cast(round(l_extendedprice * 100) AS bigint) AS x
        FROM lineitem),
      u AS (SELECT rep, x,
          substr(md5(k || ':bs' || cast(rep // 4 AS varchar) || ':g'),
            1 + 8 * (rep % 4), 8) AS u
        FROM t CROSS JOIN reps),
      w AS (SELECT rep, x,
          CASE WHEN u < '5e2d58d8' THEN 0 WHEN u < 'bc5ab1b1' THEN 1
            WHEN u < 'eb715e1d' THEN 2 WHEN u < 'fb239797' THEN 3
            WHEN u < 'ff1025f5' THEN 4 WHEN u < 'ffd90f3b' THEN 5
            WHEN u < 'fffa8b71' THEN 6 ELSE 7 END AS w
        FROM u)
      SELECT cast(rep AS bigint) AS replica,
        cast(sum(w) AS bigint) AS n_eff,
        cast(sum(w * x) AS bigint) AS sum_cents,
        sum(w * x) / sum(w) AS mean_cents
      FROM w GROUP BY rep ORDER BY replica"""))

  // ---------------------------------------------------------------- q268
  /** Production bootstrap family
    * ([[graft.operators.Bootstrap.poissonMeansFast]]): the xxhash64
    * draw — one codegen'd 8-byte hash per TWO replicas instead of
    * q247's md5 digest + hex substrings (measured 5.3× cheaper at 30×,
    * SCALE.md). xxhash64 is not replayable in DuckDB, so this is the
    * q218 envelope recipe: each replica's effective size must sit
    * within 5σ of n and its mean within 5·SE of the true mean — both
    * booleans DETERMINISTIC for fixed data and salt, pinned TRUE by
    * the oracle. A broken hash family (bad uniformity, word reuse)
    * flips them and fails the driver gate. */
  val q268BootstrapFast = Q(
    "q268_bootstrap_fast",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(
        concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string")).as("k"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("x"))
      val reps = graft.operators.Bootstrap
        .poissonMeansFast(li, col("k"), col("x"), replicas = 16,
          salt = "g")
      val stats = li.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x").cast("decimal(38,0)") * col("x"))
          .cast("double").as("sxx"))
        .select(col("n"),
          (col("sx").cast("double") / col("n")).as("mu"),
          sqrt((col("sxx") - col("sx").cast("double") * col("sx")
            / col("n")) / col("n")).as("sd"))
      reps.crossJoin(broadcast(stats))
        .select(col("replica"),
          (abs(col("n_eff") - col("n")) <=
            lit(5.0) * sqrt(col("n").cast("double"))).as("n_eff_ok"),
          (abs(col("mean_cents") - col("mu")) <=
            lit(5.0) * col("sd") / sqrt(col("n").cast("double")))
            .as("mean_ok"))
        .orderBy(col("replica"))
    },
    Some("""WITH reps AS (SELECT unnest(generate_series(0, 15)) AS r)
      SELECT cast(r AS bigint) AS replica,
        true AS n_eff_ok, true AS mean_ok
      FROM reps ORDER BY replica"""))

  // ---------------------------------------------------------------- q249
  /** NDCG@5 per customer ([[graft.operators.RankingMetrics]]): does
    * ranking a customer's orders by price surface the urgent ones?
    * Gain = 2^priority−1 as a small integer; the discount weights
    * 1/log2(i+1) are plan-time double constants interpolated
    * IDENTICALLY into this oracle (the q248 constant discipline), and
    * DCG/IDCG are one fixed left-associative 5-term chain each, so
    * the doubles hash-match without rounding. Two row_number windows
    * share one exchange on the customer key; the conditional
    * aggregate's shuffle carries customers × 10 small columns. */
  val q249Ndcg = Q(
    "q249_ndcg",
    (s, d) => {
      val o = Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        (when(col("o_orderpriority") === "1-URGENT", 7L)
          .when(col("o_orderpriority") === "2-HIGH", 3L)
          .when(col("o_orderpriority") === "3-MEDIUM", 1L)
          .otherwise(0L)).as("gain"))
      graft.operators.RankingMetrics
        .ndcgAtK(o, col("o_custkey"), col("gain"),
          Seq(col("o_totalprice").desc, col("o_orderkey")), k = 5)
        .orderBy(col("query"))
    },
    Some {
      val w = graft.operators.RankingMetrics.dcgWeights(5)
      // E-notation — a bare decimal-point literal is DECIMAL in DuckDB
      // (overflows DECIMAL(18,17) and double-rounds via int128/10^k on
      // the cast, 1 ULP off); an exponent literal parses as DOUBLE
      // directly, and 17 significant digits round-trip exactly
      def chain(p: String): String =
        (1 to 5).map { i =>
          val lit = String.format(java.util.Locale.ROOT, "%.17E",
            Double.box(w(i - 1)))
          s"$p$i * $lit"
        }.mkString(" + ")
      val gAt = (1 to 5).map(i =>
        s"coalesce(max(CASE WHEN rs = $i THEN g END), 0) AS g$i")
      val hAt = (1 to 5).map(i =>
        s"coalesce(max(CASE WHEN ri = $i THEN g END), 0) AS h$i")
      s"""WITH o AS (SELECT o_custkey AS q, o_orderkey AS okey,
          o_totalprice AS price,
          CASE o_orderpriority WHEN '1-URGENT' THEN 7
            WHEN '2-HIGH' THEN 3 WHEN '3-MEDIUM' THEN 1
            ELSE 0 END AS g
        FROM orders),
      r AS (SELECT q, g,
          row_number() OVER (PARTITION BY q
            ORDER BY price DESC, okey) AS rs,
          row_number() OVER (PARTITION BY q
            ORDER BY g DESC, price DESC, okey) AS ri
        FROM o),
      p AS (SELECT q, ${(gAt ++ hAt).mkString(",\n          ")}
        FROM r GROUP BY q),
      d AS (SELECT q, ${chain("g")} AS dcg, ${chain("h")} AS idcg
        FROM p)
      SELECT q AS query, dcg, idcg,
        CASE WHEN idcg = 0 THEN NULL ELSE dcg / idcg END AS ndcg
      FROM d ORDER BY query"""
    })

  // ---------------------------------------------------------------- q250
  /** Precision/recall@5 + reciprocal rank per customer
    * ([[graft.operators.RankingMetrics.hitsAtK]]): the hit-based
    * ranking metrics beside q249's graded NDCG — relevant = urgent or
    * high priority, system order = price. All ratios are one IEEE
    * division of exact bigints; no-relevant customers go null by
    * convention on both sides. */
  val q250HitsAtK = Q(
    "q250_hits_at_k",
    (s, d) => {
      val o = Tables.orders(s, d)
      graft.operators.RankingMetrics
        .hitsAtK(o, col("o_custkey"),
          col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
          Seq(col("o_totalprice").desc, col("o_orderkey")), k = 5)
        .orderBy(col("query"))
    },
    Some("""WITH r AS (SELECT o_custkey AS q,
          o_orderpriority IN ('1-URGENT', '2-HIGH') AS rel,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS rs
        FROM orders),
      a AS (SELECT q,
          cast(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS bigint) AS n_rel,
          cast(sum(CASE WHEN rel AND rs <= 5 THEN 1 ELSE 0 END)
            AS bigint) AS hits_at_k,
          cast(min(CASE WHEN rel THEN rs END) AS bigint)
            AS first_hit_rank
        FROM r GROUP BY q)
      SELECT q AS query, n_rel, hits_at_k,
        hits_at_k / 5 AS precision_at_k,
        CASE WHEN n_rel = 0 THEN NULL
          ELSE hits_at_k / n_rel END AS recall_at_k,
        first_hit_rank,
        1.0 / first_hit_rank AS reciprocal_rank
      FROM a ORDER BY query"""))

  // ---------------------------------------------------------------- q251
  /** Welch's two-sample t-test ([[graft.operators.Welch]]): do
    * returned line items differ from kept ones in mean quantity? The
    * corpus contributes six exact bigints (per group count, Σx, Σx²)
    * through ONE conditional aggregate; t and the Welch–Satterthwaite
    * df are a fixed tree of IEEE steps replayed verbatim here. */
  val q251Welch = Q(
    "q251_welch_ttest",
    (s, d) => {
      graft.operators.Welch.tTest(
        Tables.lineitem(s, d),
        col("l_returnflag") === "R",
        col("l_quantity"))
    },
    Some("""WITH b AS (SELECT
        cast(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
          AS bigint) AS n1,
        cast(sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)
          AS bigint) AS n0,
        cast(sum(CASE WHEN l_returnflag = 'R'
          THEN cast(l_quantity AS bigint) ELSE 0 END) AS bigint) AS sum1,
        cast(sum(CASE WHEN l_returnflag = 'R'
          THEN 0 ELSE cast(l_quantity AS bigint) END) AS bigint) AS sum0,
        cast(sum(CASE WHEN l_returnflag = 'R'
          THEN cast(l_quantity AS bigint) * cast(l_quantity AS bigint)
          ELSE 0 END) AS bigint) AS ss1,
        cast(sum(CASE WHEN l_returnflag = 'R'
          THEN 0 ELSE cast(l_quantity AS bigint) * cast(l_quantity
            AS bigint) END) AS bigint) AS ss0
      FROM lineitem),
      m AS (SELECT *,
        cast(sum1 AS double) / n1 AS mean1,
        cast(sum0 AS double) / n0 AS mean0,
        CASE WHEN n1 < 2 THEN NULL
          ELSE (cast(ss1 AS double) - cast(sum1 AS double) * sum1 / n1)
            / (n1 - 1) END AS var1,
        CASE WHEN n0 < 2 THEN NULL
          ELSE (cast(ss0 AS double) - cast(sum0 AS double) * sum0 / n0)
            / (n0 - 1) END AS var0
      FROM b),
      s AS (SELECT *, var1 / n1 + var0 / n0 AS se2 FROM m)
      SELECT n1, n0, sum1, sum0, ss1, ss0, mean1, mean0, var1, var0,
        se2,
        CASE WHEN se2 IS NULL OR se2 = 0 THEN NULL
          ELSE (mean1 - mean0) / sqrt(se2) END AS t,
        CASE WHEN se2 IS NULL OR se2 = 0 THEN NULL
          ELSE se2 * se2 / (var1 / n1 * (var1 / n1) / (n1 - 1)
            + var0 / n0 * (var0 / n0) / (n0 - 1)) END AS df_welch
      FROM s"""))

  // ---------------------------------------------------------------- q253
  /** Exact Pearson correlation ([[graft.operators.Correlation]]):
    * price vs quantity over the full line-item corpus. ONE map-side
    * combinable aggregate; second moments accumulate in decimal
    * (int64 overflows at price-cents scale), cast once to double, and
    * the coefficient is the fixed mean-centered IEEE tree replayed
    * verbatim here. */
  val q253Pearson = Q(
    "q253_pearson",
    (s, d) => {
      graft.operators.Correlation.pearson(
        Tables.lineitem(s, d),
        expr("cast(round(l_extendedprice * 100) as bigint)"),
        col("l_quantity"))
    },
    Some("""WITH p AS (SELECT
        cast(round(l_extendedprice * 100) AS bigint) AS x,
        cast(l_quantity AS bigint) AS y FROM lineitem),
      b AS (SELECT count(*) AS n,
          cast(sum(x) AS bigint) AS sx, cast(sum(y) AS bigint) AS sy,
          cast(sum(cast(x AS hugeint) * y) AS double) AS sxy,
          cast(sum(cast(x AS hugeint) * x) AS double) AS sxx,
          cast(sum(cast(y AS hugeint) * y) AS double) AS syy
        FROM p),
      m AS (SELECT *, cast(sx AS double) / n AS mx,
          cast(sy AS double) / n AS my
        FROM b),
      v AS (SELECT *, sxy / n - mx * my AS cov,
          sxx / n - mx * mx AS vx, syy / n - my * my AS vy
        FROM m)
      SELECT n, sx, sy, sxy, sxx, syy,
        CASE WHEN n < 2 OR vx <= 0 OR vy <= 0 THEN NULL
          ELSE cov / (sqrt(vx) * sqrt(vy)) END AS pearson_r
      FROM v"""))

  // ---------------------------------------------------------------- q254
  /** Exact Spearman rank correlation
    * ([[graft.operators.Correlation.spearman]]): the same pair, but
    * rank-based — doubled mid-ranks (the q235 AUC scaling) keep ties
    * integral, assigned via one per-axis `groupBy(value)` + PrefixSum
    * range exchange, never a global sort of the corpus; the rank maps
    * join back distinct-value-sized. */
  val q254Spearman = Q(
    "q254_spearman",
    (s, d) => {
      graft.operators.Correlation.spearman(
        Tables.lineitem(s, d),
        expr("cast(round(l_extendedprice * 100) as bigint)"),
        col("l_quantity"))
    },
    Some("""WITH p AS (SELECT
        cast(round(l_extendedprice * 100) AS bigint) AS vx,
        cast(l_quantity AS bigint) AS vy FROM lineitem),
      gx AS (SELECT vx AS v, count(*) AS cnt FROM p GROUP BY vx),
      cx AS (SELECT v, cnt, cast(sum(cnt) OVER (ORDER BY v) AS bigint)
          AS cum FROM gx),
      rx AS (SELECT v, 2 * (cum - cnt) + cnt + 1 AS r2 FROM cx),
      gy AS (SELECT vy AS v, count(*) AS cnt FROM p GROUP BY vy),
      cy AS (SELECT v, cnt, cast(sum(cnt) OVER (ORDER BY v) AS bigint)
          AS cum FROM gy),
      ry AS (SELECT v, 2 * (cum - cnt) + cnt + 1 AS r2 FROM cy),
      j AS (SELECT rx.r2 AS x, ry.r2 AS y FROM p
        JOIN rx ON p.vx = rx.v JOIN ry ON p.vy = ry.v),
      b AS (SELECT count(*) AS n,
          cast(sum(x) AS bigint) AS sx, cast(sum(y) AS bigint) AS sy,
          cast(sum(cast(x AS hugeint) * y) AS double) AS sxy,
          cast(sum(cast(x AS hugeint) * x) AS double) AS sxx,
          cast(sum(cast(y AS hugeint) * y) AS double) AS syy
        FROM j),
      m AS (SELECT *, cast(sx AS double) / n AS mx,
          cast(sy AS double) / n AS my
        FROM b),
      v AS (SELECT *, sxy / n - mx * my AS cov,
          sxx / n - mx * mx AS vx, syy / n - my * my AS vy
        FROM m)
      SELECT n, sx, sy, sxy, sxx, syy,
        CASE WHEN n < 2 OR vx <= 0 OR vy <= 0 THEN NULL
          ELSE cov / (sqrt(vx) * sqrt(vy)) END AS spearman_r
      FROM v"""))

  // ---------------------------------------------------------------- q255
  /** Time-decayed activity score ([[graft.operators.TimeDecay]]): per
    * event type, a 31-day half-life-7 recency-weighted count anchored
    * at the day after the stream ends. Exact per-(key, day-offset)
    * bigint counts; the decay weights are plan-time constants applied
    * in one fixed chain and interpolated here as E-notation literals
    * (the q249 recipe). ONE conditional aggregate — events never
    * re-shuffle per day. */
  val q255TimeDecay = Q(
    "q255_time_decay",
    (s, d) => {
      graft.operators.TimeDecay.decayedCounts(
        Tables.events(s, d), col("event_type"), col("ts"),
        "2024-01-31", horizonDays = 31, halfLifeDays = 7.0)
        .orderBy(col("key"))
    },
    Some {
      val w = graft.operators.TimeDecay.weights(31, 7.0)
      val cAt = (0 until 31).map(o =>
        s"sum(CASE WHEN o = $o THEN 1 ELSE 0 END) AS c$o")
      val chain = (0 until 31).map { o =>
        val lit = String.format(java.util.Locale.ROOT, "%.17E",
          Double.box(w(o)))
        s"c$o * $lit"
      }.mkString(" + ")
      val total = (0 until 31).map(o => s"c$o").mkString(" + ")
      s"""WITH e AS (SELECT event_type AS k,
          datediff('day', cast(ts AS date), DATE '2024-01-31') AS o
        FROM events),
      b AS (SELECT k, ${cAt.mkString(",\n          ")}
        FROM e WHERE o >= 0 AND o < 31 GROUP BY k)
      SELECT k AS key, cast($total AS bigint) AS n_events,
        $chain AS decayed_score
      FROM b ORDER BY key"""
    })

  // ---------------------------------------------------------------- q256
  /** Exact empirical CDF ([[graft.operators.Ecdf]]): the percentile-
    * rank transform of the price distribution as a distinct-value-
    * sized frame — one value-grouped aggregate + the PrefixSum range
    * exchange, never a global sort or single-partition window; every
    * quotient is bigint/bigint. */
  val q256Ecdf = Q(
    "q256_ecdf",
    (s, d) => {
      graft.operators.Ecdf.ecdf(
        Tables.lineitem(s, d),
        expr("cast(round(l_extendedprice * 100) as bigint)"))
        .orderBy(col("v"))
    },
    Some("""WITH g AS (SELECT
          cast(round(l_extendedprice * 100) AS bigint) AS v,
          count(*) AS cnt
        FROM lineitem GROUP BY 1),
      c AS (SELECT v, cast(cnt AS bigint) AS cnt,
          cast(sum(cnt) OVER (ORDER BY v) AS bigint) AS cum_le
        FROM g),
      t AS (SELECT cast(sum(cnt) AS bigint) AS n FROM c)
      SELECT v, cnt, cum_le, cum_le / n AS ecdf
      FROM c, t ORDER BY v"""))

  // ---------------------------------------------------------------- q257
  /** Exact trimmed + winsorized price mean
    * ([[graft.operators.RobustMean]]): 5% per tail by rank-interval
    * overlap over per-distinct-value counts — the robust location
    * estimate without any global sort; clamp bounds are scalar
    * anchors off the same cumulated frame, and both means stay
    * ratio-of-bigints until one IEEE division. */
  val q257RobustMean = Q(
    "q257_robust_mean",
    (s, d) => {
      graft.operators.RobustMean.means(
        Tables.lineitem(s, d),
        expr("cast(round(l_extendedprice * 100) as bigint)"),
        trimNum = 1, trimDen = 20)
    },
    Some("""WITH g AS (SELECT
          cast(round(l_extendedprice * 100) AS bigint) AS v,
          count(*) AS cnt
        FROM lineitem GROUP BY 1),
      c AS (SELECT v, cast(cnt AS bigint) AS cnt,
          cast(sum(cnt) OVER (ORDER BY v) AS bigint) AS cum
        FROM g),
      tt AS (SELECT cast(sum(cnt) AS bigint) AS n,
          cast(sum(cnt) AS bigint) * 1 // 20 AS tr
        FROM c),
      j AS (SELECT c.v, c.cnt, c.cum, tt.n, tt.tr,
          greatest(0, least(cum, n - tr) - greatest(cum - cnt, tr))
            AS w
        FROM c, tt),
      k AS (SELECT
          cast(max(n) AS bigint) AS n, cast(max(tr) AS bigint)
            AS trim_n,
          cast(sum(v * w) AS bigint) AS sum_kept,
          cast(sum(w) AS bigint) AS n_kept,
          cast(min(CASE WHEN cum > tr THEN v END) AS bigint)
            AS lo_clamp,
          cast(min(CASE WHEN cum >= n - tr THEN v END) AS bigint)
            AS hi_clamp
        FROM j)
      SELECT n, trim_n, sum_kept, n_kept, lo_clamp, hi_clamp,
        CASE WHEN n_kept = 0 THEN NULL
          ELSE sum_kept / n_kept END AS trimmed_mean,
        CASE WHEN n_kept = 0 THEN NULL
          ELSE (trim_n * lo_clamp + sum_kept + trim_n * hi_clamp) / n
          END AS winsorized_mean
      FROM k"""))

  // ---------------------------------------------------------------- q260
  /** Per-type daily trend slope ([[graft.operators.TrendOls]]): OLS
    * of the 30-day daily-count series per event type — slope_num is
    * an exact bigint (Σt/Σt² are closed-form design constants,
    * zero-event days are y=0 points with no densification join), and
    * slope/intercept/R² are fixed IEEE steps replayed verbatim here.
    * Two map-side-combinable aggregates: (key,day) then key. */
  val q260TrendOls = Q(
    "q260_trend_ols",
    (s, d) => {
      graft.operators.TrendOls.dailyTrend(
        Tables.events(s, d), col("event_type"), col("ts"),
        "2024-01-01", days = 30)
        .orderBy(col("key"))
    },
    Some("""WITH e AS (SELECT event_type AS k,
          datediff('day', DATE '2024-01-01', cast(ts AS date)) AS o
        FROM events),
      d AS (SELECT k, o, cast(count(*) AS bigint) AS cnt
        FROM e WHERE o >= 0 AND o < 30 GROUP BY k, o),
      a AS (SELECT k, cast(sum(cnt) AS bigint) AS sy,
          cast(sum(o * cnt) AS bigint) AS sty,
          cast(sum(cnt * cnt) AS bigint) AS syy
        FROM d GROUP BY k),
      b AS (SELECT k, sy, sty, syy,
          30 * sty - 435 * sy AS slope_num,
          30 * syy - sy * sy AS vy_n
        FROM a),
      c AS (SELECT *, cast(slope_num AS double) / 67425 AS slope
        FROM b)
      SELECT k AS key, sy, sty, syy, slope_num, slope,
        (cast(sy AS double) - slope * 435) / 30 AS intercept,
        CASE WHEN vy_n = 0 THEN NULL
          ELSE cast(slope_num AS double) * slope_num
            / (67425E0 * vy_n) END AS r2
      FROM c ORDER BY key"""))

  // ---------------------------------------------------------------- q275
  /** Ranker agreement — top-k overlap per query between two system
    * rankings (price-ranked vs priority-then-price-ranked orders per
    * customer): `overlap@5 = |topA ∩ topB| / 5`, the ranker-regression
    * detector that flags where a new model actually CHANGES what
    * users see (metrics like q249's NDCG can match while lists
    * diverge). Two row_number windows share one exchange on the
    * query key; the intersection is an exact conditional count, the
    * share one IEEE division. */
  val q275RankerAgreement = Q(
    "q275_ranker_agreement",
    (s, d) => {
      val o = Tables.orders(s, d)
      val byQ = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
      val ranked = o
        .withColumn("ra", row_number().over(
          byQ.orderBy(col("o_totalprice").desc, col("o_orderkey"))))
        .withColumn("rb", row_number().over(
          byQ.orderBy(col("o_orderpriority"), col("o_totalprice").desc,
            col("o_orderkey"))))
      ranked
        .groupBy(col("o_custkey").as("query"))
        .agg(
          sum(when(col("ra") <= 5 && col("rb") <= 5, 1L).otherwise(0L))
            .as("overlap"),
          sum(when(col("ra") <= 5, 1L).otherwise(0L)).as("k_eff"))
        .select(col("query"), col("overlap"),
          (col("overlap") / lit(5L)).as("overlap_at_5"),
          (col("overlap") === col("k_eff")).as("identical_sets"))
        .orderBy(col("query"))
    },
    Some("""WITH r AS (SELECT o_custkey AS q,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS ra,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey)
            AS rb
        FROM orders)
      SELECT q AS query,
        cast(sum(CASE WHEN ra <= 5 AND rb <= 5 THEN 1 ELSE 0 END)
          AS bigint) AS overlap,
        sum(CASE WHEN ra <= 5 AND rb <= 5 THEN 1 ELSE 0 END) / 5
          AS overlap_at_5,
        sum(CASE WHEN ra <= 5 AND rb <= 5 THEN 1 ELSE 0 END)
          = sum(CASE WHEN ra <= 5 THEN 1 ELSE 0 END)
          AS identical_sets
      FROM r GROUP BY q ORDER BY query"""))

  // ---------------------------------------------------------------- q273
  /** Rolling 7-day active users — the engagement metric q193's
    * cumulative curve does not give (WAU needs EXACT de-duplication
    * inside every sliding window; the running-sum-of-first-seen trick
    * only works for the expanding window). Shape: each (user, active
    * day) pair is first DEDUPLICATED (≤ days rows per user), then
    * EXPLODED into the ≤ 7 windows it serves (`sequence` + explode —
    * a bounded map-side fan-out), and one count(DISTINCT user) per
    * window day closes it. Shuffle = 7 × daily-active pairs — never
    * days × users, never a distinct-over-sliding-frame window. Days
    * with no activity in range report 0 via the day spine. */
  val q273RollingActives = Q(
    "q273_rolling_actives",
    (s, d) => {
      import s.implicits._
      val pairs = Tables.events(s, d)
        .select(col("user_id").as("u"),
          datediff(to_date(col("ts")), to_date(lit("2024-01-01")))
            .cast("long").as("day"))
        .distinct()
      val windows = pairs
        .withColumn("wday",
          explode(sequence(col("day"), col("day") + lit(6L))))
        .filter(col("wday") <= 29L)
      val spine = s.range(0, 30).select(col("id").as("wday"))
      spine.join(windows, Seq("wday"), "left")
        .groupBy(col("wday"))
        .agg(countDistinct(col("u")).as("wau"))
        .select(col("wday").as("day"), col("wau"))
        .orderBy(col("day"))
    },
    Some("""WITH p AS (SELECT DISTINCT user_id AS u,
          datediff('day', DATE '2024-01-01', cast(ts AS date)) AS day
        FROM events),
      w AS (SELECT u, unnest(generate_series(day, day + 6)) AS wday
        FROM p),
      spine AS (SELECT unnest(generate_series(0, 29)) AS wday)
      SELECT cast(spine.wday AS bigint) AS day,
        cast(count(DISTINCT w.u) AS bigint) AS wau
      FROM spine LEFT JOIN w ON w.wday = spine.wday
      GROUP BY spine.wday ORDER BY day"""))

  // ---------------------------------------------------------------- q266
  /** RFM customer segmentation composed from [[graft.operators.Ecdf]]:
    * recency/frequency/monetary quintile codes per customer, bucketed
    * by the rank of each metric's first tie position
    * (`1 + 5·(cum−cnt) div n` — tie-stable, no arbitrary ntile split)
    * so equal metrics always share a code. Per-dimension rank maps
    * are distinct-value-sized and AQE-broadcast back onto the
    * customer frame; no unpartitioned window over the customer
    * population ever plans. Bucket 5 = best (most recent / most
    * frequent / highest spend). */
  val q266Rfm = Q(
    "q266_rfm_segments",
    (s, d) => {
      val m = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("cust"))
        .agg(
          datediff(to_date(lit("1998-08-02")), max(to_date(col("o_orderdate"))))
            .cast("long").as("r_days"),
          count(lit(1)).as("f_cnt"),
          sum(expr("cast(round(o_totalprice * 100) as bigint)"))
            .as("m_cents"))
      // quintile of each metric's first tie position: distinct-value
      // rank map (Ecdf) + one scalar anchor; ties share a bucket
      def buckets(metric: String): org.apache.spark.sql.DataFrame = {
        val e = graft.operators.Ecdf.ecdf(m, col(metric))
        val tot = e.agg(max(col("cum_le")).as("n"))
        e.crossJoin(broadcast(tot))
          .select(col("v").as(metric),
            expr("1 + (5 * (cum_le - cnt)) div n")
              .cast("long").as(s"${metric}_b"))
      }
      val rb = buckets("r_days")
      val fb = buckets("f_cnt")
      val mb = buckets("m_cents")
      m.join(rb, Seq("r_days")).join(fb, Seq("f_cnt"))
        .join(mb, Seq("m_cents"))
        .select(col("cust"),
          col("r_days"), col("f_cnt"), col("m_cents"),
          (lit(6L) - col("r_days_b")).as("r_score"),
          col("f_cnt_b").as("f_score"),
          col("m_cents_b").as("m_score"))
        .withColumn("rfm_code",
          col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
        .orderBy(col("cust"))
    },
    Some("""WITH m AS (SELECT o_custkey AS cust,
          datediff('day', max(cast(o_orderdate AS date)),
            DATE '1998-08-02') AS r_days,
          cast(count(*) AS bigint) AS f_cnt,
          cast(sum(cast(round(o_totalprice * 100) AS bigint))
            AS bigint) AS m_cents
        FROM orders GROUP BY o_custkey),
      t AS (SELECT cast(count(*) AS bigint) AS n FROM m),
      rb AS (SELECT v AS r_days, 1 + (5 * (cum - cnt)) // n AS rb
        FROM (SELECT v, cast(cnt AS bigint) AS cnt,
            cast(sum(cnt) OVER (ORDER BY v) AS bigint) AS cum
          FROM (SELECT r_days AS v, count(*) AS cnt FROM m
            GROUP BY r_days) a) b, t),
      fb AS (SELECT v AS f_cnt, 1 + (5 * (cum - cnt)) // n AS fb
        FROM (SELECT v, cast(cnt AS bigint) AS cnt,
            cast(sum(cnt) OVER (ORDER BY v) AS bigint) AS cum
          FROM (SELECT f_cnt AS v, count(*) AS cnt FROM m
            GROUP BY f_cnt) a) b, t),
      mb AS (SELECT v AS m_cents, 1 + (5 * (cum - cnt)) // n AS mb
        FROM (SELECT v, cast(cnt AS bigint) AS cnt,
            cast(sum(cnt) OVER (ORDER BY v) AS bigint) AS cum
          FROM (SELECT m_cents AS v, count(*) AS cnt FROM m
            GROUP BY m_cents) a) b, t)
      SELECT cust, r_days, f_cnt, m_cents,
        cast(6 - rb AS bigint) AS r_score,
        cast(fb AS bigint) AS f_score,
        cast(mb AS bigint) AS m_score,
        cast((6 - rb) * 100 + fb * 10 + mb AS bigint) AS rfm_code
      FROM m JOIN rb USING (r_days) JOIN fb USING (f_cnt)
        JOIN mb USING (m_cents)
      ORDER BY cust"""))

  // ---------------------------------------------------------------- q264
  /** Exact median + MAD ([[graft.operators.RobustMean.medianMad]]):
    * the robust center/spread of the price distribution, integral
    * throughout via the doubled two-rank sum (med2 = v@⌈n/2⌉ +
    * v@(⌊n/2⌋+1), mad4 the same over |2v − med2| REGROUPED from the
    * per-value counts — the corpus is scanned once, both medians are
    * rank lookups on distinct-value frames). */
  val q264MedianMad = Q(
    "q264_median_mad",
    (s, d) => {
      graft.operators.RobustMean.medianMad(
        Tables.lineitem(s, d),
        expr("cast(round(l_extendedprice * 100) as bigint)"))
    },
    Some("""WITH g AS (SELECT
          cast(round(l_extendedprice * 100) AS bigint) AS v,
          count(*) AS cnt
        FROM lineitem GROUP BY 1),
      c AS (SELECT v, cast(cnt AS bigint) AS cnt,
          cast(sum(cnt) OVER (ORDER BY v) AS bigint) AS cum
        FROM g),
      t AS (SELECT cast(sum(cnt) AS bigint) AS n FROM c),
      m AS (SELECT
          (SELECT min(c.v) FROM c, t WHERE c.cum >= (t.n + 1) // 2) +
          (SELECT min(c.v) FROM c, t WHERE c.cum >= t.n // 2 + 1)
            AS med2),
      d AS (SELECT abs(2 * c.v - m.med2) AS v, c.cnt FROM c, m),
      dg AS (SELECT v, cast(sum(cnt) AS bigint) AS cnt
        FROM d GROUP BY v),
      dc AS (SELECT v, cnt,
          cast(sum(cnt) OVER (ORDER BY v) AS bigint) AS cum
        FROM dg),
      m2 AS (SELECT
          (SELECT min(dc.v) FROM dc, t WHERE dc.cum >= (t.n + 1) // 2) +
          (SELECT min(dc.v) FROM dc, t WHERE dc.cum >= t.n // 2 + 1)
            AS mad4)
      SELECT t.n, m.med2, m2.mad4,
        m.med2 / 2 AS median, m2.mad4 / 4 AS mad
      FROM t, m, m2"""))

  // ---------------------------------------------------------------- q269
  /** Per-segment Welch sweep ([[graft.operators.Welch.tTestBy]]): one
    * t-test per supplier nation — does the returned-vs-kept quantity
    * difference replicate across 25 markets at once? The sweep is ONE
    * map-side-combinable aggregate keyed on the segment (segments ×
    * 6 longs cross the wire — never a driver loop of scalar tests);
    * the `significant` flag applies the |t| > 3.2905 (two-sided
    * α=0.001) threshold the multiple-testing convention demands of a
    * 25-cell sweep. */
  val q269WelchSweep = Q(
    "q269_welch_sweep",
    (s, d) => {
      val j = Tables.lineitem(s, d)
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      graft.operators.Welch.tTestBy(j, col("s_nationkey"),
        col("l_returnflag") === "R", col("l_quantity"))
        .withColumn("significant", abs(col("t")) > 3.2905)
        .orderBy(col("segment"))
    },
    Some("""WITH j AS (SELECT s_nationkey AS seg,
          l_returnflag = 'R' AS g, cast(l_quantity AS bigint) AS x
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
      b AS (SELECT seg,
          cast(sum(CASE WHEN g THEN 1 ELSE 0 END) AS bigint) AS n1,
          cast(sum(CASE WHEN g THEN 0 ELSE 1 END) AS bigint) AS n0,
          cast(sum(CASE WHEN g THEN x ELSE 0 END) AS bigint) AS sum1,
          cast(sum(CASE WHEN g THEN 0 ELSE x END) AS bigint) AS sum0,
          cast(sum(CASE WHEN g THEN x * x ELSE 0 END) AS bigint) AS ss1,
          cast(sum(CASE WHEN g THEN 0 ELSE x * x END) AS bigint) AS ss0
        FROM j GROUP BY seg),
      m AS (SELECT *,
          cast(sum1 AS double) / n1 AS mean1,
          cast(sum0 AS double) / n0 AS mean0,
          CASE WHEN n1 < 2 THEN NULL
            ELSE (cast(ss1 AS double) - cast(sum1 AS double) * sum1
              / n1) / (n1 - 1) END AS var1,
          CASE WHEN n0 < 2 THEN NULL
            ELSE (cast(ss0 AS double) - cast(sum0 AS double) * sum0
              / n0) / (n0 - 1) END AS var0
        FROM b),
      v AS (SELECT *, var1 / n1 + var0 / n0 AS se2 FROM m),
      f AS (SELECT seg AS segment, n1, n0, sum1, sum0, ss1, ss0,
          mean1, mean0, var1, var0, se2,
          CASE WHEN se2 IS NULL OR se2 = 0 THEN NULL
            ELSE (mean1 - mean0) / sqrt(se2) END AS t,
          CASE WHEN se2 IS NULL OR se2 = 0 THEN NULL
            ELSE se2 * se2 / (var1 / n1 * (var1 / n1) / (n1 - 1)
              + var0 / n0 * (var0 / n0) / (n0 - 1)) END AS df_welch
        FROM v)
      SELECT *, abs(t) > 3.2905 AS significant
      FROM f ORDER BY segment"""))

  // ---------------------------------------------------------------- q267
  /** Robust outlier gate ([[graft.operators.RobustMean.outlierReport]]):
    * the modified z-score data-quality check on prices —
    * `|x − median| > 3.5·1.4826·MAD` evaluated entirely in integers
    * (1.4826 as the exact rational 14826/10000, the doubled med2/mad4
    * scalings cancelled into the constants 200000/518910). The gate a
    * mean/stddev rule cannot provide: the planted extremes that wreck
    * σ leave the median and MAD unmoved. */
  val q267OutlierGate = Q(
    "q267_outlier_gate",
    (s, d) => {
      graft.operators.RobustMean.outlierReport(
        Tables.lineitem(s, d),
        expr("cast(round(l_extendedprice * 100) as bigint)"),
        kNum = 35L, kDen = 10L)
    },
    Some("""WITH g AS (SELECT
          cast(round(l_extendedprice * 100) AS bigint) AS v,
          count(*) AS cnt
        FROM lineitem GROUP BY 1),
      c AS (SELECT v, cast(cnt AS bigint) AS cnt,
          cast(sum(cnt) OVER (ORDER BY v) AS bigint) AS cum
        FROM g),
      t AS (SELECT cast(sum(cnt) AS bigint) AS n FROM c),
      m AS (SELECT
          (SELECT min(c.v) FROM c, t WHERE c.cum >= (t.n + 1) // 2) +
          (SELECT min(c.v) FROM c, t WHERE c.cum >= t.n // 2 + 1)
            AS med2),
      d AS (SELECT abs(2 * c.v - m.med2) AS v, c.cnt FROM c, m),
      dg AS (SELECT v, cast(sum(cnt) AS bigint) AS cnt
        FROM d GROUP BY v),
      dc AS (SELECT v, cnt,
          cast(sum(cnt) OVER (ORDER BY v) AS bigint) AS cum
        FROM dg),
      m2 AS (SELECT
          (SELECT min(dc.v) FROM dc, t WHERE dc.cum >= (t.n + 1) // 2) +
          (SELECT min(dc.v) FROM dc, t WHERE dc.cum >= t.n // 2 + 1)
            AS mad4),
      o AS (SELECT g.v, cast(g.cnt AS bigint) AS cnt,
          200000 * abs(2 * g.v - m.med2) > 518910 * m2.mad4 AS is_out
        FROM g, m, m2)
      SELECT t.n, m.med2, m2.mad4,
        cast(sum(CASE WHEN is_out THEN cnt ELSE 0 END) AS bigint)
          AS n_outliers,
        cast(min(CASE WHEN is_out THEN v END) AS bigint) AS out_min,
        cast(max(CASE WHEN is_out THEN v END) AS bigint) AS out_max,
        cast(coalesce(sum(CASE WHEN is_out THEN v * cnt END), 0)
          AS bigint) AS sum_outliers
      FROM o, t, m, m2
      GROUP BY t.n, m.med2, m2.mad4"""))

  // ---------------------------------------------------------------- q263
  /** Cohen's kappa ([[graft.operators.Agreement]]): chance-corrected
    * agreement between two deterministic labelers of the event stream
    * (a 75%-agree synthetic pair — labels derived from ids, identical
    * in both engines). κ clears to a ratio of bigints; the shuffle
    * carries the 3×3 confusion cells, never events. */
  val q263Kappa = Q(
    "q263_cohens_kappa",
    (s, d) => {
      val e = Tables.events(s, d)
      graft.operators.Agreement.cohensKappa(e,
        col("user_id") % 3L,
        when(col("event_id") % 4L === 0L, (col("user_id") + 1L) % 3L)
          .otherwise(col("user_id") % 3L))
    },
    Some("""WITH p AS (SELECT user_id % 3 AS la,
          CASE WHEN event_id % 4 = 0 THEN (user_id + 1) % 3
            ELSE user_id % 3 END AS lb
        FROM events),
      cells AS (SELECT la, lb, cast(count(*) AS bigint) AS c
        FROM p GROUP BY la, lb),
      r AS (SELECT la AS k, cast(sum(c) AS bigint) AS row_k
        FROM cells GROUP BY la),
      cl AS (SELECT lb AS k, cast(sum(c) AS bigint) AS col_k
        FROM cells GROUP BY lb),
      ch AS (SELECT cast(coalesce(sum(row_k * col_k), 0) AS bigint)
          AS chance_num
        FROM r JOIN cl USING (k)),
      t AS (SELECT cast(sum(c) AS bigint) AS n,
          cast(sum(CASE WHEN la = lb THEN c ELSE 0 END) AS bigint)
            AS agree
        FROM cells)
      SELECT n, agree, chance_num,
        n * agree - chance_num AS kappa_num,
        n * n - chance_num AS kappa_den,
        CASE WHEN n * n - chance_num = 0 THEN NULL
          ELSE (n * agree - chance_num) / (n * n - chance_num)
          END AS kappa
      FROM t, ch"""))

  def all: Seq[Q] = Seq(q192CohortRetention, q193CumulativeDistinct,
    q194MarkovTransitions, q195CubeLattice, q199CooccurLift,
    q202BasketRules, q204SeasonalAnomalies, q205HoppingWindows,
    q208GroupTrend, q209DriftTv, q222Attribution, q224LinearAttribution,
    q235AucExact, q239CalibrationBins, q240CalibrationSummary,
    q244Concentration, q245ChiSquare, q246KsDrift, q247Bootstrap,
    q249Ndcg, q250HitsAtK, q251Welch, q253Pearson, q254Spearman,
    q255TimeDecay, q256Ecdf, q257RobustMean, q260TrendOls,
    q263Kappa, q264MedianMad, q266Rfm, q267OutlierGate,
    q268BootstrapFast, q269WelchSweep, q273RollingActives,
    q275RankerAgreement)
}
