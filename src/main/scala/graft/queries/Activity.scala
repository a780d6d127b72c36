package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Listens-engine-shaped analytics over the `events` surrogate fact table:
  * daily/hourly activity grids, top-entity-per-user with nested results,
  * time-range densification — the reference's stats-query shapes
  * (SURVEY.md §2.4 A6/A8, §2.8 date/array functions) on synthetic data.
  */
object Activity {

  // ---------------------------------------------------------------- q34
  /** Daily-activity grid: day-of-week name × hour listen counts
    * (user/daily_activity pattern; date_format 'EEEE' ≡ DuckDB dayname). */
  val q34DailyActivity = Q(
    "q34_daily_activity",
    (s, d) => Tables.events(s, d)
      .groupBy(date_format(col("ts"), "EEEE").as("day"),
        hour(col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("day"), col("hour")),
    Some("""SELECT dayname(ts) AS day, hour(ts) AS hour,
      count(*) AS n_events, count(DISTINCT user_id) AS n_users
      FROM events GROUP BY 1, 2 ORDER BY day, hour"""))

  // ---------------------------------------------------------------- q35
  /** Top-entity-per-user with nested sorted results — the canonical
    * user-artist stat: count per (user, entity), window top-k, then
    * collect_list(struct) sorted desc with count as the leading struct
    * field (field order is semantically load-bearing, SURVEY §2.6 O3). */
  val q35TopEntityNested = Q(
    "q35_top_entity_nested",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("cnt").desc, col("event_type"))
      Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("cnt"), col("event_type"))),
          asc = false).as("tops"))
        .select(col("user_id"),
          EngineQueries.flat(col("tops"), "event_type", "cnt")
            .as("top_entities"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, array_to_string(list_transform(
      list_sort(list(struct_pack(cnt := cnt, event_type := event_type)),
        'DESC'), x -> x.event_type || '=' || x.cnt), '|') AS top_entities
      FROM (
        SELECT user_id, event_type, cnt, row_number() OVER (
          PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rn
        FROM (SELECT user_id, event_type, count(*) AS cnt FROM events
          GROUP BY 1, 2) a) b
      WHERE rn <= 3 GROUP BY user_id ORDER BY user_id"""))

  // ---------------------------------------------------------------- q36
  /** Time-range densification: per-day listen counts over the full data
    * range with zero-filled gaps (listening_activity pattern; the range
    * comes from the data's own min/max, as the reference anchors ranges to
    * max listened_at, not wall clock). */
  val q36TimeRangeDensify = Q(
    "q36_timerange_densify",
    (s, d) => {
      val ev = Tables.events(s, d)
      val range = ev.agg(
        to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
      val days = range.select(
        explode(sequence(col("d0"), col("d1"))).as("day"))
      val perDay = ev.groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      days.join(perDay, Seq("day"), "left")
        .select(col("day").cast("string").as("day"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("day"))
    },
    Some("""SELECT cast(day AS varchar) AS day, coalesce(n, 0) AS n
      FROM (SELECT unnest(generate_series(
          (SELECT min(ts::date) FROM events),
          (SELECT max(ts::date) FROM events), INTERVAL 1 DAY))::date AS day) g
      LEFT JOIN (SELECT ts::date AS pd, count(*) AS n FROM events
        GROUP BY 1) c ON g.day = c.pd
      ORDER BY day"""))

  // ---------------------------------------------------------------- q37
  /** Map-shaped result via map-entries (most_listened_year pattern, A8).
    * Emitted as a sorted entry list (k,v struct array) — semantically the
    * map, but deterministically ordered for cross-engine comparison. */
  val q37MapEntries = Q(
    "q37_map_entries",
    (s, d) => Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("event_type"), col("cnt"))))
        .as("tc"))
      .select(col("user_id"),
        EngineQueries.flat(col("tc"), "event_type", "cnt").as("type_counts"))
      .orderBy(col("user_id")),
    Some("""SELECT user_id, array_to_string(list_transform(
      list_sort(list(struct_pack(event_type := event_type, cnt := cnt))),
      x -> x.event_type || '=' || x.cnt), '|') AS type_counts
      FROM (SELECT user_id, event_type, count(*) AS cnt FROM events
        GROUP BY 1, 2) t GROUP BY user_id ORDER BY user_id"""))

  // ---------------------------------------------------------------- q38
  /** Scalar string-function surface (SURVEY §2.8): split_part, lower/upper,
    * length, substring, nullif/coalesce, concat. */
  val q38StringFns = Q(
    "q38_string_fns",
    (s, d) => Tables.documents(s, d)
      .select(
        col("doc_id"),
        split_part(col("text"), lit(" "), lit(1)).as("first_tok"),
        upper(col("source")).as("src_upper"),
        length(col("text")).as("text_len"),
        substring(col("text"), 1, 12).as("head"),
        coalesce(nullif(col("lang"), lit("")), lit("unk")).as("lang_norm"),
        concat_ws("/", col("lang"), col("source")).as("lang_src"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, split_part(text, ' ', 1) AS first_tok,
      upper(source) AS src_upper, length(text) AS text_len,
      substring(text, 1, 12) AS head,
      coalesce(nullif(lang, ''), 'unk') AS lang_norm,
      concat_ws('/', lang, source) AS lang_src
      FROM documents ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q39
  /** explode of a split array (LATERAL-VIEW pattern): global token counts,
    * top-100 with total ordering. */
  val q39ExplodeTokens = Q(
    "q39_explode_tokens",
    (s, d) => Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(100),
    Some("""SELECT token, count(*) AS n FROM (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
      WHERE token <> '' GROUP BY token
      ORDER BY n DESC, token LIMIT 100"""))

  // ---------------------------------------------------------------- q40
  /** Date-part extraction surface: year/month/day/hour + epoch math. */
  val q40DateParts = Q(
    "q40_date_parts",
    (s, d) => Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy(col("y"), col("m")),
    Some("""SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
      count(*) AS n_orders, count(DISTINCT o_custkey) AS n_cust
      FROM orders GROUP BY 1, 2 ORDER BY y, m"""))

  val all: Seq[Q] = Seq(
    q34DailyActivity, q35TopEntityNested, q36TimeRangeDensify, q37MapEntries,
    q38StringFns, q39ExplodeTokens, q40DateParts)
}
