package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.engine.StatsRange
import graft.popularity.Popularity

/** Remaining inventory coverage: data-anchored stats ranges, popularity
  * datasets, country rollups (artist-map shape), seeded random sampling
  * (W10), custom-comparator array_sort (O4). */
object MiscQueries {

  // ---------------------------------------------------------------- q75
  /** Data-anchored "week" stats range: the window is the previous complete
    * Mon–Sun week relative to max(ts) IN THE DATA (StatsRange semantics) —
    * computed driver-side from a scalar agg, then applied as a pushed-down
    * range filter. */
  val q75RangeWeek = Q(
    "q75_range_week",
    (s, d) => {
      val ev = Tables.events(s, d)
      val maxTs = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0)
      val (from, to) = StatsRange.window("week", maxTs)
      ev.filter(col("ts") >= lit(from) && col("ts") < lit(to))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("listen_count"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy(col("user_id"))
    },
    Some("""WITH mx AS (SELECT date_trunc('week', max(ts)) AS mon FROM events)
      SELECT user_id, count(*) AS listen_count,
        count(DISTINCT event_type) AS n_types
      FROM events, mx
      WHERE ts >= mon - INTERVAL 7 DAY AND ts < mon
      GROUP BY user_id ORDER BY user_id"""))

  // ---------------------------------------------------------------- q76
  /** Entity popularity (total listens + exact unique listeners). */
  val q76Popularity = Q(
    "q76_popularity",
    (s, d) => Popularity.entity(Tables.events(s, d), "user_id",
        Seq("event_type"))
      .orderBy(col("event_type")),
    Some("""SELECT event_type, count(*) AS total_listen_count,
      count(DISTINCT user_id) AS total_user_count
      FROM events GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------- q77
  /** Per-group popularity top-k (per-artist popularity shape): each
    * supplier's top-3 parts by purchase count with distinct-buyer counts. */
  val q77PopularityPerGroup = Q(
    "q77_popularity_per_group",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey"), col("l_partkey"), col("o_custkey"))
      Popularity.perGroup(li, "o_custkey",
          Seq("l_suppkey"), Seq("l_partkey"), top = 3)
        .orderBy(col("l_suppkey"), col("rank"))
    },
    Some("""SELECT l_suppkey, l_partkey, total_listen_count,
      total_user_count, rank FROM (
      SELECT l_suppkey, l_partkey, count(*) AS total_listen_count,
        count(DISTINCT o_custkey) AS total_user_count,
        row_number() OVER (PARTITION BY l_suppkey
          ORDER BY count(*) DESC, l_partkey) AS rank
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY l_suppkey, l_partkey) t
      WHERE rank <= 3 ORDER BY l_suppkey, rank"""))

  // ---------------------------------------------------------------- q78
  /** Country rollup — the artist-map shape (listeners per country via the
    * country dimension): distinct buyers and order counts per nation and
    * region. */
  val q78CountryMap = Q(
    "q78_country_map",
    (s, d) => Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(countDistinct(col("o_custkey")).as("n_buyers"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("r_name"), col("n_name")),
    Some("""SELECT r_name, n_name, count(DISTINCT o_custkey) AS n_buyers,
      count(*) AS n_orders
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name ORDER BY r_name, n_name"""))

  // ---------------------------------------------------------------- q79
  /** Hash-shuffled sampling (W10 — ORDER BY RANDOM() made cross-engine
    * reproducible): 2 events per user ranked by md5 of the row identity.
    * MD5 is bit-identical in Spark and DuckDB, so the SAMPLED ROWS
    * themselves are oracled — not just their count. The seeded rand(seed)
    * form (in-Spark reproducible, not portable) stays spec-verified in
    * PlaylistsSpec/QueriesSpec. */
  val q79SeededSample = Q(
    "q79_seeded_sample",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(md5(col("event_id").cast("string").cast("binary")))
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sampled"),
          array_join(sort_array(collect_list(col("event_id"))), ",")
            .as("sampled_ids"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, count(*) AS n_sampled,
        array_to_string(list_sort(list(event_id)), ',') AS sampled_ids
      FROM (
        SELECT user_id, event_id, row_number() OVER (
          PARTITION BY user_id ORDER BY md5(cast(event_id AS varchar))) AS rn
        FROM events) t
      WHERE rn <= 2 GROUP BY user_id ORDER BY user_id"""))

  // ---------------------------------------------------------------- q82
  /** Custom-comparator array_sort (O4): nested results ordered by
    * (count desc, name asc) via a comparator lambda, emitted as strings.
    * The oracle realizes the same ordering through a sort-key struct. */
  val q82ComparatorSort = Q(
    "q82_comparator_sort",
    (s, d) => Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("user_id"))
      .agg(collect_list(struct(col("cnt"), col("event_type"))).as("xs"))
      .select(col("user_id"),
        array_join(transform(
          array_sort(col("xs"), (l, r) =>
            when(l("cnt") > r("cnt"), -1).when(l("cnt") < r("cnt"), 1)
              .when(l("event_type") < r("event_type"), -1)
              .when(l("event_type") > r("event_type"), 1)
              .otherwise(0)),
          x => concat_ws("=", x("event_type"), x("cnt"))), "|").as("ranked"))
      .orderBy(col("user_id")),
    Some("""SELECT user_id,
      array_to_string(list_transform(
        list_sort(list(struct_pack(nc := -cnt, et := event_type))),
        x -> concat_ws('=', x.et, -x.nc)), '|') AS ranked
      FROM (SELECT user_id, event_type, count(*) AS cnt FROM events
        GROUP BY 1, 2) t GROUP BY user_id ORDER BY user_id"""))

  // ---------------------------------------------------------------- q88
  /** Periodic-jams playlist (troi semantics): per-user top entities minus
    * hated ones (anti join on synthetic feedback derived from the data),
    * shuffled, capped (troi/periodic_jams.py:62). The reference's ORDER BY
    * RANDOM() is replaced with a per-(user, entity) md5 key — identical in
    * both engines, so the whole playlist is hash-oracled; the seeded-rand
    * form is spec-verified (seed-stability + hated-exclusion contracts in
    * PlaylistsSpec). */
  val q88PeriodicJams = Q(
    "q88_periodic_jams",
    (s, d) => {
      val ev = Tables.events(s, d)
      // synthetic feedback: a user who ever hit an error "hates" errors
      val feedback = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_type"), lit(-1).as("score"))
        .distinct()
      graft.playlists.Playlists.periodicJamsDeterministic(
          ev, feedback, "user_id", "event_type", maxPerPlaylist = 3,
          shuffleKey = md5(concat_ws(":",
            col("user_id").cast("string"), col("event_type")).cast("binary")))
        .orderBy(col("user_id"), col("position"))
    },
    Some("""WITH hated AS (
        SELECT DISTINCT user_id, event_type FROM events
        WHERE event_type = 'error'),
      counts AS (
        SELECT e.user_id, e.event_type, count(*) AS listen_count
        FROM events e ANTI JOIN hated h
          ON e.user_id = h.user_id AND e.event_type = h.event_type
        GROUP BY 1, 2),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY user_id
          ORDER BY md5(cast(user_id AS varchar) || ':' || event_type))
          AS position
        FROM counts)
      SELECT user_id, event_type, listen_count, position FROM ranked
      WHERE position <= 3 ORDER BY user_id, position"""))

  // ---------------------------------------------------------------- q92
  /** Year-in-Music day-of-week: each user's most active weekday
    * (year_in_music/day_of_week.py) — argmax with deterministic tiebreak
    * via the first-per-group struct-min pattern. */
  val q92DayOfWeek = Q(
    "q92_day_of_week",
    (s, d) => Tables.events(s, d)
      .groupBy(col("user_id"), date_format(col("ts"), "EEEE").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("user_id"))
      .agg(max(struct(col("cnt"), col("day"))).as("best"))
      .select(col("user_id"), col("best.day").as("day"),
        col("best.cnt").as("cnt"))
      .orderBy(col("user_id")),
    Some("""SELECT user_id, day, cnt FROM (
      SELECT user_id, day, cnt, row_number() OVER (
        PARTITION BY user_id ORDER BY cnt DESC, day DESC) AS rn
      FROM (SELECT user_id, dayname(ts) AS day, count(*) AS cnt
        FROM events GROUP BY 1, 2) a) b
      WHERE rn = 1 ORDER BY user_id"""))

  // ---------------------------------------------------------------- q93
  /** Year-in-Music new-artists-discovered: per user, entities whose FIRST
    * listen falls inside the discovery window (new_artists_discovered.py:36
    * — HAVING on min(listened_at)), as a count. The entity is the JSON
    * `props.k` field — also exercising the reference's JSON scalar surface
    * (to_json/from_json, SURVEY §2.8). */
  val q93NewDiscovered = Q(
    "q93_new_discovered",
    (s, d) => Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k"))
      .groupBy(col("user_id"), col("k"))
      .agg(min(col("ts")).as("first_listen"))
      .filter(col("first_listen") >= lit("2024-01-24").cast("timestamp"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("new_entities"))
      .orderBy(col("user_id")),
    Some("""SELECT user_id, count(*) AS new_entities FROM (
      SELECT user_id, json_extract_string(props, '$.k') AS k,
        min(ts) AS first_listen FROM events
      GROUP BY 1, 2 HAVING min(ts) >= TIMESTAMP '2024-01-24') t
      GROUP BY user_id ORDER BY user_id"""))

  // ---------------------------------------------------------------- q109
  /** W13: distributed dense-id assignment (zipWithIndex over a sorted
    * distinct frame — the replacement for the reference's global-rank
    * single-partition hazard, create_dataframes.py:235-264). Deterministic
    * given the sort, so directly oracle-able as row_number()-1. */
  val q109DenseIds = Q(
    "q109_dense_ids",
    (s, d) => graft.recs.Als.denseIds(
        Tables.part(s, d).select(col("p_brand")), "p_brand", "dense_id")
      .orderBy(col("p_brand")),
    Some("""SELECT p_brand, cast(row_number() OVER (ORDER BY p_brand) - 1
        AS int) AS dense_id
      FROM (SELECT DISTINCT p_brand FROM part) t ORDER BY p_brand"""))

  // ---------------------------------------------------------------- q110
  /** A7: collect_set — set-valued aggregation, canonicalized by sorting
    * (the only deterministic reading of a set), flattened for the
    * comparator. */
  val q110CollectSet = Q(
    "q110_collect_set",
    (s, d) => Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(array_join(sort_array(collect_set(col("event_type"))), ",")
        .as("types"))
      .orderBy(col("user_id")),
    Some("""SELECT user_id,
        array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types
      FROM events GROUP BY user_id ORDER BY user_id"""))

  // ---------------------------------------------------------------- q111
  /** J6: left join to a per-user watermark keeping rows with NO watermark
    * or strictly above it — the deleted-user-history truncation predicate
    * (reference listens/data.py:80-86, ListenStore.retractDeleted). */
  val q111WatermarkJoin = Q(
    "q111_watermark_join",
    (s, d) => {
      val orders = Tables.orders(s, d)
      val watermark = orders
        .filter(col("o_orderkey") % 7 === 0)
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("max_created"))
      orders.join(watermark, Seq("o_custkey"), "left")
        .filter(col("max_created").isNull ||
          col("o_orderdate") > col("max_created"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("kept_orders"))
        .orderBy(col("o_custkey"))
    },
    Some("""WITH w AS (
        SELECT o_custkey, max(o_orderdate) AS max_created
        FROM orders WHERE o_orderkey % 7 = 0 GROUP BY 1)
      SELECT o.o_custkey, count(*) AS kept_orders
      FROM orders o LEFT JOIN w ON o.o_custkey = w.o_custkey
      WHERE w.max_created IS NULL OR o.o_orderdate > w.max_created
      GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q112
  /** §1.4 artists-JSONB parse: a JSON array-of-structs string column
    * parsed with from_json into ArrayType(StructType(...)) and exploded —
    * the reference's postgres artists-column import (schema.py:50-54,
    * postgres/utils.py:27) — plus the to_json round-trip. The oracle
    * derives the same rows without JSON, so Spark's parse must round-trip
    * exactly to match. */
  val q112JsonArtists = Q(
    "q112_json_artists",
    (s, d) => {
      val schema = org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("name",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("pos",
            org.apache.spark.sql.types.IntegerType))))
      Tables.part(s, d)
        .select(col("p_partkey"),
          concat(lit("""[{"name":""""), col("p_brand"),
            lit("""","pos":1},{"name":""""),
            split(col("p_type"), " ").getItem(0),
            lit("""","pos":2}]""")).as("artists_json"))
        .select(col("p_partkey"),
          from_json(col("artists_json"), schema).as("artists"))
        .select(col("p_partkey"),
          explode(col("artists")).as("a"),
          to_json(col("artists")).as("roundtrip"))
        .select(col("p_partkey"), col("a.name").as("name"),
          col("a.pos").as("pos"), col("roundtrip"))
        .orderBy(col("p_partkey"), col("pos"))
    },
    Some("""SELECT p_partkey, name, pos,
        '[{"name":"' || p_brand || '","pos":1},{"name":"' ||
          string_split(p_type, ' ')[1] || '","pos":2}]' AS roundtrip
      FROM (
        SELECT p_partkey, p_brand, p_type, p_brand AS name, 1 AS pos
        FROM part
        UNION ALL
        SELECT p_partkey, p_brand, p_type, string_split(p_type, ' ')[1], 2
        FROM part) t
      ORDER BY p_partkey, pos"""))

  // ---------------------------------------------------------------- q113
  /** Periodic jams with an entity-level deterministic shuffle key: the
    * full troi data flow (hated-feedback anti join + per-user shuffle rank
    * + cap) made cross-engine reproducible. q88 shuffles per (user,
    * entity); this variant shuffles per entity — same playlist order for
    * every user, the "site-wide jam of the day" reading. */
  val q113JamsDeterministic = Q(
    "q113_jams_deterministic",
    (s, d) => {
      val ev = Tables.events(s, d)
      val feedback = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_type"), lit(-1).as("score"))
        .distinct()
      graft.playlists.Playlists.periodicJamsDeterministic(
          ev, feedback, "user_id", "event_type", maxPerPlaylist = 2,
          // md5 over the FULL string: collision-resistant, unlike a
          // first-char/length key, and bit-identical across engines
          shuffleKey = md5(col("event_type").cast("binary")))
        .orderBy(col("user_id"), col("position"))
    },
    Some("""WITH hated AS (
        SELECT DISTINCT user_id, event_type FROM events
        WHERE event_type = 'error'),
      counts AS (
        SELECT e.user_id, e.event_type, count(*) AS listen_count
        FROM events e ANTI JOIN hated h
          ON e.user_id = h.user_id AND e.event_type = h.event_type
        GROUP BY 1, 2),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY user_id
          ORDER BY md5(event_type)) AS position
        FROM counts)
      SELECT user_id, event_type, listen_count, position FROM ranked
      WHERE position <= 2 ORDER BY user_id, position"""))

  // ---------------------------------------------------------------- q114
  /** Out-of-core chunked execution END-TO-END (the MLHD pattern,
    * similarity/recording/common.py:190-213): the input is split into the
    * reference's hex-prefix user chunks (mlhd/download.py:24-27 — leading
    * char of the user id's string form, so UUID and integer keys both
    * work), each chunk's partial aggregate is persisted independently, and
    * the final stats run over the union of partials — the oracle computes
    * the same top-k directly, so a hash match proves the prefix-chunked
    * decomposition is disjoint, covering, and lossless. */
  val q114ChunkedTopk = Q(
    "q114_chunked_topk",
    (s, d) => {
      val provider = graft.engine.TopEntityStats(
        "user_id", Seq("event_type"), top = 3)
      val chunks = graft.ingest.MlhdImport.Chunks
        .map(c => graft.ingest.MlhdImport.chunkOf(col("user_id")) === c)
      val work = graft.core.TempWork.dir("graft-chunked-q114")
      graft.engine.ChunkedRunner
        .run(s, Tables.events(s, d), provider, chunks, work)
        .select(col("user_id"), col("total_count"),
          EngineQueries.flat(col("top_entities"), "event_type",
            "listen_count").as("top_entities"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, total_count, top_entities FROM (
      SELECT user_id, cast(sum(cnt) AS bigint) AS total_count,
        array_to_string(list_transform(
          list_sort(list(struct_pack(listen_count := cnt,
            event_type := event_type)) FILTER (WHERE rn <= 3), 'DESC'),
          x -> x.event_type || '=' || x.listen_count), '|') AS top_entities
      FROM (
        SELECT user_id, event_type, cnt, row_number() OVER (
          PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rn
        FROM (SELECT user_id, event_type, count(*) AS cnt FROM events
          GROUP BY 1, 2) a) b
      GROUP BY user_id) c ORDER BY user_id"""))

  // ---------------------------------------------------------------- q119
  /** Salted two-stage aggregation END-TO-END: the skew-mitigation path
    * (core.Salting — a hot key spread over salt buckets before the final
    * combine) must produce results identical to the direct aggregation,
    * which is exactly what the plain-group-by oracle asserts. Quantities
    * snap to integer cents first so the split-stage sums are
    * order-insensitive and exact. */
  val q119SaltedAgg = Q(
    "q119_salted_agg",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .withColumn("qty_c", round(col("l_quantity") * 100).cast("long"))
      graft.core.Salting.saltedCountSum(
          li, Seq("l_returnflag"), "qty_c", buckets = 16)
        .select(col("l_returnflag"), col("cnt"),
          (col("sum") / 100.0).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag, count(*) AS cnt,
        cast(sum(cast(round(l_quantity * 100) AS bigint)) AS bigint) / 100.0
          AS sum_qty
      FROM lineitem GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q130
  /** As-of join over the event stream: every click matched to that user's
    * latest purchase at-or-before it ([[graft.operators.AsOfJoin]] — the
    * union + running-last sort-merge shape, one shuffle, never a ts-range
    * theta join). The oracle states the same semantics independently as
    * join + max(ts) + join-back, so a hash match verifies the operator's
    * at-or-before/latest contract, not its implementation. */
  val q130AsofJoin = Q(
    "q130_asof_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("purchase_id")) // unique per (key, ts)
      graft.operators.AsOfJoin.asOf(
          clicks, purchases, Seq("user_id"), "ts",
          valueCols = Seq("purchase_id", "ts"))
        .filter(col("asof_purchase_id").isNotNull) // inner semantics
        .select(col("click_id"), col("user_id"),
          unix_micros(col("ts")).as("click_us"),
          unix_micros(col("asof_ts")).as("asof_us"),
          col("asof_purchase_id"))
        .orderBy(col("click_id"))
    },
    Some("""WITH clicks AS (
        SELECT user_id, ts, event_id AS click_id FROM events
        WHERE event_type = 'click'),
      purchases AS (
        SELECT user_id, ts, max(event_id) AS purchase_id FROM events
        WHERE event_type = 'purchase' GROUP BY 1, 2),
      matched AS (
        SELECT c.click_id, c.user_id, c.ts AS cts, max(p.ts) AS pts
        FROM clicks c JOIN purchases p
          ON c.user_id = p.user_id AND p.ts <= c.ts
        GROUP BY 1, 2, 3)
      SELECT m.click_id, m.user_id, epoch_us(m.cts) AS click_us,
        epoch_us(m.pts) AS asof_us, p.purchase_id AS asof_purchase_id
      FROM matched m JOIN purchases p
        ON m.user_id = p.user_id AND m.pts = p.ts
      ORDER BY click_id"""))

  // ---------------------------------------------------------------- q131
  /** Range join over the event stream: every click inside any same-user
    * 30-minute purchase window ([[graft.operators.RangeJoin]] — bin
    * bucketing, each pair emitted exactly once through the click's single
    * bin). The oracle is the plain theta join DuckDB can afford at this
    * scale, so a hash match proves the bucketed decomposition returns
    * exactly the theta-join pair set. */
  val q131RangeJoin = Q(
    "q131_range_join",
    (s, d) => {
      val W = 1800000000L // 30 min in micros = the bin width
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("click_us"),
          col("event_id").as("click_id"))
      val wins = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("win_start_us"),
          (unix_micros(col("ts")) + W).as("win_end_us"),
          col("event_id").as("window_id"))
      graft.operators.RangeJoin.byBins(clicks, wins, Seq("user_id"),
          "click_us", "win_start_us", "win_end_us", binWidth = W)
        .select(col("click_id"), col("window_id"), col("user_id"),
          col("click_us"), col("win_start_us"))
        .orderBy(col("click_id"), col("window_id"))
    },
    Some("""WITH clicks AS (
        SELECT user_id, epoch_us(ts) AS click_us, event_id AS click_id
        FROM events WHERE event_type = 'click'),
      wins AS (
        SELECT user_id, epoch_us(ts) AS win_start_us,
          epoch_us(ts) + 1800000000 AS win_end_us, event_id AS window_id
        FROM events WHERE event_type = 'purchase')
      SELECT c.click_id, w.window_id, c.user_id, c.click_us,
        w.win_start_us
      FROM clicks c JOIN wins w ON c.user_id = w.user_id
        AND c.click_us >= w.win_start_us AND c.click_us <= w.win_end_us
      ORDER BY click_id, window_id"""))

  // ---------------------------------------------------------------- q134
  /** Exact/approx popularity pair — the HLL escape hatch for the regime
    * where the exact distinct's (entity, user) pair shuffle IS the job
    * cost (the reference's 27B-listen MLHD popularity; q77 is the exact
    * shape). The approx path ([[Popularity.entityApprox]],
    * `popularity.* approx=true` in dispatch) shuffles one fixed-size
    * HyperLogLog++ sketch per entity instead.
    *
    * Oracle shape: the entity keys and exact counts are hash-exact; the
    * approx estimate itself is engine-specific, so what's oracled is its
    * ERROR ENVELOPE — |approx − exact| ≤ max(3·rsd·exact, 2) collapsed to
    * a boolean the oracle asserts as TRUE. Rows identical + per-row bound:
    * exactly the "counts within rsd" gate, driver-checkable. */
  val q134PopularityApprox = Q(
    "q134_popularity_approx",
    (s, d) => {
      val ev = Tables.events(s, d)
      val rsd = 0.05
      val exact = Popularity.entity(ev, "user_id", Seq("event_type"))
      val approx = Popularity.entityApprox(ev, "user_id", Seq("event_type"),
          rsd)
        .select(col("event_type"), col("approx_user_count"))
      exact.join(approx, Seq("event_type"))
        .select(col("event_type"), col("total_listen_count"),
          col("total_user_count"),
          (abs(col("approx_user_count") - col("total_user_count")) <=
            greatest(col("total_user_count") * (3 * rsd), lit(2.0)))
            .as("approx_within_rsd"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS total_listen_count,
      count(DISTINCT user_id) AS total_user_count,
      TRUE AS approx_within_rsd
      FROM events GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------- q154
  /** Salted JOIN end-to-end ([[graft.core.Salting.saltedJoin]] — q119's
    * skew treatment applied to the join itself): the fact side carries a
    * row-derived salt, the dim side is replicated once per salt value,
    * and the join runs on (key, salt) so a hot orderkey spreads over 8
    * reducers instead of pinning one. The plain-join oracle asserts the
    * exact contract: salting must not change a single joined row.
    * Quantities snap to cents so the downstream sums are exact. */
  val q154SaltedJoin = Q(
    "q154_salted_join",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("price_c"))
      val ords = Tables.orders(s, d).select(
        col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.core.Salting.saltedJoin(li, ords, Seq("l_orderkey"), buckets = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          (sum(col("price_c")) / 100.0).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, count(*) AS cnt,
        cast(sum(cast(round(l_extendedprice * 100) AS bigint)) AS bigint)
          / 100.0 AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q157
  /** Z-order (Morton) key computation ([[graft.operators.ZOrder]] — the
    * multi-dimensional layout key under which one sorted write gives
    * every file a tight min/max envelope in EVERY constituent dimension,
    * so footer stats prune scans on any of them). The z-value is pure
    * bit arithmetic, so the oracle replays the interleave bit-for-bit;
    * ZOrderSpec separately proves the locality property the key buys. */
  val q157ZorderKey = Q(
    "q157_zorder_key",
    (s, d) => {
      import graft.operators.ZOrder
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          ZOrder.zValue(Seq(
            ZOrder.zBucket(col("user_id"), 8),
            ZOrder.zBucket(col("event_id"), 8)), bits = 8).as("zval"))
        .orderBy(col("zval"), col("event_id")).limit(300)
        .orderBy(col("zval"), col("event_id"))
    },
    Some {
      val terms = (0 until 8).flatMap(b => Seq(
        s"((((user_id & 255) >> $b) & 1) << ${2 * b})",
        s"((((event_id & 255) >> $b) & 1) << ${2 * b + 1})"))
      s"""SELECT event_id, user_id, ${terms.mkString(" + ")} AS zval
        FROM events ORDER BY zval, event_id LIMIT 300"""
    })

  // ---------------------------------------------------------------- q160
  /** Ordered funnel ([[graft.operators.Funnel]]): per user, the earliest
    * view, the earliest click STRICTLY after it, the earliest purchase
    * after that — computed in ONE user-keyed shuffle with a k-slot fold
    * over each user's time-sorted events, never the k-way self-join. The
    * oracle states the same semantics as the textbook chain of
    * min-subqueries, so a hash match proves the fold implements exactly
    * the strict-sequence contract. */
  val q160Funnel = Q(
    "q160_funnel",
    (s, d) => graft.operators.Funnel.completions(
        Tables.events(s, d), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .orderBy(col("user_id")),
    Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
      s1 AS (SELECT user_id, min(ts) AS step_1 FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (SELECT e.user_id, min(e.ts) AS step_2 FROM events e
        JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.step_1
        GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, min(e.ts) AS step_3 FROM events e
        JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.step_2
        GROUP BY e.user_id)
      SELECT u.user_id, step_1, step_2, step_3,
        cast(CASE WHEN step_3 IS NOT NULL THEN 3
          WHEN step_2 IS NOT NULL THEN 2
          WHEN step_1 IS NOT NULL THEN 1 ELSE 0 END AS bigint)
          AS steps_completed
      FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        LEFT JOIN s3 USING (user_id)
      ORDER BY u.user_id"""))

  // ---------------------------------------------------------------- q162
  /** Integer-mass influence propagation ([[graft.operators.MassRank]] —
    * PageRank semantics on the supplier→customer order graph, computed
    * in EXACT integer mass units so every iteration is bit-reproducible:
    * damped out-flow by integer division, remainders retained, dangling
    * nodes keep everything, total mass conserved as an integer identity.
    * The oracle replays all three iterations as chained CTEs with `//`
    * and `%`, so a hash match pins the entire propagation, which float
    * PageRank can never offer an independent engine. */
  val q162MassRank = Q(
    "q162_mass_rank",
    (s, d) => {
      val edges = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("s"), col("l_suppkey")).as("src"),
          concat(lit("c"), col("o_custkey")).as("dst"))
        .distinct()
      graft.operators.MassRank.rank(edges, "src", "dst", iters = 3)
        .orderBy(col("node"))
    },
    Some {
      val pre = """WITH edges AS (
          SELECT DISTINCT 's' || cast(l_suppkey AS varchar) AS src,
            'c' || cast(o_custkey AS varchar) AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        nodes AS (SELECT src AS node FROM edges
          UNION SELECT dst AS node FROM edges),
        outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
        m0 AS (SELECT node, cast(1000000 AS bigint) AS mass FROM nodes)"""
      val rounds = (1 to 3).map { i =>
        s""",
        s$i AS (SELECT m.node, m.mass, o.od,
            CASE WHEN o.od IS NULL THEN 0
              ELSE (m.mass * 85) // 100 END AS out_mass,
            CASE WHEN o.od IS NULL THEN NULL
              ELSE ((m.mass * 85) // 100) // o.od END AS share
          FROM m${i - 1} m LEFT JOIN outdeg o ON m.node = o.src),
        r$i AS (SELECT e.dst AS node, sum(s.share) AS recv
          FROM edges e JOIN s$i s ON e.src = s.node GROUP BY e.dst),
        m$i AS (SELECT s.node,
            cast(s.mass - s.out_mass +
              CASE WHEN s.od IS NULL THEN 0 ELSE s.out_mass % s.od END +
              coalesce(r.recv, 0) AS bigint) AS mass
          FROM s$i s LEFT JOIN r$i r ON s.node = r.node)"""
      }.mkString
      pre + rounds + "\nSELECT node, mass FROM m3 ORDER BY node"
    })

  // ---------------------------------------------------------------- q163
  /** Trailing-window sequence extraction
    * ([[graft.operators.EventWindows]]): every 4th position of each
    * user's time-ordered history emits the trailing 8 event types as one
    * training sequence — rank and the sliding collect share ONE window
    * sort. The oracle replays ranks, fenceposts, and the sequence
    * CONTENTS (as a joined string, sidestepping array-encoding
    * differences), so the verdict pins every emitted sequence
    * byte-for-byte. */
  val q163EventWindows = Q(
    "q163_event_windows",
    (s, d) => graft.operators.EventWindows.trailing(
        Tables.events(s, d), "user_id", "ts", "event_id",
        col("event_type"), k = 8, stride = 4)
      .select(col("user_id"), col("end_rank").cast("long").as("end_rank"),
        concat_ws(" ", col("seq")).as("seq_str"),
        size(col("seq")).cast("long").as("seq_len"))
      .orderBy(col("user_id"), col("end_rank")),
    Some("""WITH r AS (SELECT user_id, event_id,
        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS end_rank,
        list(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS win
      FROM events)
      SELECT user_id, end_rank, array_to_string(win, ' ') AS seq_str,
        cast(len(win) AS bigint) AS seq_len
      FROM r WHERE end_rank >= 8 AND (end_rank - 8) % 4 = 0
      ORDER BY user_id, end_rank"""))

  // ---------------------------------------------------------------- q191
  /** Triangle counting ([[graft.operators.Triangles.perNode]]) over the
    * part co-order graph (edges = part pairs sharing an order — the
    * market-basket co-occurrence graph; pair generation bounded per
    * order like J7's session pairs): per-node triangle participation
    * via DEGREE ORIENTATION — wedges only from out-neighbor pairs
    * (Σ d_out² with d_out ≤ O(√m), hub-proof), each triangle exactly
    * one wedge, closed by a pure equi-join. The oracle enumerates
    * ordered triples x<y<z directly — a differential against an
    * independent formulation, not a replay. */
  val q191Triangles = Q(
    "q191_triangles",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val e = li.alias("x").join(li.alias("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      graft.operators.Triangles.perNode(e, "src", "dst")
        .orderBy(col("node"))
    },
    Some("""WITH li AS (SELECT l_orderkey AS o, l_partkey AS p
        FROM lineitem),
      e AS (SELECT DISTINCT x.p AS a, y.p AS b
        FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
      t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1 JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      n AS (SELECT x AS node FROM t
        UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t)
      SELECT node, count(*) AS n_triangles FROM n
      GROUP BY node ORDER BY node"""))

  // ---------------------------------------------------------------- q217
  /** DOULION approximate triangle count ([[graft.operators.Triangles
    * .doulion]]) beside the exact count on the same part co-order graph:
    * each edge survives a deterministic md5 coin with p = 1/2, the exact
    * machinery counts the sampled graph, and ×8 unbiases the estimate —
    * the scale path for the regime where even degree-oriented exact
    * counting is wedge-bound (q191: 18× at 30×; sampling cuts the close
    * shuffle by ~p³). The coin is seeded-sampling-replayable, so the
    * oracle reproduces the IDENTICAL sampled edge set and the driver
    * hash pins exact count, sampled count, estimate, AND the
    * basis-point error — measured accuracy, not asserted. */
  val q217DoulionTriangles = Q(
    "q217_doulion_triangles",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val raw = li.alias("x").join(li.alias("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      // materialize the DISTINCT canonical edge set (orders of magnitude
      // smaller than the raw pair multiset) — it feeds both the exact
      // count and the sampled estimate; canonical() is idempotent
      // downstream. Size-gated placement: pinned below the gate,
      // local-disk stage above (the round-12 4 GiB-tier OOM class)
      val eP = graft.operators.Triangles.materializeCanonical(
        raw, "src", "dst")
      val e = eP.df
      // e is already canonical and pinned: both passes share the ONE
      // materialized edge copy instead of re-pinning per consumer, and
      // the placement's measured count rides along (no re-count job)
      val exact = graft.operators.Triangles
        .trianglesOfCanonical(e, eP.rows)
        .agg(count(lit(1)).as("exact_triangles"))
      val est = graft.operators.Triangles.doulion(e, "a", "b",
        keepHex = 8)
      exact.crossJoin(est)
        .withColumn("err_bp", expr("CASE WHEN exact_triangles > 0 THEN " +
          "abs(doulion_estimate - exact_triangles) * 10000 div " +
          "exact_triangles ELSE 0 END"))
        .select(col("exact_triangles"), col("sampled_triangles"),
          col("doulion_estimate"), col("err_bp"))
    },
    Some("""WITH li AS (SELECT l_orderkey AS o, l_partkey AS p
        FROM lineitem),
      e AS (SELECT DISTINCT x.p AS a, y.p AS b
        FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
      s AS (SELECT a, b FROM e
        WHERE substr(md5(cast(a AS varchar) || ':' || cast(b AS varchar)
          || ':doulion'), 1, 1)
          IN ('0','1','2','3','4','5','6','7')),
      t AS (SELECT count(*) AS c FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      ts AS (SELECT count(*) AS c FROM s e1
        JOIN s e2 ON e2.a = e1.b
        JOIN s e3 ON e3.a = e1.a AND e3.b = e2.b)
      SELECT cast(t.c AS bigint) AS exact_triangles,
        cast(ts.c AS bigint) AS sampled_triangles,
        cast(ts.c * 8 AS bigint) AS doulion_estimate,
        cast(CASE WHEN t.c > 0
          THEN abs(ts.c * 8 - t.c) * 10000 // t.c ELSE 0 END AS bigint)
          AS err_bp
      FROM t, ts"""))

  // ---------------------------------------------------------------- q220
  /** k-core of the customer↔supplier trading graph
    * ([[graft.operators.KCore]]): 4 synchronized peel rounds at k = 20
    * — every surviving participant trades with ≥ 20 surviving
    * counterparties, the dense backbone a community or authority
    * analysis starts from. Rounds are a FIXED parameter on both sides,
    * so the oracle unrolls the identical peels as chained CTEs and the
    * driver hash pins the whole decomposition round-for-round (the
    * fixture reaches its fixpoint inside the bound — KCoreSpec pins the
    * convergence semantics on a worst-case path graph). */
  val q220KCore = Q(
    "q220_kcore",
    (s, d) => {
      val e = Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(10000000L)).as("dst"))
      graft.operators.KCore.core(e, "src", "dst", k = 20, rounds = 4)
        .orderBy(col("node"))
    },
    Some("""WITH ed AS (SELECT DISTINCT
        least(o_custkey, l_suppkey + 10000000) AS a,
        greatest(o_custkey, l_suppkey + 10000000) AS b
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      e0 AS (SELECT a, b FROM ed UNION ALL SELECT b, a FROM ed),
      n1 AS (SELECT a AS n FROM e0 GROUP BY a HAVING count(*) >= 20),
      e1 AS (SELECT c.a, c.b FROM e0 c
        JOIN n1 x ON c.a = x.n JOIN n1 y ON c.b = y.n),
      n2 AS (SELECT a AS n FROM e1 GROUP BY a HAVING count(*) >= 20),
      e2 AS (SELECT c.a, c.b FROM e1 c
        JOIN n2 x ON c.a = x.n JOIN n2 y ON c.b = y.n),
      n3 AS (SELECT a AS n FROM e2 GROUP BY a HAVING count(*) >= 20),
      e3 AS (SELECT c.a, c.b FROM e2 c
        JOIN n3 x ON c.a = x.n JOIN n3 y ON c.b = y.n),
      n4 AS (SELECT a AS n FROM e3 GROUP BY a HAVING count(*) >= 20),
      e4 AS (SELECT c.a, c.b FROM e3 c
        JOIN n4 x ON c.a = x.n JOIN n4 y ON c.b = y.n)
      SELECT a AS node, cast(count(*) AS bigint) AS core_degree
      FROM e4 GROUP BY a ORDER BY node"""))

  // ---------------------------------------------------------------- q229
  /** Two-round synchronous label propagation
    * ([[graft.operators.LabelPropagation]]) over the customer↔supplier
    * co-order graph (the q220 edge recipe): each node adopts its
    * neighbourhood's most frequent label, smallest label on ties. The
    * synchronous update is a pure function of the previous labeling,
    * so the oracle replays both rounds as chained CTEs (count →
    * row_number argmax) and the verdict is hash-exact. */
  val q229LabelProp = Q(
    "q229_label_prop",
    (s, d) => {
      val e = Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(10000000L)).as("dst"))
      graft.operators.LabelPropagation
        .communities(e, "src", "dst", rounds = 2)
        .orderBy(col("node"))
    },
    Some("""WITH ed AS (SELECT DISTINCT
        least(o_custkey, l_suppkey + 10000000) AS a,
        greatest(o_custkey, l_suppkey + 10000000) AS b
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      adj AS (SELECT a AS node, b AS nbr FROM ed
        UNION ALL SELECT b AS node, a AS nbr FROM ed),
      n1 AS (SELECT adj.node, adj.nbr AS label, count(*) AS c
        FROM adj GROUP BY 1, 2),
      p1 AS (SELECT node, label FROM (
        SELECT node, label, row_number() OVER (PARTITION BY node
          ORDER BY c DESC, label) AS rn FROM n1) z WHERE rn = 1),
      n2 AS (SELECT adj.node, p1.label, count(*) AS c
        FROM adj JOIN p1 ON adj.nbr = p1.node GROUP BY 1, 2),
      p2 AS (SELECT node, label FROM (
        SELECT node, label, row_number() OVER (PARTITION BY node
          ORDER BY c DESC, label) AS rn FROM n2) z WHERE rn = 1)
      SELECT node, label FROM p2 ORDER BY node"""))

  // ---------------------------------------------------------------- q252
  /** Multi-source BFS hop distance ([[graft.operators.Bfs]]): how far
    * is every participant in the customer↔supplier trading graph (the
    * q220 edge recipe) from the nation-0 customer seed set, within 3
    * hops — the traversal primitive beside density (q191/q217),
    * peeling (q220), propagation (q162), and communities (q229).
    * Frontier-proportional work per hop; the oracle unrolls the
    * identical frontier expansions as chained CTEs (the q220
    * fixed-round discipline), so the whole reachability layering is
    * hash-pinned hop-for-hop. */
  val q252Bfs = Q(
    "q252_bfs_distance",
    (s, d) => {
      val e = Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(10000000L)).as("dst"))
      val seeds = Tables.customer(s, d)
        .filter(col("c_nationkey") === 0)
        .select(col("c_custkey").as("node"))
      graft.operators.Bfs.distances(e, "src", "dst", seeds, maxHops = 3)
        .orderBy(col("node"))
    },
    Some("""WITH ed AS (SELECT DISTINCT o_custkey AS a,
          l_suppkey + 10000000 AS b
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      e0 AS (SELECT a, b FROM ed UNION ALL SELECT b, a FROM ed),
      d0 AS (SELECT DISTINCT c_custkey AS node FROM customer
        WHERE c_nationkey = 0),
      f1 AS (SELECT DISTINCT e0.b AS node FROM e0
        JOIN d0 ON e0.a = d0.node
        WHERE e0.b NOT IN (SELECT node FROM d0)),
      f2 AS (SELECT DISTINCT e0.b AS node FROM e0
        JOIN f1 ON e0.a = f1.node
        WHERE e0.b NOT IN (SELECT node FROM d0
          UNION ALL SELECT node FROM f1)),
      f3 AS (SELECT DISTINCT e0.b AS node FROM e0
        JOIN f2 ON e0.a = f2.node
        WHERE e0.b NOT IN (SELECT node FROM d0
          UNION ALL SELECT node FROM f1
          UNION ALL SELECT node FROM f2))
      SELECT node, cast(0 AS bigint) AS dist FROM d0
      UNION ALL SELECT node, cast(1 AS bigint) FROM f1
      UNION ALL SELECT node, cast(2 AS bigint) FROM f2
      UNION ALL SELECT node, cast(3 AS bigint) FROM f3
      ORDER BY node"""))

  // ---------------------------------------------------------------- q274
  /** Balanced shard plan ([[graft.operators.ShardPlan]]): route the
    * parts catalog onto 16 shards by retail-price weight — descending
    * ranks snake across the bins, an order-derived layout that
    * replays exactly where true greedy/LPT is inherently sequential.
    * Rank assignment is the PrefixSum range exchange over per-size
    * counts + a size-partitioned window; no global window plans. */
  val q274ShardPlan = Q(
    "q274_shard_plan",
    (s, d) => {
      graft.operators.ShardPlan.assign(
        Tables.part(s, d), col("p_partkey"),
        expr("cast(round(p_retailprice * 100) as bigint)"), bins = 16)
        .orderBy(col("rank"))
    },
    Some("""WITH d AS (SELECT p_partkey AS id,
          cast(round(p_retailprice * 100) AS bigint) AS size,
          md5(cast(p_partkey AS varchar) || ':shard') AS ord
        FROM part),
      r AS (SELECT id, size, cast(row_number() OVER (
          ORDER BY size DESC, ord, id) AS bigint) AS rank
        FROM d)
      SELECT id, size, rank,
        cast(CASE WHEN (rank - 1) % 32 < 16 THEN (rank - 1) % 32
          ELSE 31 - (rank - 1) % 32 END AS bigint) AS bin
      FROM r ORDER BY rank"""))

  // ---------------------------------------------------------------- q272
  /** Time-respecting earliest arrival ([[graft.operators.TemporalBfs]])
    * over the trading graph with edge time = order day: when can
    * influence leaving the nation-0 customers at day 0 EARLIEST reach
    * each participant, moving only forward in time? Static q252
    * reachability overstates this — an order placed before you
    * arrived transmits nothing. The oracle unrolls three full
    * min-merge propagation rounds (≡ the operator's delta iteration,
    * a monotone-lattice identity the spec pins), so every arrival
    * time is hash-exact. */
  val q272TemporalBfs = Q(
    "q272_temporal_bfs",
    (s, d) => {
      val e = Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(10000000L)).as("dst"),
          datediff(to_date(col("o_orderdate")), to_date(lit("1992-01-01")))
            .cast("long").as("day"))
      val seeds = Tables.customer(s, d)
        .filter(col("c_nationkey") === 0)
        .select(col("c_custkey").as("node"), lit(0L).as("t0"))
      graft.operators.TemporalBfs
        .earliestArrival(e, "src", "dst", "day", seeds, maxHops = 3)
        .orderBy(col("node"))
    },
    Some("""WITH ed AS (SELECT DISTINCT o_custkey AS a,
          l_suppkey + 10000000 AS b,
          cast(datediff('day', DATE '1992-01-01',
            cast(o_orderdate AS date)) AS bigint) AS t
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      e0 AS (SELECT a, b, t FROM ed UNION SELECT b, a, t FROM ed),
      a0 AS (SELECT DISTINCT c_custkey AS node, cast(0 AS bigint) AS arr
        FROM customer WHERE c_nationkey = 0),
      c1 AS (SELECT e0.b AS node, cast(min(e0.t) AS bigint) AS arr
        FROM e0 JOIN a0 ON e0.a = a0.node AND e0.t >= a0.arr
        GROUP BY e0.b),
      a1 AS (SELECT node, min(arr) AS arr FROM (
        SELECT * FROM a0 UNION ALL SELECT * FROM c1) x GROUP BY node),
      c2 AS (SELECT e0.b AS node, cast(min(e0.t) AS bigint) AS arr
        FROM e0 JOIN a1 ON e0.a = a1.node AND e0.t >= a1.arr
        GROUP BY e0.b),
      a2 AS (SELECT node, min(arr) AS arr FROM (
        SELECT * FROM a1 UNION ALL SELECT * FROM c2) x GROUP BY node),
      c3 AS (SELECT e0.b AS node, cast(min(e0.t) AS bigint) AS arr
        FROM e0 JOIN a2 ON e0.a = a2.node AND e0.t >= a2.arr
        GROUP BY e0.b),
      a3 AS (SELECT node, min(arr) AS arr FROM (
        SELECT * FROM a2 UNION ALL SELECT * FROM c3) x GROUP BY node)
      SELECT node, cast(arr AS bigint) AS arrival FROM a3
      ORDER BY node"""))

  val all: Seq[Q] = Seq(
    q75RangeWeek, q76Popularity, q77PopularityPerGroup, q78CountryMap,
    q79SeededSample, q82ComparatorSort, q88PeriodicJams, q92DayOfWeek,
    q93NewDiscovered, q109DenseIds, q110CollectSet, q111WatermarkJoin,
    q112JsonArtists, q113JamsDeterministic, q114ChunkedTopk, q119SaltedAgg,
    q130AsofJoin, q131RangeJoin, q134PopularityApprox, q154SaltedJoin,
    q157ZorderKey, q160Funnel, q162MassRank, q163EventWindows,
    q191Triangles, q217DoulionTriangles, q220KCore, q229LabelProp,
    q252Bfs, q272TemporalBfs, q274ShardPlan)
}
