package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{ParquetFooters, Tables}
import graft.engine.{IncrementalStatsEngine, TopEntityStats, SitewideEntityStats, ListenerStats}
import graft.similarity.SessionSimilarity

/** Queries that drive the actual engine machinery (incremental stats
  * engine, providers, session similarity) over the `events` surrogate fact
  * table, verified against oracles that compute the same result the direct
  * way — proving the engine's core invariants differentially:
  *
  *   - q70: merge(partial(base), incremental) == direct aggregate over the
  *     whole table (the incremental engine's correctness contract)
  *   - q72: the only-incremental recompute-skip path restricts output to
  *     touched users without changing their values
  */
object EngineQueries {

  private val Pivot = "2024-01-20"

  /** Canonicalize a nested array<struct<...>> result to one scalar string
    * ("f1=f2|f1=f2|…", array order preserved): the driver's pandas
    * comparator cannot sort array columns, so every nested result is
    * emitted through this — the nested aggregation still runs, only the
    * final projection flattens. All fields are bigint/varchar, which both
    * engines render identically. */
  private[queries] def flat(arr: org.apache.spark.sql.Column,
      fields: String*): org.apache.spark.sql.Column =
    array_join(transform(arr,
      x => concat_ws("=", fields.map(f => x(f).cast("string")): _*)), "|")

  // ---------------------------------------------------------------- q70
  /** Full incremental path: partial-aggregate the base (ts < pivot), merge
    * with incremental listens (ts >= pivot) via the engine, rank top-3
    * entities per user. Oracle computes the same stat in one direct pass —
    * if the partial/combine algebra is wrong, values diverge. */
  val q70IncrementalTopk = Q(
    "q70_incremental_topk",
    (s, d) => {
      val ev = Tables.events(s, d)
      val provider = TopEntityStats("user_id", Seq("event_type"), top = 3)
      val base = ev.filter(col("ts") < lit(Pivot).cast("timestamp"))
      val inc = ev.filter(col("ts") >= lit(Pivot).cast("timestamp"))
      IncrementalStatsEngine
        .merge(provider, provider.aggregate(base), inc, onlyInc = false)
        .select(col("user_id"), col("total_count"),
          flat(col("top_entities"), "event_type", "listen_count")
            .as("top_entities"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, total_count, top_entities FROM (
      SELECT user_id, cast(sum(cnt) as bigint) AS total_count,
        array_to_string(list_transform(
          list_sort(list(struct_pack(listen_count := cnt,
            event_type := event_type)) FILTER (WHERE rn <= 3), 'DESC'),
          x -> x.event_type || '=' || x.listen_count), '|')
          AS top_entities
      FROM (
        SELECT user_id, event_type, cnt, row_number() OVER (
          PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rn
        FROM (SELECT user_id, event_type, count(*) AS cnt FROM events
          GROUP BY 1, 2) a) b
      GROUP BY user_id) c ORDER BY user_id"""))

  // ---------------------------------------------------------------- q72
  /** Only-incremental recompute skip: stats restricted to users with
    * incremental activity (semi-join on the partial's filter keys), values
    * still computed over base ∪ incremental — engine:199-221 semantics. */
  val q72OnlyIncremental = Q(
    "q72_only_incremental",
    (s, d) => {
      val ev = Tables.events(s, d)
      // narrow incremental slice so the touched-user set is a strict subset
      val incStart = "2024-01-29"
      val provider = TopEntityStats("user_id", Seq("event_type"), top = 3)
      val base = ev.filter(col("ts") < lit(incStart).cast("timestamp"))
      val inc = ev.filter(col("ts") >= lit(incStart).cast("timestamp") &&
        col("event_type") === "purchase")
      IncrementalStatsEngine
        .merge(provider, provider.aggregate(base), inc, onlyInc = true)
        .select(col("user_id"), col("total_count"),
          flat(col("top_entities"), "event_type", "listen_count")
            .as("top_entities"))
        .orderBy(col("user_id"))
    },
    Some("""WITH touched AS (
        SELECT DISTINCT user_id FROM events
        WHERE ts >= TIMESTAMP '2024-01-29' AND event_type = 'purchase'),
      full_counts AS (
        SELECT user_id, event_type, count(*) AS cnt FROM events
        WHERE ts < TIMESTAMP '2024-01-29'
          OR (ts >= TIMESTAMP '2024-01-29' AND event_type = 'purchase')
        GROUP BY 1, 2)
      SELECT user_id, total_count, top_entities FROM (
        SELECT user_id, cast(sum(cnt) as bigint) AS total_count,
          array_to_string(list_transform(
            list_sort(list(struct_pack(listen_count := cnt,
              event_type := event_type)) FILTER (WHERE rn <= 3), 'DESC'),
            x -> x.event_type || '=' || x.listen_count), '|')
            AS top_entities
        FROM (
          SELECT user_id, event_type, cnt, row_number() OVER (
            PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rn
          FROM full_counts WHERE user_id IN (SELECT user_id FROM touched)) a
        GROUP BY user_id) b ORDER BY user_id"""))

  // ---------------------------------------------------------------- q71
  /** Session-based co-occurrence similarity (the recording-similarity
    * algorithm) over events: 30-min sessions, per-user pair cap 10, score
    * threshold 2, top-50 pairs. */
  val q71SessionCooccur = Q(
    "q71_session_cooccur",
    (s, d) => SessionSimilarity(
      Tables.events(s, d),
      userCol = "user_id", tsCol = "ts", entityCol = "event_type",
      gapSeconds = 1800L, perUserCap = 10L, minScore = 2L, topK = 50),
    Some("""WITH sess AS (
        SELECT DISTINCT user_id AS u, session_id, event_type AS e FROM (
          SELECT user_id, event_type, sum(new_sess) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM (
            SELECT user_id, event_type, ts, CASE WHEN
              epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
                PARTITION BY user_id ORDER BY ts) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_sess
            FROM events) x) y),
      per_user AS (
        SELECT a.u, a.e AS e_a, b.e AS e_b,
          least(count(*), 10) AS contrib
        FROM sess a JOIN sess b
          ON a.u = b.u AND a.session_id = b.session_id AND a.e < b.e
        GROUP BY 1, 2, 3),
      scored AS (
        SELECT e_a, e_b, cast(sum(contrib) as bigint) AS score FROM per_user
        GROUP BY 1, 2 HAVING sum(contrib) >= 2)
      SELECT e_a, e_b, score, row_number() OVER (
        ORDER BY score DESC, e_a, e_b) AS rank
      FROM scored ORDER BY score DESC, e_a, e_b LIMIT 50"""))

  // ---------------------------------------------------------------- q73
  /** Sitewide capped entity chart via the SitewideEntityStats provider. */
  val q73SitewideCapped = Q(
    "q73_sitewide_capped",
    (s, d) => {
      val provider = SitewideEntityStats("user_id", Seq("event_type"),
        perUserCap = 15, top = 10)
      provider.stats(provider.aggregate(Tables.events(s, d)))
        .orderBy(col("rank"))
    },
    Some("""SELECT event_type, capped_count, row_number() OVER (
        ORDER BY capped_count DESC, event_type) AS rank
      FROM (SELECT event_type,
        cast(sum(least(cnt, 15)) as bigint) AS capped_count FROM (
        SELECT event_type, user_id, count(*) AS cnt FROM events
        GROUP BY 1, 2) a GROUP BY event_type) b
      ORDER BY capped_count DESC, event_type LIMIT 10"""))

  // ---------------------------------------------------------------- q74
  /** Per-entity top listeners via the ListenerStats provider. */
  val q74TopListeners = Q(
    "q74_top_listeners",
    (s, d) => {
      val provider = ListenerStats("user_id", Seq("event_type"), top = 5)
      provider.stats(provider.aggregate(Tables.events(s, d)))
        .select(col("event_type"), col("total_listen_count"),
          col("listener_count"),
          flat(col("top_listeners"), "user_id", "listen_count")
            .as("top_listeners"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, cast(total_listen_count as bigint)
        AS total_listen_count, listener_count,
      array_to_string(list_transform(
        list_sort(list(struct_pack(listen_count := cnt, user_id := user_id))
          FILTER (WHERE rn <= 5), 'DESC'),
        x -> x.user_id || '=' || x.listen_count), '|') AS top_listeners
      FROM (
        SELECT event_type, user_id, cnt, row_number() OVER (
            PARTITION BY event_type ORDER BY cnt DESC, user_id) AS rn,
          sum(cnt) OVER (PARTITION BY event_type) AS total_listen_count,
          count(*) OVER (PARTITION BY event_type) AS listener_count
        FROM (SELECT event_type, user_id, count(*) AS cnt FROM events
          GROUP BY 1, 2) a) b
      GROUP BY event_type, total_listen_count, listener_count
      ORDER BY event_type"""))

  // ---------------------------------------------------------------- q87
  /** Listening-activity grid via the engine's ListeningActivity module:
    * this_month range anchored at max(ts) in the data, one bucket per day,
    * silent (user, day) cells zero-filled. */
  val q87ListeningActivity = Q(
    "q87_listening_activity",
    (s, d) => {
      val ev = Tables.events(s, d)
      val maxTs = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0)
      graft.engine.ListeningActivity
        .compute(ev, "user_id", "ts", "this_month", maxTs)
        .orderBy(col("user_id"), col("bucket_start"))
    },
    Some("""WITH mx AS (SELECT max(ts) AS m FROM events),
      grid AS (
        SELECT DISTINCT date_trunc('day', g.g)::TIMESTAMP AS bucket_start
        FROM mx, unnest(generate_series(
          date_trunc('month', m), m + INTERVAL 1 SECOND,
          INTERVAL 1 DAY)) AS g(g)
        WHERE g.g < m + INTERVAL 1 SECOND),
      users AS (SELECT DISTINCT user_id FROM events),
      counts AS (
        SELECT user_id, date_trunc('day', ts)::TIMESTAMP AS bucket_start,
          count(*) AS n
        FROM events, mx
        WHERE ts >= date_trunc('month', m) AND ts < m + INTERVAL 1 SECOND
        GROUP BY 1, 2)
      SELECT u.user_id, g.bucket_start, coalesce(c.n, 0) AS listen_count
      FROM users u CROSS JOIN grid g
      LEFT JOIN counts c
        ON u.user_id = c.user_id AND g.bucket_start = c.bucket_start
      ORDER BY u.user_id, g.bucket_start"""))

  // ---------------------------------------------------------------- q121
  /** The FULL disk-backed engine path as one oracled query: events shaped
    * as listens land in a real ListenStore (partitioned base write +
    * incremental append), then IncrementalStatsEngine.run computes the
    * stat through the cached-partial machinery (partition-pruned base
    * scan, partial parquet cache, JSON bookkeeping, incremental merge).
    * The oracle is the plain top-3-per-user over all events — so the
    * hash verdict covers the store round-trip, not just the algebra. */
  val q121StoreEngine = Q(
    "q121_store_engine",
    (s, d) => {
      val ev = graft.core.Tables.events(s, d)
      val listens = ev.select(
        col("ts").as("listened_at"), col("ts").as("created"),
        col("user_id").cast("int").as("user_id"),
        concat(lit("m"), col("event_id")).as("recording_msid"),
        col("event_type").as("artist_name"),
        lit(null).cast("long").as("artist_credit_id"),
        lit(null).cast("string").as("release_name"),
        lit(null).cast("string").as("release_mbid"),
        col("event_type").as("recording_name"),
        lit(null).cast("string").as("recording_mbid"),
        lit(null).cast("array<string>").as("artist_credit_mbids"))
      val work = graft.core.TempWork.dir("graft-q121")
      val store = new graft.engine.ListenStore(s, s"$work/store")
      store.writeBase(listens.filter(
        col("listened_at") < lit(Pivot).cast("timestamp")))
      store.appendIncremental(listens.filter(
        col("listened_at") >= lit(Pivot).cast("timestamp")))
      val engine = new graft.engine.IncrementalStatsEngine(s, s"$work/stats")
      val provider = graft.engine.TopEntityStats(
        "user_id", Seq("artist_name"), top = 3)
      engine.run("q121", provider, store,
          java.sql.Timestamp.valueOf("2020-01-01 00:00:00"),
          java.sql.Timestamp.valueOf("2025-01-01 00:00:00"))
        .select(col("user_id"), col("total_count"),
          flat(col("top_entities"), "artist_name", "listen_count")
            .as("top_entities"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, total_count, top_entities FROM (
      SELECT user_id, cast(sum(cnt) AS bigint) AS total_count,
        array_to_string(list_transform(
          list_sort(list(struct_pack(listen_count := cnt,
            artist_name := event_type)) FILTER (WHERE rn <= 3), 'DESC'),
          x -> x.artist_name || '=' || x.listen_count), '|')
          AS top_entities
      FROM (
        SELECT user_id, event_type, cnt, row_number() OVER (
          PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rn
        FROM (SELECT user_id, event_type, count(*) AS cnt FROM events
          WHERE ts >= TIMESTAMP '2020-01-01' AND ts < TIMESTAMP '2025-01-01'
          GROUP BY 1, 2) a) b
      GROUP BY user_id) c ORDER BY user_id"""))

  // ---------------------------------------------------------------- q135
  /** The STREAMING ingest path as one oracled query (was spec-only): events
    * shaped as listens land in a staging directory, a Structured Streaming
    * file source replays them through [[graft.streaming.StreamingIngest]]
    * one file per micro-batch (each batch = one incremental dump chunk:
    * append + high-water advance + per-batch-id marker), and the result is
    * a per-user rollup over what the STORE then serves. The oracle computes
    * the same rollup straight off events — so the hash verdict covers the
    * whole stream → store → read chain: schema fidelity, no lost or
    * duplicated rows across batch boundaries, correct high-water windowing.
    *
    * Scale shape: the sink is O(batch) per micro-batch (append + one-row
    * metadata fold); the final read is the store's normal pruned path. */
  val q135StreamingIngest = Q(
    "q135_streaming_ingest",
    (s, d) => {
      val ev = graft.core.Tables.events(s, d)
      val listens = ev.select(
        col("ts").as("listened_at"), col("ts").as("created"),
        col("user_id").cast("int").as("user_id"),
        concat(lit("m"), col("event_id")).as("recording_msid"),
        col("event_type").as("artist_name"),
        lit(null).cast("long").as("artist_credit_id"),
        lit(null).cast("string").as("release_name"),
        lit(null).cast("string").as("release_mbid"),
        col("event_type").as("recording_name"),
        lit(null).cast("string").as("recording_mbid"),
        lit(null).cast("array<string>").as("artist_credit_mbids"))
      val work = graft.core.TempWork.dir("graft-q135")
      // stage as 4 files → 4 micro-batches under maxFilesPerTrigger=1
      listens.repartition(4).write.parquet(s"$work/stage")
      val store = new graft.engine.ListenStore(s, s"$work/store")
      val stream = s.readStream
        .schema(graft.engine.Listen.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$work/stage")
      graft.streaming.StreamingIngest
        .intoStore(stream, store, s"$work/ckpt")
        .awaitTermination()
      store.listens(
          java.sql.Timestamp.valueOf("2020-01-01 00:00:00"),
          java.sql.Timestamp.valueOf("2030-01-01 00:00:00"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("listen_count"),
          countDistinct(col("artist_name")).as("n_types"),
          max(col("listened_at")).as("last_listen"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, count(*) AS listen_count,
      count(DISTINCT event_type) AS n_types, max(ts) AS last_listen
      FROM events GROUP BY user_id ORDER BY user_id"""))

  // ---------------------------------------------------------------- q158
  /** Persisted mergeable HLL sketch state
    * ([[graft.popularity.SketchDistinct]]): the event stream is split
    * into three increment chunks, each chunk's per-event-type sketch
    * partial is WRITTEN TO PARQUET and read back (sketch binaries as
    * durable columns — the q121 disk-round-trip recipe applied to sketch
    * state), and distinct-user estimates are served by unioning ONLY the
    * sketch rows. The oracle pins the exact distinct counts, the
    * exactness of the merged row counts (counts merge by sum — the same
    * partial/combine algebra), and the HLL error envelope as booleans
    * the driver verifies row-by-row. */
  val q158SketchDistinct = Q(
    "q158_sketch_distinct",
    (s, d) => {
      import graft.popularity.SketchDistinct
      val ev = graft.core.Tables.events(s, d)
      val work = graft.core.TempWork.dir("graft-q158")
      (0 until 3).foreach { c =>
        SketchDistinct
          .partial(ev.filter(pmod(col("event_id"), lit(3)) === c),
            Seq("event_type"), "user_id")
          .write.parquet(s"$work/chunk$c")
      }
      val partials = ParquetFooters.read(s,
        s"$work/chunk0", s"$work/chunk1", s"$work/chunk2")
      val served = SketchDistinct.serve(partials, Seq("event_type"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n_events"))
      val rsd = 1.04 / math.sqrt((1 << 12).toDouble)
      exact.join(served, Seq("event_type"))
        .select(col("event_type"), col("exact_users"), col("n_events"),
          (col("n_rows") === col("n_events")).as("counts_merge_exact"),
          (abs(col("distinct_est").cast("double") - col("exact_users")) <=
            greatest(col("exact_users") * (3 * rsd), lit(2.0)))
            .as("est_within_rsd"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(DISTINCT user_id) AS exact_users,
      count(*) AS n_events, TRUE AS counts_merge_exact,
      TRUE AS est_within_rsd
      FROM events GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------- q173
  /** Event-time windowed streaming aggregation, driver-oracled (the
    * second oracled Structured Streaming path beside q135's ingest):
    * the event table is replayed one file per micro-batch through
    * [[graft.streaming.StreamingStats.windowedActivity]] — watermarked
    * tumbling 1-day windows per event type — and the final window table
    * must equal the batch statement of the same windows (DuckDB
    * date_trunc). Proves window assignment, cross-batch accumulation,
    * and event-time (not arrival-time) semantics survive the
    * micro-batch boundaries. */
  val q173StreamingWindows = Q(
    "q173_streaming_windows",
    (s, d) => {
      val ev = graft.core.Tables.events(s, d)
        .select(col("ts"), col("event_type"))
      val work = graft.core.TempWork.dir("graft-q173")
      ev.repartition(4).write.parquet(s"$work/stage")
      // stateful width from the measured staged volume, scoped to the
      // stream (StreamScale scaladoc): the windowed aggregate's state
      // stores commit per partition per micro-batch
      val nStaged = ParquetFooters.read(s, s"$work/stage").count()
      graft.core.ScopedConf.withShufflePartitions(
        s, graft.streaming.StreamScale.width(nStaged)) {
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$work/stage")
        graft.streaming.StreamingStats
          .windowedActivity(stream, "event_type", "ts", "1 day", "1 hour")
          .writeStream.outputMode("complete").format("memory")
          .queryName("q173_windows")
          // checkpoint on the query's own scratch tree, not the implicit
          // temporary dir on java.io.tmpdir: the offset/commit/state logs
          // sync once per micro-batch (TempWork.scratchBase rationale)
          .option("checkpointLocation", s"$work/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      }
      // the memory sink holds the rows; the staged replay files have no
      // remaining reader (eager-scratch-cleanup discipline, ADVICE r12)
      graft.core.TempWork.delete(work)
      s.table("q173_windows")
        .select(col("bucket_start").as("window_start"), col("event_type"),
          col("listen_count"))
        .orderBy(col("window_start"), col("event_type"))
    },
    Some("""SELECT cast(date_trunc('day', ts) AS timestamp)
        AS window_start, event_type, count(*) AS listen_count
      FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""))

  // ---------------------------------------------------------------- q189
  /** Stream-stream event-time interval join, driver-oracled (the third
    * oracled Structured Streaming path): clicks and errors are replayed
    * as TWO independent file-per-micro-batch streams and inner-joined
    * per user where the error lands within 30 minutes AFTER the click
    * ([[graft.streaming.StreamJoins.intervalJoin]]) — the "reaction
    * within T" pattern whose state Spark bounds by watermark + window,
    * never history. The replay's watermark delay exceeds the dataset's
    * time span (files arrive in no event-time order), so the streamed
    * result must equal the batch self-join row-for-row. */
  val q189StreamIntervalJoin = Q(
    "q189_stream_interval_join",
    (s, d) => {
      val ev = graft.core.Tables.events(s, d)
      val work = graft.core.TempWork.dir("graft-q189")
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
        .repartition(4).write.parquet(s"$work/clicks")
      ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("err_ts"),
          col("event_id").as("err_id"))
        .repartition(4).write.parquet(s"$work/errors")
      def stream(sub: String) = {
        val schema = ParquetFooters.read(s, s"$work/$sub").schema
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$work/$sub")
      }
      // stateful width from the measured staged volume (both sides),
      // scoped to the stream: the interval join keeps FOUR state stores
      // per partition, each committing per micro-batch (StreamScale)
      // count the two dirs separately: one read over both only works
      // because count() is column-independent across their differing
      // schemas — a fragile accident, not a contract (ADVICE r13)
      val nStaged = ParquetFooters.read(s, s"$work/clicks").count() +
        ParquetFooters.read(s, s"$work/errors").count()
      graft.core.ScopedConf.withShufflePartitions(
        s, graft.streaming.StreamScale.width(nStaged)) {
        graft.streaming.StreamJoins.intervalJoin(
            stream("clicks"), stream("errors"), "user_id",
            "click_ts", "err_ts", "30 MINUTE", "60 days")
          .writeStream.outputMode("append").format("memory")
          .queryName("q189_pairs")
          // scratch-tree checkpoint — see q173
          .option("checkpointLocation", s"$work/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      }
      graft.core.TempWork.delete(work) // memory sink holds the rows
      s.table("q189_pairs")
        .select(col("user_id"), col("click_id"), col("err_id"),
          col("click_ts"), col("err_ts"))
        .orderBy(col("click_id"), col("err_id"))
    },
    Some("""SELECT c.user_id, c.event_id AS click_id,
        e.event_id AS err_id, c.ts AS click_ts, e.ts AS err_ts
      FROM events c JOIN events e
      ON c.user_id = e.user_id AND c.event_type = 'click'
        AND e.event_type = 'error'
        AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 30 MINUTE
      ORDER BY click_id, err_id"""))

  // ---------------------------------------------------------------- q228
  /** Streaming heavy hitters — the [[graft.functions.MisraGriesAgg]]
    * bounded-state sketch running INSIDE Structured Streaming
    * (complete-mode aggregation, file-per-micro-batch replay): per
    * event type, the top-10 users by event count. Each micro-batch
    * merges its partial sketches into the state store through the
    * aggregate's own `merge`, so this exercises the mergeable-summaries
    * path the batch plan never does; capacity 1<<17 exceeds the user
    * domain at oracle scale, so the streamed sketch is EXACT for every
    * replay order and the driver hash-matches DuckDB's count + window.
    * At 100 TB the streaming state per (type) key is k counters —
    * bounded — where exact streaming count-distinct state grows with
    * the user domain. */
  val q228StreamingHeavyHitters = Q(
    "q228_streaming_heavy_hitters",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val ev = graft.core.Tables.events(s, d)
        .select(col("event_type"), col("user_id"))
      val work = graft.core.TempWork.dir("graft-q228")
      ev.repartition(4).write.parquet(s"$work/stage")
      // stateful width from the measured staged volume (StreamScale):
      // the complete-mode aggregate commits one sketch-holding state
      // store per partition per micro-batch
      val nStaged = ParquetFooters.read(s, s"$work/stage").count()
      graft.core.ScopedConf.withShufflePartitions(
        s, graft.streaming.StreamScale.width(nStaged)) {
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$work/stage")
        stream.groupBy(col("event_type"))
          .agg(graft.functions.GraftFunctions
            .heavyHitters(col("user_id"), 1 << 17).as("hh"))
          .writeStream.outputMode("complete").format("memory")
          .queryName("q228_hh")
          // scratch-tree checkpoint — see q173
          .option("checkpointLocation", s"$work/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      }
      graft.core.TempWork.delete(work) // memory sink holds the rows
      s.table("q228_hh")
        .select(col("event_type"),
          posexplode(slice(col("hh"), 1, 10)).as(Seq("pos", "e")))
        .select(col("event_type"),
          (col("pos") + 1).cast("long").as("rnk"),
          col("e.item").as("user_id"), col("e.count").as("cnt"))
        .orderBy(col("event_type"), col("rnk"))
    },
    Some("""WITH c AS (
        SELECT event_type, user_id, count(*) AS cnt
        FROM events GROUP BY 1, 2),
      r AS (
        SELECT event_type, user_id, cnt,
          row_number() OVER (PARTITION BY event_type
            ORDER BY cnt DESC, user_id) AS rnk
        FROM c)
      SELECT event_type, rnk, user_id, cnt FROM r WHERE rnk <= 10
      ORDER BY event_type, rnk"""))

  // ---------------------------------------------------------------- q234
  /** Streaming top-k leaderboard via Spark 4's `transformWithState`
    * ([[graft.streaming.StreamingTopK]]): per order priority, the
    * top-7 orders by price cents, maintained incrementally across
    * file-replayed micro-batches in a RocksDB-backed ValueState of
    * exactly k pairs per key. Distinct-pair semantics make the fold
    * idempotent under replay; the per-key monotone `seq` stamp (no
    * wall clock) picks each group's final leaderboard
    * deterministically. The final answer equals the batch
    * [[graft.functions.BoundedTopKAgg]] result, so the driver
    * hash-matches the same two-window DuckDB oracle as q232's top
    * side — the streamed state and the batch aggregate implement one
    * total order. */
  val q234TwsTopK = Q(
    "q234_tws_topk",
    (s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d).select(
        col("o_orderpriority").as("grp"),
        col("o_orderkey").as("item"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("weight"))
      val work = graft.core.TempWork.dir("graft-q234")
      o.repartition(5).write.parquet(s"$work/stage")
      // stateful width from the measured staged volume (StreamScale):
      // transformWithState commits one RocksDB store per partition per
      // micro-batch
      val nStaged = ParquetFooters.read(s, s"$work/stage").count()
      val leaderboard = graft.core.ScopedConf.withShufflePartitions(
        s, graft.streaming.StreamScale.width(nStaged)) {
        val stream = s.readStream.schema(o.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$work/stage")
          .as[graft.streaming.StreamingTopK.TopKEvent]
        graft.streaming.StreamingTopK
          .finalLeaderboard(s, stream, k = 7, queryName = "q234_topk",
            checkpointDir = Some(s"$work/ckpt"))
      }
      graft.core.TempWork.delete(work) // memory sink holds the rows
      leaderboard
        .select(col("grp").as("prio"), col("rnk"),
          col("item").as("okey"), col("weight").as("cents"))
        .orderBy(col("prio"), col("rnk"))
    },
    Some("""WITH o AS (
        SELECT o_orderpriority AS prio, o_orderkey AS okey,
          cast(round(o_totalprice * 100) AS bigint) AS cents FROM orders),
      r AS (SELECT prio, okey, cents, row_number() OVER (
          PARTITION BY prio ORDER BY cents DESC, okey) AS rnk FROM o)
      SELECT prio, cast(rnk AS bigint) AS rnk, okey, cents FROM r
      WHERE rnk <= 7 ORDER BY prio, rnk"""))

  // ---------------------------------------------------------------- q271
  /** Incremental join maintenance
    * ([[graft.operators.IncrementalJoin.deltaInner]]): the revenue
    * view over lineitem ⋈ orders maintained under inserts on BOTH
    * sides (lineitem split by ship date, orders by an id hash — the
    * deltas partition each table) — old view + ΔR⋈S ∪ R⋈ΔS ∪ ΔR⋈ΔS,
    * aggregated, must equal this full re-join oracle exactly: the
    * bag-semantics delta rule, the generic-join member of the IVM
    * family beside q230's self-join delta and the stats engine's
    * aggregate partials. Daily cost O(Δ × fan-out), never a history
    * re-join. */
  val q271IncrementalJoin = Q(
    "q271_incremental_join",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey").as("okey"),
        col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        expr("cast(round(l_extendedprice * (1 - l_discount) * 100) " +
          "as bigint)").as("rev"),
        col("l_shipdate"))
      val o = Tables.orders(s, d).select(
        col("o_orderkey").as("okey"), col("o_orderpriority").as("prio"))
      val (liOld, liNew) = (li.filter(col("l_shipdate") < "1996-01-01"),
        li.filter(col("l_shipdate") >= "1996-01-01"))
      val (oOld, oNew) = (o.filter(col("okey") % 7L < 4L),
        o.filter(col("okey") % 7L >= 4L))
      def slim(df: org.apache.spark.sql.DataFrame) = df.drop("l_shipdate")
      val oldView = slim(liOld).join(oOld, Seq("okey"))
      val delta = graft.operators.IncrementalJoin.deltaInner(
        slim(liOld), slim(liNew), oOld, oNew, Seq("okey"))
      oldView.unionByName(delta)
        .groupBy(col("rf"), col("ls"), col("prio"))
        .agg(sum(col("rev")).as("revenue_cents"),
          count(lit(1)).as("n_items"))
        .orderBy(col("rf"), col("ls"), col("prio"))
    },
    Some("""SELECT l_returnflag AS rf, l_linestatus AS ls,
        o_orderpriority AS prio,
        cast(sum(cast(round(l_extendedprice * (1 - l_discount) * 100)
          AS bigint)) AS bigint) AS revenue_cents,
        cast(count(*) AS bigint) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  // ---------------------------------------------------------------- q261
  /** Warm-started streaming top-k
    * ([[graft.streaming.StreamingTopK.WarmTopKProcessor]]): the
    * batch→streaming MIGRATION path — the even-orderkey half of the
    * catalog is a batch [[graft.functions.BoundedTopKAgg]] standing
    * that SEEDS the state store via
    * `StatefulProcessorWithInitialState`, the odd half streams in as
    * file-replayed micro-batches, and the final leaderboard equals
    * one batch over the union (the q234 oracle shape over ALL
    * orders) — cutting a nightly top-k job over to continuous
    * maintenance without replaying history. The batch aggregate and
    * the streamed fold implement ONE total order, which is the whole
    * reason the handoff is exact. */
  val q261WarmTopK = Q(
    "q261_warm_topk",
    (s, d) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val o = Tables.orders(s, d).select(
        col("o_orderpriority").as("grp"),
        col("o_orderkey").as("item"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("weight"))
      val initial = o.filter(col("item") % 2L === 0L)
        .groupBy(col("grp"))
        .agg(graft.functions.GraftFunctions
          .topK(col("item"), col("weight"), 7).as("tk"))
        .select(col("grp"),
          expr("transform(tk, x -> x.item)").as("items"),
          expr("transform(tk, x -> x.weight)").as("weights"))
        .as[(String, Array[Long], Array[Long])]
        .map { case (g, items, weights) =>
          (g, graft.streaming.StreamingTopK.TopKState(1L, items, weights))
        }
      val streamed = o.filter(col("item") % 2L =!= 0L)
      val work = graft.core.TempWork.dir("graft-q261")
      streamed.repartition(5).write.parquet(s"$work/stage")
      // stateful width from the measured staged volume (StreamScale):
      // transformWithState commits one RocksDB store per partition per
      // micro-batch; the batch warm-start standing rides inside the
      // scope (it seeds the same stores)
      val nStaged = ParquetFooters.read(s, s"$work/stage").count()
      val leaderboard = graft.core.ScopedConf.withShufflePartitions(
        s, graft.streaming.StreamScale.width(nStaged)) {
        val stream = s.readStream.schema(streamed.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$work/stage")
          .as[graft.streaming.StreamingTopK.TopKEvent]
        graft.streaming.StreamingTopK
          .finalLeaderboardWarm(s, stream, initial, k = 7,
            queryName = "q261_warm", checkpointDir = Some(s"$work/ckpt"))
      }
      graft.core.TempWork.delete(work) // memory sink holds the rows
      leaderboard
        .select(col("grp").as("prio"), col("rnk"),
          col("item").as("okey"), col("weight").as("cents"))
        .orderBy(col("prio"), col("rnk"))
    },
    Some("""WITH o AS (
        SELECT o_orderpriority AS prio, o_orderkey AS okey,
          cast(round(o_totalprice * 100) AS bigint) AS cents FROM orders),
      r AS (SELECT prio, okey, cents, row_number() OVER (
          PARTITION BY prio ORDER BY cents DESC, okey) AS rnk FROM o)
      SELECT prio, cast(rnk AS bigint) AS rnk, okey, cents FROM r
      WHERE rnk <= 7 ORDER BY prio, rnk"""))

  // ---------------------------------------------------------------- q259
  /** Streaming gap sessionization with EVENT-TIME TIMERS
    * ([[graft.streaming.SessionTimers]]): 2-hour-gap sessions over
    * the event stream, closed by the WATERMARK passing last+gap —
    * idle users emit without waiting for their own traffic, the
    * timer-driven capability q234's ValueState fold does not touch.
    * Replay is chronological (5-day chunks written one file each in
    * time order, a far-future sentinel advances the final watermark
    * past every close), so the emitted set equals batch
    * sessionization and this oracle hash-pins it
    * session-for-session. All algebra runs on unix MICROSECONDS —
    * the millisecond timer clock is mechanism, never semantics. */
  val q259SessionTimers = Q(
    "q259_session_timers",
    (s, d) => {
      import s.implicits._
      val gapUs = 2L * 3600L * 1000000L
      val e = Tables.events(s, d).select(
        col("user_id").as("user"), col("ts"),
        expr("unix_micros(ts)").as("us"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      val maxUs = e.agg(max(col("us"))).head().getLong(0) // scalar anchor
      val sentinel = s.range(1).select(lit(-1L).as("user"),
        expr(s"timestamp_micros(${maxUs + 3L * gapUs})").as("ts"),
        lit(maxUs + 3L * gapUs).as("us"), lit(0L).as("cents"))
      val spanUs = 5L * 86400L * 1000000L
      val staged = e.unionByName(sentinel)
        .withColumn("chunk", (col("us") / spanUs).cast("long"))
      val work = graft.core.TempWork.dir("graft-q259")
      // one file per 5-day span, replayed in time order: FileStreamSource
      // takes files by modification time, so arrival is chronological and
      // delay-0 watermarking drops nothing. ONE partitioned write lands
      // every span (repartition on the span key puts each span wholly in
      // one writer task → exactly one file per chunk= dir); the driver
      // then moves the files into the replay dir with explicit ascending
      // mtimes. The before-form ran one filtered write JOB per span plus
      // a 15 ms sleep — ~70 extra executions of the staged plan at sf0.1
      // (guide §5: no driver loops in query paths; measured in
      // OPTIMIZATION_r13.md).
      staged.repartition(col("chunk")).write.partitionBy("chunk")
        .parquet(s"$work/part")
      val stageDir = new java.io.File(s"$work/stage")
      stageDir.mkdirs()
      val chunkDirs = new java.io.File(s"$work/part").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("chunk="))
        .sortBy(_.getName.stripPrefix("chunk=").toLong)
      val t0 = System.currentTimeMillis() - chunkDirs.length * 1000L
      chunkDirs.zipWithIndex.foreach { case (cd, i) =>
        val parts = cd.listFiles().filter(_.getName.endsWith(".parquet"))
        require(parts.length == 1,
          s"expected one staged file per span, got ${parts.length} in $cd " +
            "(repartition(chunk) puts each span in ONE writer task; a " +
            "spark.sql.files.maxRecordsPerFile setting or a rebalance " +
            "hint on the staging write would split it)")
        val dst = new java.io.File(stageDir, f"span-$i%06d.parquet")
        require(parts(0).renameTo(dst), s"rename ${parts(0)} -> $dst failed")
        // the replay ORDER (FileStreamSource takes files by mtime) is a
        // correctness precondition of the delay-0 watermark — a silent
        // false here would leave near-identical rename mtimes and drop
        // sessions with no clue why (ADVICE r13)
        require(dst.setLastModified(t0 + i * 1000L),
          s"setLastModified failed for $dst")
      }
      // stateful width from the measured event volume (StreamScale):
      // transformWithState commits one RocksDB store per partition per
      // micro-batch, and this replay runs one micro-batch PER SPAN
      val sessions = graft.core.ScopedConf.withShufflePartitions(
        s, graft.streaming.StreamScale.width(
          ParquetFooters.read(s, s"$work/stage").count())) {
        val stream = s.readStream
          .schema(staged.drop("chunk").schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$work/stage")
          .as[graft.streaming.SessionTimers.SessEvent]
        graft.streaming.SessionTimers
          .closedSessions(s, stream, gapUs, "q259_sessions",
            checkpointDir = Some(s"$work/ckpt"))
      }
      graft.core.TempWork.delete(work) // memory sink holds the rows
      sessions
        .filter(col("user") >= 0L)
        .select(col("user").as("uid"), col("start_us"), col("end_us"),
          col("n_events"), col("sum_cents"))
        .orderBy(col("uid"), col("start_us"))
    },
    Some("""WITH e AS (SELECT user_id AS u, epoch_us(ts) AS us,
          cast(round(value * 100) AS bigint) AS cents
        FROM events),
      l AS (SELECT u, us, cents,
          lag(us) OVER (PARTITION BY u ORDER BY us, cents) AS prev
        FROM e),
      f AS (SELECT u, us, cents,
          CASE WHEN prev IS NULL OR us - prev > 7200000000 THEN 1
            ELSE 0 END AS brk
        FROM l),
      g AS (SELECT u, us, cents,
          sum(brk) OVER (PARTITION BY u ORDER BY us, cents
            ROWS UNBOUNDED PRECEDING) AS sid
        FROM f)
      SELECT u AS uid, min(us) AS start_us, max(us) AS end_us,
        cast(count(*) AS bigint) AS n_events,
        cast(sum(cents) AS bigint) AS sum_cents
      FROM g GROUP BY u, sid ORDER BY uid, start_us"""))

  // ---------------------------------------------------------------- q89
  /** Cache-joined genre activity via CacheJoinedStats.GenreActivity: the
    * part table plays the dimension cache (partkey → brand ≙ recording →
    * genre), lineitem ⋈ orders plays the listens. Broadcast cache join
    * inside aggregate, top-5 nested per user. */
  val q89GenreActivity = Q(
    "q89_genre_activity",
    (s, d) => {
      val listens = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("user_id"),
          col("l_partkey").as("recording_mbid"))
      val cache = Tables.part(s, d)
        .select(col("p_partkey").as("recording_mbid"),
          col("p_brand").as("genre"))
      val p = graft.engine.CacheJoinedStats.GenreActivity(cache, top = 5)
      p.stats(p.combine(p.aggregate(listens)))
        .select(col("user_id"),
          flat(col("genres"), "genre", "listen_count").as("genres"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, array_to_string(list_transform(list_sort(
        list(struct_pack(listen_count := cnt, genre := genre))
          FILTER (WHERE rn <= 5), 'DESC'),
        x -> x.genre || '=' || x.listen_count), '|') AS genres
      FROM (
        SELECT user_id, genre, cnt, row_number() OVER (
          PARTITION BY user_id ORDER BY cnt DESC, genre) AS rn
        FROM (
          SELECT o_custkey AS user_id, p_brand AS genre, count(*) AS cnt
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN part ON l_partkey = p_partkey
          GROUP BY 1, 2) a) b
      GROUP BY user_id ORDER BY user_id"""))

  // ---------------------------------------------------------------- q90
  /** Listening time with the 180 s default-length constant: the length
    * cache (part table, deliberately missing 10% of keys) left-joined
    * inside the provider; uncached tracks fall back to the default. */
  val q90ListeningTime = Q(
    "q90_listening_time",
    (s, d) => {
      val listens = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("user_id"),
          col("l_partkey").as("recording_mbid"))
      val cache = Tables.part(s, d)
        .filter(col("p_partkey") % 10 =!= 0) // 10% of tracks uncached
        .select(col("p_partkey").as("recording_mbid"),
          (col("p_size") * 1000L).cast("long").as("length"))
      val p = graft.engine.CacheJoinedStats.ListeningTime(cache)
      p.stats(p.combine(p.aggregate(listens)))
        .orderBy(col("user_id"))
    },
    Some("""SELECT o_custkey AS user_id,
      cast(sum(cast(coalesce(length / 1000, 180) as bigint)) as bigint)
        AS listening_time_s,
      count(*) AS listen_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      LEFT JOIN (SELECT p_partkey, cast(p_size * 1000 as bigint) AS length
        FROM part WHERE p_partkey % 10 <> 0) c ON l_partkey = p_partkey
      GROUP BY o_custkey ORDER BY user_id"""))

  // ---------------------------------------------------------------- q91
  /** Fresh releases of top artists (year_in_music/new_releases_of_top_
    * artists.py:39-42, the reference's documented 90× rewrite): match
    * "new" entities to each user's top groups via EQUI-join on the group
    * key — never arrays_overlap/BNLJ. Analog: parts first shipped in the
    * last quarter of the data, matched to each customer's top-3 brands. */
  val q91FreshReleases = Q(
    "q91_fresh_releases",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val purchases = li
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .select(col("o_custkey").as("cust"), col("p_partkey").as("pk"),
          col("p_brand").as("brand"), col("l_shipdate"))
      val cutoff = lit("2001-01-01").cast("timestamp")
      val history = purchases.filter(col("l_shipdate") < cutoff)
      val topBrands = {
        val w = Window.partitionBy(col("cust"))
          .orderBy(col("n").desc, col("brand"))
        history.groupBy(col("cust"), col("brand"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("cust"), col("brand"))
      }
      // "releases" in the window: per brand, the 5 most recently shipped
      val freshTop = {
        val w = Window.partitionBy(col("brand"))
          .orderBy(col("last_ship").desc, col("pk"))
        purchases.filter(col("l_shipdate") >= cutoff)
          .groupBy(col("pk"), col("brand"))
          .agg(max(col("l_shipdate")).as("last_ship"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("brand"), col("pk"), col("last_ship"))
      }
      val owned = history.select(col("cust"), col("pk")).distinct()
      topBrands.join(freshTop, Seq("brand")) // equi-join on the group key
        .join(owned, Seq("cust", "pk"), "left_anti") // only unheard parts
        .select(col("cust"), col("brand"), col("pk"), col("last_ship"))
        .orderBy(col("cust"), col("brand"), col("pk"))
    },
    Some("""WITH purchases AS (
        SELECT o_custkey AS cust, p_partkey AS pk, p_brand AS brand,
          l_shipdate
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey),
      history AS (SELECT * FROM purchases
        WHERE l_shipdate < TIMESTAMP '2001-01-01'),
      top_brands AS (
        SELECT cust, brand FROM (
          SELECT cust, brand, row_number() OVER (
            PARTITION BY cust ORDER BY count(*) DESC, brand) AS rn
          FROM history GROUP BY cust, brand) t WHERE rn <= 3),
      fresh_top AS (
        SELECT brand, pk, last_ship FROM (
          SELECT brand, pk, max(l_shipdate) AS last_ship, row_number() OVER (
            PARTITION BY brand ORDER BY max(l_shipdate) DESC, pk) AS rn
          FROM purchases WHERE l_shipdate >= TIMESTAMP '2001-01-01'
          GROUP BY brand, pk) t WHERE rn <= 5),
      owned AS (SELECT DISTINCT cust, pk FROM history)
      SELECT tb.cust, tb.brand, ft.pk, ft.last_ship
      FROM top_brands tb JOIN fresh_top ft USING (brand)
      ANTI JOIN owned o ON tb.cust = o.cust AND ft.pk = o.pk
      ORDER BY cust, brand, pk"""))

  // ---------------------------------------------------------------- q122
  /** Fresh-releases FULL parameter surface (fresh_releases.py:44-123):
    * days-window over the listens AND the dated-release list (past +
    * future sides of the anchor, flagged is_future), artist equi-join
    * confidence, threshold floor. Analog: parts "release" at their first
    * ship date; a customer's confidence in a brand's fresh parts is their
    * recent purchase count of that brand. */
  val q122FreshReleasesParams = Q(
    "q122_fresh_releases_params",
    (s, d) => {
      // purchases feeds BOTH the release-list derivation and the listens
      // side; materialize the 3-table join once (the q100 rationale)
      val purchases = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .select(col("o_custkey").as("user_id"),
          col("l_shipdate").cast("timestamp").as("listened_at"),
          col("p_partkey"), col("p_brand"))
        .transform(graft.core.StateTable.pin)
      val releases = purchases
        .groupBy(col("p_partkey"), col("p_brand"))
        .agg(min(col("listened_at")).as("release_date"))
        .select(col("p_partkey").as("release_mbid"),
          col("p_brand").as("release_name"), col("release_date"),
          array(col("p_brand")).as("artist_mbids"))
      val listens = purchases
        .select(col("user_id"), col("listened_at"),
          array(col("p_brand")).as("artist_credit_mbids"))
      graft.releases.FreshReleases.forUsers(
          listens, releases,
          anchor = java.sql.Timestamp.valueOf("1995-06-01 00:00:00"),
          days = Some(120), threshold = 2L)
        .orderBy(col("user_id"), col("release_mbid"))
    },
    Some("""WITH purchases AS (
        SELECT o_custkey AS user_id, p_partkey AS pk, p_brand AS brand,
          l_shipdate AS ship
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey),
      releases AS (
        SELECT pk, brand, min(ship) AS release_date
        FROM purchases GROUP BY 1, 2),
      windowed_releases AS (
        SELECT * FROM releases
        WHERE release_date >= TIMESTAMP '1995-06-01' - INTERVAL 120 DAY
          AND release_date <= TIMESTAMP '1995-06-01' + INTERVAL 120 DAY),
      windowed_listens AS (
        SELECT user_id, brand FROM purchases
        WHERE ship >= TIMESTAMP '1995-06-01' - INTERVAL 120 DAY
          AND ship <= TIMESTAMP '1995-06-01'),
      conf AS (
        SELECT l.user_id, r.pk AS release_mbid, r.brand AS release_name,
          r.release_date::TIMESTAMP AS release_date,
          r.release_date > TIMESTAMP '1995-06-01' AS is_future,
          count(*) AS confidence
        FROM windowed_listens l JOIN windowed_releases r ON l.brand = r.brand
        GROUP BY 1, 2, 3, 4, 5)
      SELECT user_id, release_mbid, release_name, release_date, is_future,
        confidence
      FROM conf WHERE confidence >= 2
      ORDER BY user_id, release_mbid"""))

  // ---------------------------------------------------------------- q283
  /** Fresh releases on an ARTIST-CARDINALITY-FAITHFUL analog. q122's
    * analog keys the artist match on p_brand — 25 distinct values at
    * every SF — so its confidence surface is Θ(users × windowed
    * releases) by construction and its 100× run is output-quadratic
    * (measured: the fan-out join + final sort filled the disk; ledger
    * round 11). Real listen data doesn't look like that: artist
    * cardinality GROWS with the corpus (the reference's MBID space),
    * so per-artist audiences and per-artist release lists stay
    * bounded and the output is listens-linear. This query runs the
    * SAME FreshReleases.forUsers on a faithful analog — artist =
    * brand#type#size (~50k combos at sf1+, scaling with part
    * count) — and is the operator's scale row; q122 remains the
    * parameter-surface oracle at envelope SF. */
  val q283FreshReleasesScaled = Q(
    "q283_fresh_releases_scaled",
    (s, d) => {
      val art = concat_ws("#", col("p_brand"), col("p_type"),
        col("p_size").cast("string"))
      val purchases = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .select(col("o_custkey").as("user_id"),
          col("l_shipdate").cast("timestamp").as("listened_at"),
          col("p_partkey"), art.as("artist"))
        .transform(graft.core.StateTable.pin)
      val releases = purchases
        .groupBy(col("p_partkey"), col("artist"))
        .agg(min(col("listened_at")).as("release_date"))
        .select(col("p_partkey").as("release_mbid"),
          col("artist").as("release_name"), col("release_date"),
          array(col("artist")).as("artist_mbids"))
      val listens = purchases
        .select(col("user_id"), col("listened_at"),
          array(col("artist")).as("artist_credit_mbids"))
      graft.releases.FreshReleases.forUsers(
          listens, releases,
          anchor = java.sql.Timestamp.valueOf("1995-06-01 00:00:00"),
          days = Some(120), threshold = 2L)
        .orderBy(col("user_id"), col("release_mbid"))
    },
    Some("""WITH purchases AS (
        SELECT o_custkey AS user_id, p_partkey AS pk,
          p_brand || '#' || p_type || '#' || p_size AS artist,
          l_shipdate AS ship
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey),
      releases AS (
        SELECT pk, artist, min(ship) AS release_date
        FROM purchases GROUP BY 1, 2),
      windowed_releases AS (
        SELECT * FROM releases
        WHERE release_date >= TIMESTAMP '1995-06-01' - INTERVAL 120 DAY
          AND release_date <= TIMESTAMP '1995-06-01' + INTERVAL 120 DAY),
      windowed_listens AS (
        SELECT user_id, artist FROM purchases
        WHERE ship >= TIMESTAMP '1995-06-01' - INTERVAL 120 DAY
          AND ship <= TIMESTAMP '1995-06-01'),
      conf AS (
        SELECT l.user_id, r.pk AS release_mbid, r.artist AS release_name,
          r.release_date::TIMESTAMP AS release_date,
          r.release_date > TIMESTAMP '1995-06-01' AS is_future,
          count(*) AS confidence
        FROM windowed_listens l JOIN windowed_releases r
          ON l.artist = r.artist
        GROUP BY 1, 2, 3, 4, 5)
      SELECT user_id, release_mbid, release_name, release_date, is_future,
        confidence
      FROM conf WHERE confidence >= 2
      ORDER BY user_id, release_mbid"""))

  // ---------------------------------------------------------------- q94
  /** Artist-evolution via the ArtistEvolutionStats provider: purchases
    * shaped as listens (brand ≙ artist with a single-element credit
    * array), yielding per-(customer, order-year, brand) counts through the
    * provider's explode + case-insensitive keying. */
  val q94ArtistEvolution = Q(
    "q94_artist_evolution",
    (s, d) => {
      val listens = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .select(col("o_custkey").as("user_id"),
          col("o_orderdate").as("listened_at"),
          col("p_brand").as("artist_name"),
          array(col("p_brand")).as("artist_credit_mbids"))
      val p = graft.engine.ArtistEvolutionStats()
      p.stats(p.combine(p.aggregate(listens)))
        .orderBy(col("user_id"), col("year"), col("artist_name_key"))
    },
    Some("""SELECT user_id, year, artist_name_key, artist_mbid,
      artist_name, count(*) AS listen_count FROM (
        SELECT o_custkey AS user_id, year(o_orderdate) AS year,
          lower(p_brand) AS artist_name_key, p_brand AS artist_mbid,
          p_brand AS artist_name
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey) t
      GROUP BY user_id, year, artist_name_key, artist_mbid, artist_name
      ORDER BY user_id, year, artist_name_key"""))

  // ---------------------------------------------------------------- q129
  /** Bucketed-materialization round-trip: orders written bucketBy(custkey)
    * to an external table, the per-user aggregate computed over the
    * bucketed scan. The exchange-free property is plan-asserted in
    * BucketingSpec/ListenStoreSpec; this oracle pins the DATA path — the
    * bucketed layout loses and doubles nothing, and the cents-exact sums
    * survive the hash-distributed file layout. */
  val q129BucketedAgg = Q(
    "q129_bucketed_agg",
    (s, d) => {
      val work = graft.core.TempWork.dir("graft-q129")
      graft.core.Bucketing.writeBucketed(
        Tables.orders(s, d).select(col("o_custkey"), col("o_totalprice")),
        s"$work/orders-bkt", "graft_q129_orders", buckets = 8,
        Seq("o_custkey"))
      graft.core.Bucketing.read(s, "graft_q129_orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0)
            .as("total_price"))
        .orderBy(col("o_custkey"))
    },
    Some(s"""SELECT o_custkey, count(*) AS n_orders,
        ${Q.sqlCents("o_totalprice", "total_price")}
      FROM orders GROUP BY o_custkey ORDER BY o_custkey"""))

  // ---------------------------------------------------------------- q216
  /** MLHD-style chunked popularity: the popularity provider runs through
    * [[graft.engine.ChunkedRunner]] over the hex-prefix chunk layout
    * (user id's leading char, the MLHD+ corpus layout of
    * mlhd/download.py:24-27) — per-chunk partials parqueted, then
    * additively combined, the reference's `mlhd=True` popularity route
    * (popularity/main.py:15-29 → MlhdStatsEngine, popularity/mlhd.py:19-60).
    * The oracle is the DIRECT one-pass popularity aggregate, so the
    * driver hash PROVES chunked ≡ direct: exact, because user-prefix
    * chunks partition users — each listener is counted in exactly one
    * partial, and listen counts are additive regardless. */
  val q216MlhdPopularity = Q(
    "q216_mlhd_popularity",
    (s, d) => {
      val ev = graft.core.Tables.events(s, d)
      val work = graft.core.TempWork.dir("graft-q216")
      val chunks = graft.ingest.MlhdImport.chunkPredicates(
        graft.ingest.MlhdImport.chunkOf(col("user_id")))
      graft.engine.ChunkedRunner.run(s, ev,
          graft.popularity.Popularity.PopularityStats(
            "user_id", Seq("event_type")),
          chunks, work)
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS total_listen_count,
      count(DISTINCT user_id) AS total_user_count
      FROM events GROUP BY event_type ORDER BY event_type"""))

  val all: Seq[Q] = Seq(
    q70IncrementalTopk, q71SessionCooccur, q72OnlyIncremental,
    q73SitewideCapped, q74TopListeners, q87ListeningActivity,
    q89GenreActivity, q90ListeningTime, q91FreshReleases,
    q94ArtistEvolution, q121StoreEngine, q122FreshReleasesParams,
    q283FreshReleasesScaled,
    q129BucketedAgg, q135StreamingIngest, q158SketchDistinct,
    q173StreamingWindows, q189StreamIntervalJoin, q216MlhdPopularity,
    q228StreamingHeavyHitters, q234TwsTopK, q259SessionTimers,
    q261WarmTopK, q271IncrementalJoin)
}
