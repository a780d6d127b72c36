package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.queries.EngineQueries.flat

/** Year-in-Music, tags-dataset and cf-pipeline queries (the round-2 breadth
  * families: reference year_in_music modules, tags/tags.py,
  * recommendations/recording/{recommend,discovery}.py) over the synthetic
  * tables. Mapping: a "listen" is a lineitem⋈orders row (user ≙ o_custkey,
  * recording/release ≙ l_partkey, listened_at ≙ l_shipdate); part is the
  * metadata dimension (brand ≙ genre/artist, type words ≙ secondary tag
  * vocabularies).
  *
  * Nested results flatten to joined strings and ratios snap to ppm bigints
  * for driver comparability (see EngineQueries.flat).
  */
object MusicQueries {

  private val Year = 1998

  private def listens(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("user_id"),
        col("l_partkey").as("recording_mbid"),
        col("l_shipdate").as("listened_at"))

  private val ListensSql =
    """SELECT o_custkey AS user_id, l_partkey AS recording_mbid,
      l_shipdate AS listened_at
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey"""

  // ---------------------------------------------------------------- q95
  /** Tags dataset (tags/tags.py:19-33): dense_rank percentile of each
    * tagged recording's popularity within its tag, nested per recording.
    * Two tag vocabularies (brand + type word) stand in for the reference's
    * recording/artist sources; popularity is the global play count, absent
    * for never-played parts (exercising COALESCE(total, 0)). */
  val q95Tags = Q(
    "q95_tags",
    (s, d) => {
      val part = Tables.part(s, d)
      val tags = part.select(col("p_partkey").as("recording_mbid"),
          col("p_brand").as("tag"),
          (col("p_size") % 5 + 1).cast("long").as("tag_count"))
        .unionByName(part.select(col("p_partkey").as("recording_mbid"),
          split(col("p_type"), " ").getItem(0).as("tag"),
          (col("p_size") % 7 + 1).cast("long").as("tag_count")))
      val popularity = Tables.lineitem(s, d)
        .groupBy(col("l_partkey").as("recording_mbid"))
        .agg(count(lit(1)).as("total_listen_count"))
      graft.tags.Tags.datasetPpm(tags, popularity)
        .select(col("recording_mbid"),
          flat(col("tags"), "tag", "tag_count", "percent_ppm").as("tags"))
        .orderBy(col("recording_mbid"))
    },
    Some("""WITH tags AS (
        SELECT p_partkey AS recording_mbid, p_brand AS tag,
          cast(p_size % 5 + 1 AS bigint) AS tag_count FROM part
        UNION ALL
        SELECT p_partkey, string_split(p_type, ' ')[1],
          cast(p_size % 7 + 1 AS bigint) FROM part),
      pop AS (SELECT l_partkey AS recording_mbid, count(*) AS total
        FROM lineitem GROUP BY 1),
      inter AS (
        SELECT t.recording_mbid, tag, tag_count, dense_rank() OVER (
            PARTITION BY tag ORDER BY coalesce(total, 0) DESC) AS ranking
        FROM tags t LEFT JOIN pop USING (recording_mbid)),
      pct AS (
        SELECT recording_mbid, tag, tag_count,
          cast(round(coalesce((ranking - 1) / nullif(
            max(ranking) OVER (PARTITION BY tag) - 1, 0), 1) * 1000000)
            AS bigint) AS ppm
        FROM inter)
      SELECT recording_mbid, array_to_string(list_transform(
        list_sort(list(struct_pack(tag := tag, tag_count := tag_count,
          ppm := ppm))),
        x -> x.tag || '=' || x.tag_count || '=' || x.ppm), '|') AS tags
      FROM pct GROUP BY recording_mbid ORDER BY recording_mbid"""))

  // ---------------------------------------------------------------- q96
  /** YIM top genres (top_genres.py:29-62): three-source priority union —
    * recording beats release-group beats artist genres for the same
    * (user, recording, genre) — then per-user genre shares and top-25,
    * exploded with position to verify the desc nesting order. */
  val q96TopGenres = Q(
    "q96_top_genres",
    (s, d) => {
      val part = Tables.part(s, d)
      def genres(filterMod: Int, countMod: Int) = {
        val base = if (filterMod > 1)
          part.filter(col("p_partkey") % filterMod === 0) else part
        base.select(col("p_partkey").as("recording_mbid"),
          col("p_brand").as("genre"),
          (col("p_size") % countMod + 1).cast("long").as("genre_count"))
      }
      val artistGenres = part.select(col("p_partkey").as("recording_mbid"),
        split(col("p_type"), " ").getItem(0).as("genre"),
        (col("p_size") % 3 + 1).cast("long").as("genre_count"))
      val yearListens = listens(s, d)
        .filter(year(col("listened_at")) === Year)
        .select(col("user_id"), col("recording_mbid"))
      graft.yim.Yim.topGenres(yearListens,
          genres(2, 5), genres(3, 7), artistGenres)
        .select(col("user_id"), posexplode(col("data")).as(Seq("pos", "g")))
        .select(col("user_id"), col("pos"), col("g.genre_count"),
          col("g.genre"), col("g.genre_count_ppm"))
        .orderBy(col("user_id"), col("pos"))
    },
    Some(s"""WITH listens AS (
        SELECT o_custkey AS user_id, l_partkey AS recording_mbid
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE year(l_shipdate) = $Year),
      all_genres AS (
        SELECT user_id, recording_mbid, p_brand AS genre,
          cast(p_size % 5 + 1 AS bigint) AS genre_count, 1 AS priority
        FROM listens JOIN part ON recording_mbid = p_partkey
        WHERE p_partkey % 2 = 0
        UNION ALL
        SELECT user_id, recording_mbid, p_brand,
          cast(p_size % 7 + 1 AS bigint), 2
        FROM listens JOIN part ON recording_mbid = p_partkey
        WHERE p_partkey % 3 = 0
        UNION ALL
        SELECT user_id, recording_mbid, string_split(p_type, ' ')[1],
          cast(p_size % 3 + 1 AS bigint), 3
        FROM listens JOIN part ON recording_mbid = p_partkey),
      prioritized AS (
        SELECT user_id, recording_mbid, genre, genre_count FROM (
          SELECT *, row_number() OVER (
            PARTITION BY user_id, recording_mbid, genre
            ORDER BY priority) AS rn
          FROM all_genres) t WHERE rn = 1),
      together AS (
        SELECT user_id, genre, cast(sum(genre_count) AS bigint)
          AS genre_count
        FROM prioritized GROUP BY 1, 2),
      pct AS (
        SELECT user_id, genre, genre_count,
          cast(round(genre_count * 1000000.0 /
            sum(genre_count) OVER (PARTITION BY user_id)) AS bigint)
            AS genre_count_ppm,
          rank() OVER (PARTITION BY user_id ORDER BY genre_count DESC)
            AS ranking
        FROM together)
      SELECT user_id, row_number() OVER (PARTITION BY user_id
          ORDER BY genre_count DESC, genre DESC) - 1 AS pos,
        genre_count, genre, genre_count_ppm
      FROM pct WHERE ranking <= 25
      ORDER BY user_id, pos"""))

  // ---------------------------------------------------------------- q97
  /** YIM most-listened release year (most_listened_year.py:40-44): listen
    * counts per release year through a dated-release cache (10% undated →
    * dropped), emitted as a true year→count map then canonicalized. */
  val q97MostListenedYear = Q(
    "q97_most_listened_year",
    (s, d) => {
      val releaseYears = Tables.part(s, d)
        .select(col("p_partkey").as("release_mbid"),
          when(col("p_partkey") % 10 === 0, lit(null))
            .otherwise(lit(1970) + col("p_partkey") % 50)
            .as("first_release_date_year"))
      val l = listens(s, d)
        .withColumnRenamed("recording_mbid", "release_mbid")
      graft.yim.Yim.mostListenedYear(l, releaseYears)
        .select(col("user_id"),
          array_join(transform(map_entries(col("data")),
            x => concat_ws("=", x("key"), x("value"))), "|").as("data"))
        .orderBy(col("user_id"))
    },
    Some("""WITH rel AS (
        SELECT p_partkey AS release_mbid,
          CASE WHEN p_partkey % 10 = 0 THEN NULL
               ELSE 1970 + p_partkey % 50 END AS yr FROM part),
      ly AS (
        SELECT o_custkey AS user_id, yr AS year, count(*) AS listen_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN rel ON l_partkey = release_mbid
        WHERE yr IS NOT NULL GROUP BY 1, 2)
      SELECT user_id, array_to_string(list_transform(
        list_sort(list(struct_pack(year := year,
          listen_count := listen_count))),
        x -> x.year || '=' || x.listen_count), '|') AS data
      FROM ly GROUP BY user_id ORDER BY user_id"""))

  // ---------------------------------------------------------------- q98
  /** YIM listens-per-day (listens_per_day.py): the listening-activity grid
    * at DAY granularity over an explicit year window — every (user, day)
    * cell present, zero-filled. Restricted to one nation's users to keep
    * the densified grid proportionate. */
  val q98ListensPerDay = Q(
    "q98_listens_per_day",
    (s, d) => {
      val l = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .filter(col("c_nationkey") === 1)
        .select(col("o_custkey").as("user_id"), col("o_orderdate").as("ts"))
      graft.engine.ListeningActivity.computeWindow(l, "user_id", "ts",
          java.sql.Timestamp.valueOf(s"$Year-01-01 00:00:00"),
          java.sql.Timestamp.valueOf(s"${Year + 1}-01-01 00:00:00"), "day")
        .orderBy(col("user_id"), col("bucket_start"))
    },
    Some(s"""WITH l AS (
        SELECT o_custkey AS user_id, o_orderdate AS ts
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_nationkey = 1
          AND o_orderdate >= TIMESTAMP '$Year-01-01'
          AND o_orderdate < TIMESTAMP '${Year + 1}-01-01'),
      grid AS (SELECT unnest(generate_series(TIMESTAMP '$Year-01-01',
        TIMESTAMP '$Year-12-31', INTERVAL 1 DAY)) AS bucket_start),
      users AS (SELECT DISTINCT user_id FROM l),
      counts AS (SELECT user_id,
          cast(date_trunc('day', ts) AS timestamp) AS bucket_start,
          count(*) AS listen_count
        FROM l GROUP BY 1, 2)
      SELECT u.user_id, g.bucket_start,
        coalesce(c.listen_count, 0) AS listen_count
      FROM users u CROSS JOIN grid g
      LEFT JOIN counts c
        ON c.user_id = u.user_id AND c.bucket_start = g.bucket_start
      ORDER BY u.user_id, g.bucket_start"""))

  // ---------------------------------------------------------------- q99
  /** YIM sitewide listen count (listen_count.py:16-31): every user's
    * yearly total as ONE map row — the whole-table collect_list into a
    * map the reference JSON-serializes. */
  val q99ListenCount = Q(
    "q99_listen_count",
    (s, d) => graft.yim.Yim.listenCount(
        Tables.events(s, d).withColumnRenamed("ts", "listened_at"))
      .select(array_join(transform(
        map_entries(col("yearly_listen_counts")),
        x => concat_ws("=", x("key"), x("value"))), "|")
        .as("yearly_listen_counts")),
    Some("""SELECT array_to_string(list_transform(
        list_sort(list(struct_pack(u := user_id, c := listen_count))),
        x -> x.u || '=' || x.c), '|') AS yearly_listen_counts
      FROM (SELECT user_id, count(ts) AS listen_count FROM events
        GROUP BY 1) t"""))

  // ---------------------------------------------------------------- q100
  /** YIM top missed recordings (top_missed_recordings.py:43-103): score
    * recordings by similar-user plays in the window, anti-join the user's
    * own history, artist-cap, and cut a playlist with a DETERMINISTIC
    * shuffle key standing in for the reference's ORDER BY RANDOM().
    * Similar users are the top-3 by shared distinct recordings. */
  val q100TopMissed = Q(
    "q100_top_missed",
    (s, d) => {
      val l = listens(s, d)
      // cp feeds both sides of the shared-item self-join AND the final
      // anti join; materialize the distinct once (same rationale as
      // UserCosine.exact)
      val cp = l.select(col("user_id"), col("recording_mbid")).distinct()
        .transform(graft.core.StateTable.pin)
      // top-3 by shared distinct recordings via HIERARCHICAL top-k:
      // each ChunkedPairs chunk reduces its complete pair aggregate to
      // ≤3 rows per user before anything is written, so the pair
      // space is never persisted or re-read (SharedNeighborsSpec pins
      // the equivalence to the direct formulation; the oracle below
      // is the unreduced one)
      val similar = graft.similarity.SharedNeighbors.topK(
        cp, "user_id", "recording_mbid", k = 3)
      val artists = Tables.part(s, d)
        .select(col("p_partkey").as("recording_mbid"),
          array(col("p_brand")).as("artist_mbids"))
      val shuffleKey =
        (col("recording_mbid") * 2654435761L) % 1000000007L
      graft.yim.Yim.topMissedRecordings(l, similar, artists, shuffleKey,
          java.sql.Timestamp.valueOf(s"$Year-01-01 00:00:00"))
        .select(col("user_id"),
          array_join(col("recordings").cast("array<string>"), "|")
            .as("recordings"),
          array_join(col("similar_users").cast("array<string>"), "|")
            .as("similar_users"))
        .orderBy(col("user_id"))
    },
    Some(s"""WITH l AS ($ListensSql),
      cp AS (SELECT DISTINCT user_id, recording_mbid FROM l),
      shared AS (
        SELECT a.user_id, b.user_id AS other_user_id, count(*) AS shared
        FROM cp a JOIN cp b ON a.recording_mbid = b.recording_mbid
          AND a.user_id <> b.user_id
        GROUP BY 1, 2),
      sim_users AS (
        SELECT user_id, other_user_id FROM (
          SELECT user_id, other_user_id, row_number() OVER (
            PARTITION BY user_id ORDER BY shared DESC, other_user_id) AS rn
          FROM shared) t WHERE rn <= 3),
      intermediate AS (
        SELECT s.user_id, l.recording_mbid, count(*) AS score
        FROM sim_users s JOIN l ON s.other_user_id = l.user_id
        WHERE l.listened_at >= TIMESTAMP '$Year-01-01'
        GROUP BY 1, 2),
      unheard AS (
        SELECT i.user_id, i.recording_mbid, i.score FROM intermediate i
        ANTI JOIN cp ON i.recording_mbid = cp.recording_mbid
          AND i.user_id = cp.user_id),
      topk AS (
        SELECT user_id, recording_mbid, score FROM (
          SELECT *, rank() OVER (PARTITION BY user_id
            ORDER BY score DESC, recording_mbid) AS ranking
          FROM unheard) t WHERE ranking <= 200),
      artist_ranked AS (
        SELECT user_id, recording_mbid, score, rank() OVER (
            PARTITION BY user_id, p_brand
            ORDER BY score DESC, recording_mbid) AS pos
        FROM topk JOIN part ON recording_mbid = p_partkey),
      limited AS (
        SELECT user_id, recording_mbid, rank() OVER (
            PARTITION BY user_id
            ORDER BY (recording_mbid * 2654435761) % 1000000007) AS ranking
        FROM (SELECT user_id, recording_mbid FROM artist_ranked
          WHERE pos <= 2 GROUP BY 1, 2) t),
      playlists AS (
        SELECT user_id, array_to_string(list_sort(
          list(recording_mbid)), '|') AS recordings
        FROM limited WHERE ranking <= 50 GROUP BY user_id)
      SELECT p.user_id, p.recordings, array_to_string(list_sort(
        list(s.other_user_id)), '|') AS similar_users
      FROM playlists p JOIN sim_users s ON p.user_id = s.user_id
      GROUP BY 1, 2 ORDER BY p.user_id"""))

  // ---------------------------------------------------------------- q101
  /** YIM similar users (similar_users.py via similarity/user.py): top-5
    * most-similar users per user from exact sparse cosine, positions
    * exposed to verify the desc nesting. */
  val q101SimilarUsers = Q(
    "q101_similar_users",
    (s, d) => graft.yim.Yim.similarUsers(
        listens(s, d), "user_id", "recording_mbid", k = 5)
      .select(col("user_id"),
        posexplode(col("similar_users")).as(Seq("pos", "x")))
      .select(col("user_id"), col("pos"), col("x.other_user_id"),
        col("x.similarity"))
      .orderBy(col("user_id"), col("pos")),
    Some(s"""WITH counts AS (
        SELECT user_id AS u, recording_mbid AS it, count(*) AS c
        FROM ($ListensSql) GROUP BY 1, 2),
      norms AS (SELECT u, sum(c * c) AS norm2 FROM counts GROUP BY u),
      dots AS (
        SELECT a.u AS u1, b.u AS u2, sum(a.c * b.c) AS dot
        FROM counts a JOIN counts b ON a.it = b.it AND a.u < b.u
        GROUP BY 1, 2),
      pairs AS (
        SELECT u1, u2,
          round(dot / sqrt(cast(n1.norm2 * n2.norm2 AS double)), 6) AS sim
        FROM dots JOIN norms n1 ON u1 = n1.u JOIN norms n2 ON u2 = n2.u),
      sym AS (
        SELECT u1 AS user_id, u2 AS other_user_id, sim FROM pairs
        UNION ALL
        SELECT u2, u1, sim FROM pairs),
      ranked AS (
        SELECT user_id, other_user_id, sim, row_number() OVER (
          PARTITION BY user_id ORDER BY sim DESC, other_user_id) AS rn
        FROM sym)
      SELECT user_id, row_number() OVER (PARTITION BY user_id
          ORDER BY sim DESC, other_user_id DESC) - 1 AS pos,
        other_user_id, sim AS similarity
      FROM ranked WHERE rn <= 5 ORDER BY user_id, pos"""))

  // ---------------------------------------------------------------- q281
  /** The ROUTED similar-users production path (Dispatch approx=true →
    * Yim.similarUsers(tau)): a normalized-counts ChunkedPairs sweep
    * finds every pair with cosine ≥ τ = 0.1 (the τ filter inside each
    * chunk job keeps partials output-sized — deterministic, no
    * sampling; DIMSUM's magnitude cutoff prunes nothing at this
    * corpus shape, UserCosine.scala's measured 100× cliff), then a
    * pair-constrained join recomputes each dot
    * EXACTLY and re-derives the similarity with the exact path's own
    * expression, so the rows are DRIVER-EXACT against the brute-force
    * oracle, not envelope-gated like q280. Contract vs q101: neighbors below τ are dropped (users
    * whose 5th neighbor is < τ get fewer rows) — the thresholded
    * consumer's semantics, stated in the oracle's WHERE. Top-k after
    * the τ filter equals the τ filter of exact top-k because all ≥τ
    * pairs rank above all <τ pairs (UserCosineSpec pins that
    * equivalence differentially). */
  val q281SimilarUsersDimsum = Q(
    "q281_similar_users_dimsum",
    (s, d) => graft.similarity.UserCosine.dimsumTopK(
        listens(s, d), "user_id", "recording_mbid", k = 5, tau = 0.1)
      .orderBy(col("user_id"), col("other_user_id")),
    Some(s"""WITH counts AS (
        SELECT user_id AS u, recording_mbid AS it, count(*) AS c
        FROM ($ListensSql) GROUP BY 1, 2),
      norms AS (SELECT u, sum(c * c) AS norm2 FROM counts GROUP BY u),
      dots AS (
        SELECT a.u AS u1, b.u AS u2, sum(a.c * b.c) AS dot
        FROM counts a JOIN counts b ON a.it = b.it AND a.u < b.u
        GROUP BY 1, 2),
      pairs AS (
        SELECT u1, u2,
          round(dot / sqrt(cast(n1.norm2 * n2.norm2 AS double)), 6) AS sim
        FROM dots JOIN norms n1 ON u1 = n1.u JOIN norms n2 ON u2 = n2.u
        WHERE dot / sqrt(cast(n1.norm2 * n2.norm2 AS double)) >= 0.1),
      sym AS (
        SELECT u1 AS user_id, u2 AS other_user_id, sim FROM pairs
        UNION ALL
        SELECT u2, u1, sim FROM pairs),
      ranked AS (
        SELECT user_id, other_user_id, sim, row_number() OVER (
          PARTITION BY user_id ORDER BY sim DESC, other_user_id) AS rn
        FROM sym)
      SELECT user_id, other_user_id, sim AS similarity
      FROM ranked WHERE rn <= 5 ORDER BY user_id, other_user_id"""))

  // ---------------------------------------------------------------- q102
  /** cf recording discovery (discovery.py:17-25): latest listen timestamp
    * per (user, recording) — the enrichment table for recommendations. */
  val q102Discovery = Q(
    "q102_discovery",
    (s, d) => graft.recs.Recommend.recordingDiscovery(listens(s, d))
      .orderBy(col("user_id"), col("recording_mbid")),
    Some(s"""SELECT user_id, recording_mbid,
      max(listened_at) AS latest_listened_at
      FROM ($ListensSql) GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- q103
  /** cf recommendation processing (recommend.py:82-118): rank-and-cut raw
    * scores per user, translate dense ids back through the user/recording
    * maps, dedupe on the external key, left-join discovery. Raw scores are
    * synthesized deterministically over pseudo-randomized items so some
    * recommendations have no listening history (null latest_listened_at:
    * genuine discoveries). */
  val q103RecommendFlat = Q(
    "q103_recommend_flat",
    (s, d) => {
      val raw = recommendationInputs(s, d)
      graft.recs.Recommend.process(raw.recs, raw.users, raw.recordings,
          graft.recs.Recommend.recordingDiscovery(listens(s, d)), limit = 10)
        .orderBy(col("user_id"), col("recording_mbid"))
    },
    Some(s"""WITH $RecommendInputSql
      SELECT d.user_id, d.recording_mbid, d.score, rd.latest_listened_at
      FROM dedup d LEFT JOIN (
        SELECT user_id, recording_mbid, max(listened_at)
          AS latest_listened_at
        FROM ($ListensSql) GROUP BY 1, 2) rd
        ON d.user_id = rd.user_id AND d.recording_mbid = rd.recording_mbid
      ORDER BY d.user_id, d.recording_mbid"""))

  // ---------------------------------------------------------------- q104
  /** cf recommendation nesting (recommend.py:120-133): the array_sort
    * comparator delivery shape — per user, recs sorted score-DESC with the
    * reference's ISO timestamp rendering, flattened for comparability. */
  val q104RecommendNested = Q(
    "q104_recommend_nested",
    (s, d) => {
      val raw = recommendationInputs(s, d)
      val processed = graft.recs.Recommend.process(raw.recs, raw.users,
        raw.recordings,
        graft.recs.Recommend.recordingDiscovery(listens(s, d)), limit = 10)
      graft.recs.Recommend.nest(processed)
        .select(col("user_id"),
          array_join(transform(col("recs"),
            x => concat_ws("=", x("recording_mbid"),
              round(x("score") * 1000000.0).cast("long"),
              coalesce(x("latest_listened_at"), lit("never")))), "|")
            .as("recs"))
        .orderBy(col("user_id"))
    },
    Some(s"""WITH $RecommendInputSql,
      enriched AS (
        SELECT d.user_id, d.recording_mbid,
          cast(round(d.score * 1000000.0) AS bigint) AS ppm,
          rd.latest_listened_at
        FROM dedup d LEFT JOIN (
          SELECT user_id, recording_mbid, max(listened_at)
            AS latest_listened_at
          FROM ($ListensSql) GROUP BY 1, 2) rd
          ON d.user_id = rd.user_id
          AND d.recording_mbid = rd.recording_mbid)
      SELECT user_id, array_to_string(list_transform(
        list_sort(list(struct_pack(negppm := -ppm,
          mbid := recording_mbid,
          lla := coalesce(strftime(latest_listened_at,
            '%Y-%m-%dT%H:%M:%S') || '.000Z', 'never')))),
        x -> x.mbid || '=' || -x.negppm || '=' || x.lla), '|') AS recs
      FROM enriched GROUP BY user_id ORDER BY user_id"""))

  // ---------------------------------------------------------------- q105
  /** Era activity through the release → release-group chain
    * (stats/incremental/user/era_activity.py:27-45): left joins into the
    * dated-year filter with the >= 1800 metadata floor, nested (year,
    * count) ascending per user. */
  val q105EraActivity = Q(
    "q105_era_activity",
    (s, d) => {
      val releaseCache = Tables.part(s, d)
        .select(col("p_partkey").as("release_mbid"),
          (col("p_partkey") % 500).as("release_group_mbid"))
      val rgCache = releaseCache
        .select(col("release_group_mbid")).distinct()
        .select(col("release_group_mbid"),
          when(col("release_group_mbid") % 29 === 0, lit(null))
            .when(col("release_group_mbid") % 31 === 0, lit(1700))
            .otherwise(lit(1800) + col("release_group_mbid") % 220)
            .as("first_release_date_year"))
      val p = graft.engine.CacheJoinedStats
        .EraActivityChained(releaseCache, rgCache)
      val l = listens(s, d)
        .withColumnRenamed("recording_mbid", "release_mbid")
      p.stats(p.combine(p.aggregate(l)))
        .select(col("user_id"),
          flat(col("era_activity"), "year", "listen_count")
            .as("era_activity"))
        .orderBy(col("user_id"))
    },
    Some(s"""WITH rel AS (
        SELECT p_partkey AS release_mbid, p_partkey % 500 AS rgid
        FROM part),
      rg AS (SELECT DISTINCT rgid,
          CASE WHEN rgid % 29 = 0 THEN NULL
               WHEN rgid % 31 = 0 THEN 1700
               ELSE 1800 + rgid % 220 END AS yr
        FROM rel),
      agg AS (
        SELECT l.user_id, rg.yr AS year, count(*) AS listen_count
        FROM ($ListensSql) l
        LEFT JOIN rel ON l.recording_mbid = rel.release_mbid
        LEFT JOIN rg USING (rgid)
        WHERE yr IS NOT NULL AND yr >= 1800
        GROUP BY 1, 2)
      SELECT user_id, array_to_string(list_transform(
        list_sort(list(struct_pack(year := year,
          listen_count := listen_count))),
        x -> x.year || '=' || x.listen_count), '|') AS era_activity
      FROM agg GROUP BY user_id ORDER BY user_id"""))

  // ---------------------------------------------------------------- q106
  /** YIM genre activity by hour (genre_activity.py:31-66): top-10 genres
    * per (user, hour-of-day) through a genre cache with untagged
    * recordings (null genre) dropped, nested per user. Uses the events
    * table for real hour-of-day variance. */
  val q106GenreHour = Q(
    "q106_genre_hour",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts").as("listened_at"),
          (col("event_id") % 300).as("recording_mbid"))
      val genres = ev.select(col("recording_mbid")).distinct()
        .select(col("recording_mbid"),
          when(col("recording_mbid") % 5 === 0, lit(null))
            .otherwise(concat(lit("g"),
              (col("recording_mbid") % 12).cast("string"))).as("genre"))
      graft.yim.Yim.genreHourActivity(ev, genres)
        .select(col("user_id"),
          flat(col("data"), "genre", "hour", "listen_count").as("data"))
        .orderBy(col("user_id"))
    },
    Some("""WITH ev AS (
        SELECT user_id, ts AS listened_at, event_id % 300
          AS recording_mbid FROM events),
      genres AS (SELECT DISTINCT recording_mbid,
          CASE WHEN recording_mbid % 5 = 0 THEN NULL
               ELSE 'g' || cast(recording_mbid % 12 AS varchar) END AS genre
        FROM ev),
      counts AS (
        SELECT e.user_id, g.genre, hour(e.listened_at) AS hour,
          count(*) AS listen_count
        FROM ev e LEFT JOIN genres g USING (recording_mbid)
        WHERE g.genre IS NOT NULL GROUP BY 1, 2, 3),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY user_id, hour
          ORDER BY listen_count DESC, genre) AS rank FROM counts)
      SELECT user_id, array_to_string(list_transform(
        list_sort(list(struct_pack(genre := genre, hour := hour,
          listen_count := listen_count))),
        x -> x.genre || '=' || x.hour || '=' || x.listen_count), '|')
        AS data
      FROM ranked WHERE rank <= 10
      GROUP BY user_id ORDER BY user_id"""))

  // ---------------------------------------------------------------- q107
  /** YIM top stats (top_stats.py:33-47): the user top-entities provider
    * over the year's listens — the FromTo-selector reuse of the standard
    * entity stat, top-50. */
  val q107YimTopStats = Q(
    "q107_yim_top_stats",
    (s, d) => {
      val p = graft.engine.TopEntityStats(
        "user_id", Seq("recording_mbid"), top = 50)
      val yearListens = listens(s, d)
        .filter(year(col("listened_at")) === Year)
      p.stats(p.combine(p.aggregate(yearListens)))
        .select(col("user_id"), col("total_count"),
          flat(col("top_entities"), "recording_mbid", "listen_count")
            .as("top_entities"))
        .orderBy(col("user_id"))
    },
    Some(s"""SELECT user_id, total_count, top_entities FROM (
      SELECT user_id, cast(sum(cnt) AS bigint) AS total_count,
        array_to_string(list_transform(
          list_sort(list(struct_pack(listen_count := cnt,
            recording_mbid := recording_mbid))
            FILTER (WHERE rn <= 50), 'DESC'),
          x -> x.recording_mbid || '=' || x.listen_count), '|')
          AS top_entities
      FROM (
        SELECT user_id, recording_mbid, cnt, row_number() OVER (
          PARTITION BY user_id ORDER BY cnt DESC, recording_mbid) AS rn
        FROM (
          SELECT o_custkey AS user_id, l_partkey AS recording_mbid,
            count(*) AS cnt
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE year(l_shipdate) = $Year GROUP BY 1, 2) a) b
      GROUP BY user_id) c ORDER BY user_id"""))

  // ---------------------------------------------------------------- q108
  /** YIM top discoveries (top_discoveries.py:19-88): recordings FIRST
    * listened in the target year, scored by plays, artist-capped (max 2
    * per artist) and playlist-cut with the deterministic shuffle key. */
  val q108TopDiscoveries = Q(
    "q108_top_discoveries",
    (s, d) => {
      val l = listens(s, d)
        .filter(col("listened_at") < lit(s"${Year + 1}-01-01")
          .cast("timestamp"))
      val scored = graft.yim.Yim.tracksOfYear(l, Year, minPlays = 0)
      val artists = Tables.part(s, d)
        .select(col("p_partkey").as("recording_mbid"),
          array(col("p_brand")).as("artist_mbids"))
      graft.yim.Yim.artistCappedPlaylist(scored, artists,
          (col("recording_mbid") * 2654435761L) % 1000000007L)
        .select(col("user_id"),
          array_join(col("recordings").cast("array<string>"), "|")
            .as("recordings"))
        .orderBy(col("user_id"))
    },
    Some(s"""WITH l AS (
        SELECT * FROM ($ListensSql)
        WHERE listened_at < TIMESTAMP '${Year + 1}-01-01'),
      scored AS (
        SELECT user_id, recording_mbid, count(*) AS score
        FROM l GROUP BY 1, 2
        HAVING year(min(listened_at)) = $Year AND count(*) > 0),
      artist_ranked AS (
        SELECT user_id, recording_mbid, score, rank() OVER (
            PARTITION BY user_id, p_brand
            ORDER BY score DESC, recording_mbid) AS pos
        FROM scored JOIN part ON recording_mbid = p_partkey),
      limited AS (
        SELECT user_id, recording_mbid, rank() OVER (
            PARTITION BY user_id
            ORDER BY (recording_mbid * 2654435761) % 1000000007) AS ranking
        FROM (SELECT user_id, recording_mbid FROM artist_ranked
          WHERE pos <= 2 GROUP BY 1, 2) t)
      SELECT user_id, array_to_string(list_sort(
        list(recording_mbid)), '|') AS recordings
      FROM limited WHERE ranking <= 50
      GROUP BY user_id ORDER BY user_id"""))

  // ---------------------------------------------------------------- q115
  /** Artist origin map END-TO-END through the ArtistMap provider
    * (stats/user/artist_map.py shape): credits exploded from the listen's
    * artist array, joined to the artist→country cache, listener counts
    * per (user, country). Credits are two-artist arrays so the explode
    * genuinely fans out; 1 in 11 artists is absent from the country cache
    * (inner join drops those credits, the reference semantic). */
  val q115ArtistMap = Q(
    "q115_artist_map",
    (s, d) => {
      val l = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .select(col("o_custkey").as("user_id"),
          array(col("p_brand"), split(col("p_type"), " ").getItem(0))
            .as("artist_credit_mbids"))
      val countries = Tables.part(s, d)
        .select(col("p_brand").as("artist_mbid")).distinct()
        .unionByName(Tables.part(s, d)
          .select(split(col("p_type"), " ").getItem(0).as("artist_mbid"))
          .distinct())
        .distinct()
        .filter(ascii(col("artist_mbid")) % 11 =!= 0)
        .select(col("artist_mbid"),
          concat(lit("C"), (ascii(col("artist_mbid")) +
            length(col("artist_mbid"))).cast("string")).as("country_code"))
      val p = graft.engine.CacheJoinedStats.ArtistMap(countries)
      p.stats(p.combine(p.aggregate(l)))
        .orderBy(col("user_id"), col("country_code"))
    },
    Some("""WITH credits AS (
        SELECT o_custkey AS user_id, cr.artist_mbid
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey,
        unnest([p_brand, string_split(p_type, ' ')[1]]) AS cr(artist_mbid)),
      countries AS (
        SELECT artist_mbid, 'C' || cast(ascii(artist_mbid) +
          length(artist_mbid) AS varchar) AS country_code
        FROM (
          SELECT DISTINCT artist_mbid FROM (
            SELECT p_brand AS artist_mbid FROM part
            UNION SELECT string_split(p_type, ' ')[1] FROM part) u) t
        WHERE ascii(artist_mbid) % 11 <> 0)
      SELECT c.user_id, co.country_code, count(*) AS listen_count
      FROM credits c JOIN countries co USING (artist_mbid)
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- q116
  /** Sitewide listening activity: the densified bucket grid collapsed to
    * one site-wide series (the stats.sitewide.listening_activity handler
    * — constant grouping key over the same computeWindow machinery). */
  val q116SitewideActivity = Q(
    "q116_sitewide_activity",
    (s, d) => {
      val l = Tables.orders(s, d)
        .select(lit(0).as("site"), col("o_orderdate").as("ts"))
      graft.engine.ListeningActivity.computeWindow(l, "site", "ts",
          java.sql.Timestamp.valueOf(s"$Year-01-01 00:00:00"),
          java.sql.Timestamp.valueOf(s"${Year + 1}-01-01 00:00:00"), "month")
        .select(col("bucket_start"), col("listen_count"))
        .orderBy(col("bucket_start"))
    },
    Some(s"""WITH grid AS (
        SELECT unnest(generate_series(TIMESTAMP '$Year-01-01',
          TIMESTAMP '$Year-12-01', INTERVAL 1 MONTH)) AS bucket_start),
      counts AS (
        SELECT cast(date_trunc('month', o_orderdate) AS timestamp)
          AS bucket_start, count(*) AS listen_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '$Year-01-01'
          AND o_orderdate < TIMESTAMP '${Year + 1}-01-01'
        GROUP BY 1)
      SELECT g.bucket_start, coalesce(c.listen_count, 0) AS listen_count
      FROM grid g LEFT JOIN counts c ON g.bucket_start = c.bucket_start
      ORDER BY g.bucket_start"""))

  // ---------------------------------------------------------------- q120
  /** Missing-MusicBrainz-data dataset END-TO-END (missing_mb_data.py:
    * 38-43): each user's most-played UNMAPPED listens — 1 in 13
    * recordings is unmapped (null mbid) — ranked for mapping triage. */
  val q120MissingMbData = Q(
    "q120_missing_mb_data",
    (s, d) => {
      val l = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .select(col("o_custkey").as("user_id"),
          when(col("l_partkey") % 13 === 0, lit(null))
            .otherwise(col("l_partkey")).as("recording_mbid"),
          concat(lit("r"), col("l_partkey")).as("recording_name"),
          col("p_brand").as("artist_name"),
          concat(lit("rel"), col("l_partkey") % 100).as("release_name"),
          col("l_shipdate").as("listened_at"))
      graft.engine.MissingMbData(l, top = 5)
        .orderBy(col("user_id"), col("rank"))
    },
    Some("""SELECT user_id, recording_name, artist_name, release_name,
        listen_count, last_listened_at, rank FROM (
      SELECT o_custkey AS user_id, 'r' || l_partkey AS recording_name,
        p_brand AS artist_name, 'rel' || (l_partkey % 100) AS release_name,
        count(*) AS listen_count, max(l_shipdate) AS last_listened_at,
        row_number() OVER (PARTITION BY o_custkey
          ORDER BY count(*) DESC, 'r' || l_partkey, p_brand) AS rank
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN part ON l_partkey = p_partkey
      WHERE l_partkey % 13 = 0
      GROUP BY 1, 2, 3, 4) t
      WHERE rank <= 5 ORDER BY user_id, rank"""))

  /** Deterministic synthetic ALS-output stand-in shared by q103/q104:
    * pseudo-randomized (user, item) pairs with a rational prediction so
    * ppm snapping is injective on score order, plus the dense-id → external
    * key maps the processing stage translates through. */
  private final case class RecInputs(
      recs: org.apache.spark.sql.DataFrame,
      users: org.apache.spark.sql.DataFrame,
      recordings: org.apache.spark.sql.DataFrame)

  private def recommendationInputs(
      s: org.apache.spark.sql.SparkSession, d: String): RecInputs = {
    val pairs = listens(s, d)
      .select(col("user_id").as("c"), col("recording_mbid").as("r"))
      .select(col("c"), ((col("r") * 7 + col("c")) % 2000).as("p"))
      .distinct()
    val recs = pairs.select(
      (col("c") + 100000).as("spark_user_id"),
      (col("p") + 500000).as("recording_id"),
      (((col("c") * 31 + col("p") * 17) % 997) / 997.0).as("prediction"))
    val users = Tables.customer(s, d).select(
      (col("c_custkey") + 100000).as("spark_user_id"),
      col("c_custkey").as("user_id"))
    val recordings = Tables.part(s, d).select(
      (col("p_partkey") + 500000).as("recording_id"),
      col("p_partkey").as("recording_mbid"))
    RecInputs(recs, users, recordings)
  }

  private lazy val RecommendInputSql =
    s"""pairs AS (
        SELECT DISTINCT user_id AS c,
          (recording_mbid * 7 + user_id) % 2000 AS p
        FROM ($ListensSql)),
      recs AS (
        SELECT c + 100000 AS spark_user_id, p + 500000 AS recording_id,
          ((c * 31 + p * 17) % 997) / 997.0 AS prediction
        FROM pairs),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY spark_user_id
          ORDER BY prediction DESC, recording_id) AS rank
        FROM recs),
      dedup AS (
        SELECT u.user_id, r.recording_mbid, max(prediction) AS score
        FROM ranked rr
        JOIN (SELECT p_partkey + 500000 AS recording_id,
          p_partkey AS recording_mbid FROM part) r USING (recording_id)
        JOIN (SELECT c_custkey + 100000 AS spark_user_id,
          c_custkey AS user_id FROM customer) u USING (spark_user_id)
        WHERE rank <= 10 GROUP BY 1, 2)"""

  // ---------------------------------------------------------------- q227
  /** PMI-scored "also played" item associations
    * ([[graft.similarity.Cooccurrence]]): co-listened recording pairs
    * with at least 5 shared listeners, scored by pointwise mutual
    * information over presence sets. The pair stage rides
    * [[graft.similarity.ChunkedPairs]] (measured chunking, per-chunk
    * support filter); all counts are exact bigints and the oracle
    * replays the identical ln(bigint·bigint / (bigint·bigint))
    * float step. */
  val q227CooccurPmi = Q(
    "q227_cooccur_pmi",
    (s, d) => graft.similarity.Cooccurrence.pmi(
        listens(s, d), "user_id", "recording_mbid", minBoth = 5)
      .orderBy(col("item_a"), col("item_b")),
    Some(s"""WITH pres AS (
        SELECT DISTINCT l_partkey AS item, o_custkey AS u
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      n AS (SELECT count(DISTINCT u) AS nu FROM pres),
      deg AS (SELECT item, count(*) AS d FROM pres GROUP BY item),
      pairs AS (
        SELECT a.item AS item_a, b.item AS item_b, count(*) AS users_both
        FROM pres a JOIN pres b ON a.u = b.u AND a.item < b.item
        GROUP BY 1, 2 HAVING count(*) >= 5)
      SELECT p.item_a, p.item_b, p.users_both,
        round(ln((p.users_both * n.nu) / (da.d * db.d)), 6) AS pmi_r
      FROM pairs p
      CROSS JOIN n
      JOIN deg da ON p.item_a = da.item
      JOIN deg db ON p.item_b = db.item
      ORDER BY p.item_a, p.item_b"""))

  // ---------------------------------------------------------------- q230
  /** Incrementally-maintained PMI associations through the PRODUCTION
    * state layout ([[graft.similarity.PairState]]): the pair base is
    * built on the first 80% of recordings and lands pk-partitioned;
    * the remaining 20% applies as TWO batches with a forced
    * compaction between them, so one query oracles every lifecycle
    * leg — segment-log delta write (O(batch), base never shuffled),
    * the dynamic-partition-overwrite fold (only touched pk partitions
    * rewritten), and the merged base∪segment read. The oracle is the
    * FULL single-pass PMI over all listens (q227's SQL at this
    * support), i.e. the verdict pins incremental ≡ direct, including
    * replayed (item, user) rows straddling the cuts. */
  val q230CooccurIncremental = Q(
    "q230_cooccur_incremental",
    (s, d) => {
      // the listen join feeds FOUR plan positions (the max anchor, the
      // base create, both batch applies) — materialize it once with
      // size-gated placement instead of re-running lineitem ⋈ orders per
      // leg (guide §1.2: don't recompute what you already have; pinned
      // below the gate, local-disk stage at corpus scale)
      val evP = graft.core.StateTable.pinOrStage(
        listens(s, d), Seq.empty, "q230_listens")
      val ev = evP.df
      // a user-id split would put whole users on one side; splitting on
      // recording id makes users straddle the cut, so batch rows
      // collide with existing presence (the hard incremental case)
      val top =
        ev.agg(max(col("recording_mbid"))).collect()(0).getLong(0) + 1L
      val cut1 = top * 4L / 5L
      val cut2 = top * 9L / 10L
      val base = ev.filter(col("recording_mbid") < cut1)
      val batch1 = ev.filter(
        col("recording_mbid") >= cut1 && col("recording_mbid") < cut2)
      val batch2 = ev.filter(col("recording_mbid") >= cut2)
      val work = graft.core.TempWork.dir("graft-q230")
      val st = graft.similarity.PairState.create(
        s, s"$work/state", base, "user_id", "recording_mbid",
        buckets = 16)
      // compactFraction beyond reach — the compaction leg is exercised
      // by the explicit call so BOTH paths (post-compact read after
      // batch 1, live-segment merge read after batch 2) are oracled
      st.applyBatch(batch1, "user_id", "recording_mbid",
        compactFraction = 1e12)
      st.compact()
      st.applyBatch(batch2, "user_id", "recording_mbid",
        compactFraction = 1e12)
      // the second apply was the last consumer of the listen frame; the
      // scoring below reads only the landed PairState parquet
      evP.release()
      graft.similarity.Cooccurrence.scoreCounts(st.pairs(), st.presence(),
          minBoth = 5)
        .orderBy(col("item_a"), col("item_b"))
    },
    Some(s"""WITH pres AS (
        SELECT DISTINCT l_partkey AS item, o_custkey AS u
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      n AS (SELECT count(DISTINCT u) AS nu FROM pres),
      deg AS (SELECT item, count(*) AS d FROM pres GROUP BY item),
      pairs AS (
        SELECT a.item AS item_a, b.item AS item_b, count(*) AS users_both
        FROM pres a JOIN pres b ON a.u = b.u AND a.item < b.item
        GROUP BY 1, 2 HAVING count(*) >= 5)
      SELECT p.item_a, p.item_b, p.users_both,
        round(ln((p.users_both * n.nu) / (da.d * db.d)), 6) AS pmi_r
      FROM pairs p
      CROSS JOIN n
      JOIN deg da ON p.item_a = da.item
      JOIN deg db ON p.item_b = db.item
      ORDER BY p.item_a, p.item_b"""))

  val all: Seq[Q] = Seq(
    q95Tags, q96TopGenres, q97MostListenedYear, q98ListensPerDay,
    q99ListenCount, q100TopMissed, q101SimilarUsers, q102Discovery,
    q103RecommendFlat, q104RecommendNested, q105EraActivity,
    q106GenreHour, q107YimTopStats, q108TopDiscoveries, q115ArtistMap,
    q116SitewideActivity, q120MissingMbData, q227CooccurPmi,
    q230CooccurIncremental, q281SimilarUsersDimsum)
}
