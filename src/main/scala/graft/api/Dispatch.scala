package graft.api

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.ParquetFooters
import graft.engine._

/** Request dispatch — the engine's API surface, mirroring the reference's
  * query_map.py:45-96 (name → handler) and request_queries.json (name →
  * params). A request names a query, an entity, a stats range or year, and
  * optionally carries a payload frame (dump imports); the handler resolves
  * the window against the data's high-water mark and runs the matching
  * provider/job. Every one of the reference's 44 registered names is
  * dispatchable; [[Dispatch.names]] is the registry.
  */
final class Dispatch(
    spark: SparkSession, store: ListenStore,
    engine: IncrementalStatsEngine, caches: Dispatch.Caches = Dispatch.Caches(),
    workDir: String = "/tmp/graft-dispatch") {

  /** A parsed request (the JSON request body's fields). `data` carries the
    * payload frame of import requests; `year` parameterizes the YIM
    * family (0 = the anchor listen's year). */
  final case class StatRequest(
      query: String, entity: String = "artists",
      statsRange: String = "all_time", onlyInc: Boolean = false,
      year: Int = 0, data: Option[DataFrame] = None, dumpId: Int = 0,
      days: Int = 0, threshold: Long = 0L, approx: Boolean = false,
      mlhd: Boolean = false)

  private def entityProvider(entity: String, top: Int): StatsProvider =
    entity match {
      case "artists" => UserArtistStats(top)
      case other => TopEntityStats("user_id", Seq(other), top)
    }

  /** "Latest listen" anchor for window resolution. Read from the store's
    * high-water metadata (one-row JSON maintained at import time, the
    * listens/metadata.py:18-55 pattern) — NOT a scan: a per-request
    * max(listened_at) over base ∪ incremental is a full-table aggregate
    * before any query runs at 100 TB. The scan remains only as a
    * self-healing fallback for stores predating the metadata file — and it
    * persists what it computed, so the legacy scan runs at most once per
    * store. */
  private def anchor(): Timestamp =
    store.highWater.map(_._1).getOrElse {
      val row = store.baseListens.unionByName(store.incrementalListens)
        .agg(max(col("listened_at")), max(col("created"))).collect()(0)
      Option(row.getTimestamp(0)) match {
        case Some(l) =>
          store.persistHighWater(l,
            Option(row.getTimestamp(1)).getOrElse(l))
          l
        case None => new Timestamp(System.currentTimeMillis())
      }
    }

  private def yimWindow(req: StatRequest): (Timestamp, Timestamp) = {
    val y = if (req.year > 0) req.year
      else anchor().toLocalDateTime.getYear
    (Timestamp.valueOf(s"$y-01-01 00:00:00"),
      Timestamp.valueOf(s"${y + 1}-01-01 00:00:00"))
  }

  private def status(kind: String, detail: String): DataFrame = {
    import spark.implicits._
    Seq((kind, detail)).toDF("type", "detail")
  }

  private val dumps = new graft.ingest.DumpImport(
    spark, store, s"$workDir/dumps", engine.workDir)

  /** Resolve and run a request; returns the result frame. Families mirror
    * query_map.py: stats.* run through the incremental engine with cached
    * partials; YIM jobs run over the year window; popularity / similarity /
    * playlist / dataset jobs run directly over the windowed listens;
    * import.* commands orchestrate the store and answer with a status
    * row (the reference's import handlers return messages, not frames). */
  def handle(req: StatRequest): DataFrame = {
    lazy val (from, to) = StatsRange.window(req.statsRange, anchor())
    def windowed: DataFrame = store.listens(from, to)
    lazy val (yFrom, yTo) = yimWindow(req)
    def yearListens: DataFrame = store.listens(yFrom, yTo)
    def allListens: DataFrame =
      store.listens(new Timestamp(0L), Timestamp.valueOf(
        anchor().toLocalDateTime.plusSeconds(1)))
    def sitewide(df: DataFrame): DataFrame =
      df.withColumn("user_id", lit(0))
    def payload: DataFrame = req.data.getOrElse(
      throw new IllegalArgumentException(s"${req.query} needs a payload"))

    req.query match {
      // ------------------------------------------------------ diagnostics
      case "echo.echo" => status("echo", req.entity)

      // ---------------------------------------------------------- stats.*
      case "stats.user.entity" =>
        // Read path selection: when a FRESH user-bucketed projection exists
        // (ListenStore.userBucketed), the whole stat — aggregate, combine,
        // window rank, nesting — is keyed on user_id, so it runs straight
        // off the bucketed scan with ZERO shuffle exchanges (asserted in
        // ApiSpec). The projection already amortizes the scan+shuffle the
        // cached-partial path exists to avoid, so it substitutes for the
        // disk partials; imports stale it and dispatch falls back to the
        // engine's partitioned path. onlyInc keeps the engine path — its
        // semantics need the base/incremental split.
        store.userBucketed match {
          case Some(bucketed) if !req.onlyInc =>
            val p = entityProvider(req.entity, top = 1000)
            p.stats(p.combine(p.aggregate(bucketed.filter(
              col("listened_at") >= lit(from) &&
                col("listened_at") < lit(to)))))
          case _ =>
            engine.run(s"user_${req.entity}_${req.statsRange}",
              entityProvider(req.entity, top = 1000), store, from, to,
              req.onlyInc)
        }
      case "stats.user.artist_evolution_activity" |
           "stats.user.artist_evolution" =>
        engine.run(s"artist_evolution_${req.statsRange}",
          ArtistEvolutionStats(), store, from, to)
      case "stats.user.daily_activity" =>
        engine.run(s"daily_activity_${req.statsRange}",
          DailyActivityStats("user_id", "listened_at"), store, from, to)
      case "stats.user.listening_activity" =>
        ListeningActivity.compute(
          windowed, "user_id", "listened_at", req.statsRange, anchor())
      case "stats.user.genre_activity" =>
        engine.run(s"genre_activity_${req.statsRange}",
          CacheJoinedStats.GenreActivity(caches.genres), store, from, to)
      case "stats.user.era_activity" =>
        engine.run(s"era_activity_${req.statsRange}",
          CacheJoinedStats.EraActivityChained(
            caches.releases, caches.releaseGroups), store, from, to)
      case "stats.sitewide.entity" =>
        engine.run(s"sitewide_${req.entity}_${req.statsRange}",
          SitewideEntityStats("user_id", Seq(req.entity)), store, from, to)
      case "stats.sitewide.listening_activity" =>
        ListeningActivity.compute(sitewide(windowed),
          "user_id", "listened_at", req.statsRange, anchor())
      case "stats.sitewide.era_activity" =>
        val p = CacheJoinedStats.EraActivityChained(
          caches.releases, caches.releaseGroups)
        p.stats(p.combine(p.aggregate(sitewide(windowed))))
      case "stats.sitewide.artist_evolution_activity" =>
        val p = ArtistEvolutionStats()
        p.stats(p.combine(p.aggregate(sitewide(windowed))))
      case "stats.entity.listeners" | "stats.listener.entity" =>
        engine.run(s"listener_${req.entity}_${req.statsRange}",
          ListenerStats("user_id", Seq(req.entity)), store, from, to)

      // --------------------------------------------------------- import.*
      case "import.dump.full" =>
        dumps.importFull(payload, req.dumpId)
        status("import_full", s"dump ${req.dumpId}")
      case "import.dump.incremental" =>
        dumps.importIncremental(payload, req.dumpId)
        status("import_incremental", s"dump ${req.dumpId}")
      case "import.dump.sample" =>
        // same orchestration as a full import, but ledgered as "sample" —
        // a sample sharing a dumpId must not replace the real full-import
        // ledger row (dump.py:187-208 keys the ledger by (id, type))
        dumps.importFull(payload, req.dumpId, dumpType = "sample")
        status("import_sample", s"dump ${req.dumpId}")
      case "import.dump.mlhd" =>
        // MLHD chunks land partitioned by the user id's leading hex char —
        // the real corpus keys users by UUID STRING and lays files out by
        // hex prefix (mlhd/download.py:24-27); integer fixture ids degrade
        // to their leading digit, still a valid chunking
        payload
          .withColumn("chunk",
            graft.ingest.MlhdImport.chunkOf(col("user_id")))
          .repartition(col("chunk"))
          .write.partitionBy("chunk").mode("overwrite")
          .parquet(s"$workDir/mlhd")
        status("import_mlhd", s"$workDir/mlhd")
      case "import.deleted_listens" =>
        store.appendDeleted(payload)
        status("import_deleted", "appended")
      case "import.compact_listens" =>
        store.compact()
        status("compact", "done")
      case "import.pg_metadata_tables" =>
        // JDBC cache refresh (postgres/utils.py:8-17): every metadata
        // cache re-imported through the pushdown query path
        caches.jdbc match {
          case Some((cfg, queries)) =>
            queries.foreach { case (name, sql) =>
              graft.ingest.JdbcCache.importCache(
                spark, cfg, sql, s"$workDir/caches/$name")
            }
            status("import_pg", queries.keys.mkString(","))
          case None => status("import_pg", "no jdbc source configured")
        }

      // ------------------------------------------------------------- cf.*
      case "cf.missing_mb_data" =>
        MissingMbData(windowed)
      case "cf.recommendations.recording.create_dataframes" =>
        val pc = graft.recs.Als.buildPlaycounts(
          windowed.filter(col("recording_mbid").isNotNull),
          "user_id", "recording_mbid")
        pc.write.mode("overwrite").parquet(s"$workDir/cf/playcounts")
        pc
      case "cf.recommendations.recording.train_model" =>
        // select → save → LEDGER (train_models.py:236-250): the saved
        // model's params, cross-validated RMSE and training counts append
        // to the model-metadata ledger next to the model itself
        val pc = ParquetFooters.read(spark, s"$workDir/cf/playcounts")
        val grid = graft.recs.Als.trainWithGridDetailed(pc,
          ranks = Seq(8), regParams = Seq(0.1), alphas = Seq(3.0))
        grid.model.write.overwrite().save(s"$workDir/cf/model")
        graft.recs.ModelLedger.append(spark, s"$workDir/cf/model-metadata",
          graft.recs.ModelLedger.entryFor(
            modelId = s"model-${java.util.UUID.randomUUID()}",
            dataframeId = "playcounts", grid = grid, playcounts = pc))
        status("model", s"$workDir/cf/model")
      case "cf.recommendations.recording.recommendations" =>
        val pc = ParquetFooters.read(spark, s"$workDir/cf/playcounts")
        val model = org.apache.spark.ml.recommendation.ALSModel
          .load(s"$workDir/cf/model")
        val raw = graft.recs.Als.recommend(model, pc, k = 50)
          .select(col("als_user_id").as("spark_user_id"),
            col("als_item_id").as("recording_id"),
            col("score").as("prediction"))
        val users = pc.select(col("als_user_id").as("spark_user_id"),
          col("user_id")).distinct()
        val recordings = pc.select(col("als_item_id").as("recording_id"),
          col("recording_mbid")).distinct()
        graft.recs.Recommend.nest(graft.recs.Recommend.process(
          raw, users, recordings,
          graft.recs.Recommend.recordingDiscovery(allListens), limit = 30))
      case "cf.recommendations.recording.discovery" =>
        val d = graft.recs.Recommend.recordingDiscovery(allListens)
        d.write.mode("overwrite").parquet(s"$workDir/cf/discovery")
        d

      // ----------------------------------------------------- similarity.*
      case "similarity.similar_users" =>
        // production path caps hot-item degree (one viral track must not
        // quadratically dominate pair generation); oracled queries use
        // the uncapped exact form. approx=true routes through the
        // thresholded-DIMSUM finder (τ = 0.1, q280's envelope-gated
        // near-exact tier; q281 oracles the routed shape) — the 100×
        // shape, where the exact pair engine is the verify tier
        graft.yim.Yim.similarUsers(
          windowed.filter(col("recording_mbid").isNotNull),
          "user_id", "recording_mbid", k = 25,
          maxItemListeners = Some(10000L),
          tau = if (req.approx) Some(0.1) else None)
      case "similarity.recording" =>
        graft.similarity.SessionSimilarity(
          windowed.filter(col("recording_mbid").isNotNull),
          "user_id", "listened_at", "recording_mbid",
          gapSeconds = 1800L, perUserCap = 10L, minScore = 2L, topK = 1000)
      case "similarity.artist" =>
        graft.similarity.SessionSimilarity(
          windowed, "user_id", "listened_at", "artist_name",
          gapSeconds = 1800L, perUserCap = 10L, minScore = 2L, topK = 1000)
      case "similarity.mlhd" =>
        // the chunked MLHD variant: per-user-prefix partial aggregation
        // (mlhd.py:32-40 + similarity/recording/common.py:190-213). Chunks
        // are the user id's leading hex char — the real corpus keys users
        // by UUID string (download.py:24-27); integer fixture ids land on
        // their leading digit. chunkPredicates appends the non-hex
        // catch-all so the set COVERS arbitrary ids, not just [0-9a-f].
        val chunks = graft.ingest.MlhdImport.chunkPredicates(
          graft.ingest.MlhdImport.chunkOf(col("user_id")))
        ChunkedRunner.run(spark,
          windowed.filter(col("recording_mbid").isNotNull),
          TopEntityStats("user_id", Seq("recording_mbid"), top = 1000),
          chunks, s"$workDir/mlhd-chunks")

      // ----------------------------------------------------- popularity.*
      // approx=true swaps the exact two-stage distinct for HyperLogLog++
      // sketches (Popularity.entityApprox) — the escape hatch for the
      // regime where the (entity, user) pair shuffle IS the job cost
      // (the reference's 27B-listen MLHD popularity). Exact stays the
      // default and the oracled path; q134 oracles the approx path's
      // error envelope against the exact one.
      case "popularity.popularity" | "popularity.entity" =>
        if (req.mlhd) {
          // the reference's mlhd flag (popularity/main.py:15-29) routes to
          // the chunked partial-aggregate engine over the MLHD+ corpus
          // (mlhd.py:19-60). Here: the imported MLHD store (written
          // chunk-partitioned by import.dump.mlhd, the download.py:24-27
          // hex-prefix layout) runs the popularity provider through
          // ChunkedRunner — each hex chunk aggregates in its own job
          // (bounding any single shuffle to one chunk of the 27B-listen
          // corpus) and the additive combine over per-user-prefix
          // partials is EXACT because chunks partition users. q216
          // driver-proves chunked ≡ direct aggregation.
          val mlhdListens = ParquetFooters.read(spark, s"$workDir/mlhd")
          // cast: digit-only chunk dirs type-infer as int on read; the
          // predicates still reference only the partition column, so
          // each chunk job (the non-hex catch-all included) stays
          // partition-pruned
          val chunks = graft.ingest.MlhdImport.chunkPredicates(
            col("chunk").cast("string"))
          ChunkedRunner.run(spark, mlhdListens,
            graft.popularity.Popularity.PopularityStats(
              "user_id", Seq(req.entity)),
            chunks, s"$workDir/popularity-mlhd-chunks")
        } else if (req.approx)
          graft.popularity.Popularity.entityApprox(
            windowed, "user_id", Seq(req.entity))
        else
          graft.popularity.Popularity.entity(
            windowed, "user_id", Seq(req.entity))

      // -------------------------------------------------- year_in_music.*
      case "year_in_music.new_releases_of_top_artists" =>
        graft.yim.Yim.newReleasesOfTopArtists(yearListens, caches.newReleases)
      case "year_in_music.most_listened_year" =>
        graft.yim.Yim.mostListenedYear(yearListens, caches.releaseYears)
      case "year_in_music.artist_evolution_activity" =>
        val p = ArtistEvolutionStats()
        p.stats(p.combine(p.aggregate(yearListens)))
      case "year_in_music.day_of_week" =>
        graft.yim.Yim.dayOfWeek(yearListens)
      case "year_in_music.similar_users" =>
        graft.yim.Yim.similarUsers(
          yearListens.filter(col("recording_mbid").isNotNull),
          "user_id", "recording_mbid", k = 25,
          tau = if (req.approx) Some(0.1) else None)
      case "year_in_music.top_stats" =>
        // the reference runs the entity stats AND an artist-map rollup in
        // the same handler (top_stats.py:33-52); entity selects which
        if (req.entity == "artist_map") {
          val p = CacheJoinedStats.ArtistMap(caches.artistCountries)
          p.stats(p.combine(p.aggregate(yearListens)))
        } else {
          val p = TopEntityStats("user_id",
            Seq(if (req.entity == "artists") "artist_name"
              else "recording_mbid"), top = 50)
          p.stats(p.combine(p.aggregate(yearListens)))
        }
      case "year_in_music.listens_per_day" =>
        ListeningActivity.computeWindow(
          yearListens, "user_id", "listened_at", yFrom, yTo, "day")
      case "year_in_music.listen_count" =>
        graft.yim.Yim.listenCount(yearListens)
      case "year_in_music.new_artists_discovered_count" =>
        graft.yim.Yim.newArtistsDiscovered(allListens, yFrom, yTo)
      case "year_in_music.listening_time" =>
        val p = CacheJoinedStats.ListeningTime(caches.recordingLengths)
        p.stats(p.combine(p.aggregate(yearListens)))
      case "year_in_music.top_genres" =>
        graft.yim.Yim.topGenres(
          yearListens.select(col("user_id"), col("recording_mbid")),
          caches.recordingGenres, caches.releaseGroupGenres,
          caches.artistGenres)
      case "year_in_music.genre_activity" =>
        graft.yim.Yim.genreHourActivity(yearListens, caches.genres)
      case "year_in_music.top_missed_recordings" =>
        val similar = graft.yim.Yim.similarUsers(
            yearListens.filter(col("recording_mbid").isNotNull),
            "user_id", "recording_mbid", k = 3)
          .select(col("user_id"), explode(col("similar_users.other_user_id"))
            .as("other_user_id"))
        graft.yim.Yim.topMissedRecordings(allListens, similar,
          caches.recordingArtists,
          (crc32(col("recording_mbid").cast("string"))) % 1000000007L,
          yFrom)
      case "year_in_music.top_discoveries" =>
        val scored = graft.yim.Yim.tracksOfYear(
          allListens.filter(col("listened_at") < lit(yTo)),
          if (req.year > 0) req.year else anchor().toLocalDateTime.getYear)
        graft.yim.Yim.artistCappedPlaylist(scored, caches.recordingArtists,
          (crc32(col("recording_mbid").cast("string"))) % 1000000007L)

      // ---------------------------------------------------- datasets etc.
      case "releases.fresh" =>
        // the reference job's full parameter surface
        // (fresh_releases.py:118-123): days bounds BOTH the listen window
        // and the dated-release window; threshold floors the confidence
        val a = anchor()
        graft.releases.FreshReleases.nested(
          graft.releases.FreshReleases.forUsers(
            allListens, caches.newReleases, a,
            days = if (req.days > 0) Some(req.days) else None,
            threshold = req.threshold,
            artistCol = "artist_credit_mbids"))
      case "tags.default" =>
        // the reference runs the same dataset per source; union of the
        // per-source runs, tagged (tags/tags.py:44-50)
        Seq(
          ("recording", caches.recordingTags),
          ("artist", caches.artistTags),
          ("release-group", caches.releaseGroupTags))
          .map { case (source, t) =>
            graft.tags.Tags.dataset(t, caches.popularity)
              .withColumn("source", lit(source))
          }
          .reduce(_ unionByName _)
      case "troi.playlists" | "playlists.periodic_jams" =>
        val feedbackSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField(req.entity,
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("score",
            org.apache.spark.sql.types.IntegerType)))
        graft.playlists.Playlists.periodicJams(
          windowed, store.feedback(feedbackSchema), "user_id", req.entity,
          maxPerPlaylist = 50, seed = 42L)
      case "datasets.missing_mb_data" =>
        MissingMbData(windowed)
      case "similarity.sessions" =>
        graft.similarity.SessionSimilarity(
          windowed, "user_id", "listened_at", req.entity,
          gapSeconds = 1800L, perUserCap = 10L, minScore = 2L, topK = 1000)
      case other =>
        throw new IllegalArgumentException(s"unknown query: $other")
    }
  }
}

object Dispatch {

  /** Metadata caches the handlers join against — the parquet snapshots
    * the reference imports from postgres (its postgres package).
    * Cache-dependent handlers require their cache to be supplied; the
    * import.pg_metadata_tables command is how a deployment refreshes them
    * from a JDBC source. */
  final case class Caches(
      genres: DataFrame = null,
      releases: DataFrame = null,
      releaseGroups: DataFrame = null,
      releaseYears: DataFrame = null,
      recordingLengths: DataFrame = null,
      recordingArtists: DataFrame = null,
      artistCountries: DataFrame = null,
      recordingGenres: DataFrame = null,
      releaseGroupGenres: DataFrame = null,
      artistGenres: DataFrame = null,
      recordingTags: DataFrame = null,
      artistTags: DataFrame = null,
      releaseGroupTags: DataFrame = null,
      popularity: DataFrame = null,
      newReleases: DataFrame = null,
      jdbc: Option[(graft.ingest.JdbcCache.JdbcConfig, Map[String, String])] = None)

  /** Every dispatchable name — query_map.py:45-96 parity plus the engine's
    * own extensions (popularity.entity, similarity.sessions/mlhd,
    * datasets.missing_mb_data). */
  val names: Seq[String] = Seq(
    "echo.echo",
    "stats.entity.listeners",
    "stats.user.entity",
    "stats.user.listening_activity",
    "stats.user.genre_activity",
    "stats.user.daily_activity",
    "stats.user.era_activity",
    "stats.user.artist_evolution_activity",
    "stats.sitewide.entity",
    "stats.sitewide.listening_activity",
    "stats.sitewide.era_activity",
    "stats.sitewide.artist_evolution_activity",
    "import.dump.full",
    "import.dump.mlhd",
    "import.dump.incremental",
    "import.dump.sample",
    "cf.missing_mb_data",
    "cf.recommendations.recording.create_dataframes",
    "cf.recommendations.recording.train_model",
    "cf.recommendations.recording.recommendations",
    "cf.recommendations.recording.discovery",
    "similarity.similar_users",
    "similarity.recording",
    "similarity.artist",
    "similarity.mlhd",
    "popularity.popularity",
    "year_in_music.new_releases_of_top_artists",
    "year_in_music.most_listened_year",
    "year_in_music.artist_evolution_activity",
    "year_in_music.day_of_week",
    "year_in_music.similar_users",
    "year_in_music.top_stats",
    "year_in_music.listens_per_day",
    "year_in_music.listen_count",
    "year_in_music.new_artists_discovered_count",
    "year_in_music.listening_time",
    "year_in_music.top_genres",
    "year_in_music.genre_activity",
    "year_in_music.top_missed_recordings",
    "year_in_music.top_discoveries",
    "import.pg_metadata_tables",
    "releases.fresh",
    "troi.playlists",
    "tags.default",
    "import.deleted_listens",
    "import.compact_listens",
    "popularity.entity",
    "similarity.sessions",
    "datasets.missing_mb_data")
}
