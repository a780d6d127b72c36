package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.api.Dispatch
import graft.engine.{IncrementalStatsEngine, Listen, ListenStore}

/** Dispatch-surface benchmark: times every reference dispatch name
  * (query_map.py parity, [[Dispatch.names]]) END-TO-END — request in,
  * result frame fully materialized — over a fixture store built from
  * the scale dir's events table. Bench times the 198 library queries;
  * this times the 44-name user-visible surface the reference serves, so
  * a regression in the engine path (store window resolution, cached
  * partials, dispatch plumbing) is visible even when the per-query
  * numbers hold still.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.BenchDispatch
  * Prints ONE JSON line like Bench. Mutating imports run against the
  * bench's own throwaway store copy, in registry order (cf.* names
  * depend on earlier ones' persisted state, as in production).
  */
object BenchDispatch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.fromEnv()
    val work = java.nio.file.Files
      .createTempDirectory("graft-bench-dispatch").toString

    // events → listens (the q121 mapping) with synthesized mbid columns
    // so every cache join has matching keys
    val ev = graft.core.Tables.events(spark, sfDir)
    val listens = ev.select(
      col("ts").as("listened_at"), col("ts").as("created"),
      col("user_id").cast("int").as("user_id"),
      concat(lit("m"), col("event_id")).as("recording_msid"),
      col("event_type").as("artist_name"),
      pmod(col("event_id"), lit(97)).as("artist_credit_id"),
      concat(lit("Release "), pmod(col("event_id"), lit(199)))
        .as("release_name"),
      concat(lit("rel"), pmod(col("event_id"), lit(199))).as("release_mbid"),
      concat(lit("Track "), pmod(col("event_id"), lit(997)))
        .as("recording_name"),
      concat(lit("r"), pmod(col("event_id"), lit(997))).as("recording_mbid"),
      array(concat(lit("am"), pmod(col("event_id"), lit(97))))
        .as("artist_credit_mbids"))

    // base/incremental split 3 days before the high-water mark (the
    // events table spans ~30 days) so the incremental engine paths
    // exercise a real merge
    val mx = listens.agg(max(col("listened_at"))).collect()(0).getTimestamp(0)
    val pivot = Timestamp.from(mx.toInstant.minusSeconds(3L * 86400))
    val store = new ListenStore(spark, s"$work/store")
    store.writeBase(listens.filter(col("listened_at") <= lit(pivot)))
    store.appendIncremental(listens.filter(col("listened_at") > lit(pivot)))

    def mk(prefix: String, n: Int): DataFrame =
      spark.range(n).select(concat(lit(prefix), col("id")).as("k"))
    val genreNames = Seq("rock", "jazz", "pop", "folk", "metal")
    val recs = mk("r", 997)
    val caches = Dispatch.Caches(
      genres = recs.select(col("k").as("recording_mbid"),
        element_at(array(genreNames.map(lit): _*),
          (pmod(xxhash64(col("k")), lit(5)) + 1).cast("int")).as("genre")),
      releases = mk("rel", 199).select(col("k").as("release_mbid"),
        concat(lit("rg"), pmod(xxhash64(col("k")), lit(97)))
          .as("release_group_mbid")),
      releaseGroups = mk("rg", 97).select(col("k").as("release_group_mbid"),
        (lit(1980) + pmod(xxhash64(col("k")), lit(45)).cast("int"))
          .as("first_release_date_year")),
      releaseYears = mk("rel", 199).select(col("k").as("release_mbid"),
        (lit(1980) + pmod(xxhash64(col("k")), lit(45)).cast("int"))
          .as("first_release_date_year")),
      recordingLengths = recs.select(col("k").as("recording_mbid"),
        (lit(120000L) + pmod(xxhash64(col("k")), lit(180000L)))
          .as("length")),
      recordingArtists = recs.select(col("k").as("recording_mbid"),
        array(concat(lit("am"), pmod(xxhash64(col("k")), lit(97))))
          .as("artist_mbids")),
      artistCountries = mk("am", 97).select(col("k").as("artist_mbid"),
        element_at(array(lit("IS"), lit("GB"), lit("DE"), lit("BR")),
          (pmod(xxhash64(col("k")), lit(4)) + 1).cast("int"))
          .as("country_code")),
      recordingGenres = recs.select(col("k").as("recording_mbid"),
        element_at(array(genreNames.map(lit): _*),
          (pmod(xxhash64(col("k")), lit(5)) + 1).cast("int")).as("genre"),
        (pmod(xxhash64(col("k"), lit(1)), lit(9)) + 1).as("genre_count")),
      releaseGroupGenres = recs.select(col("k").as("recording_mbid"),
        element_at(array(genreNames.map(lit): _*),
          (pmod(xxhash64(col("k"), lit(2)), lit(5)) + 1).cast("int"))
          .as("genre"),
        (pmod(xxhash64(col("k"), lit(3)), lit(9)) + 1).as("genre_count")),
      artistGenres = recs.select(col("k").as("recording_mbid"),
        element_at(array(genreNames.map(lit): _*),
          (pmod(xxhash64(col("k"), lit(4)), lit(5)) + 1).cast("int"))
          .as("genre"),
        (pmod(xxhash64(col("k"), lit(5)), lit(9)) + 1).as("genre_count")),
      recordingTags = recs.select(col("k").as("recording_mbid"),
        concat(lit("tag"), pmod(xxhash64(col("k")), lit(50))).as("tag"),
        (pmod(xxhash64(col("k"), lit(6)), lit(9)) + 1).as("tag_count")),
      artistTags = recs.select(col("k").as("recording_mbid"),
        concat(lit("tag"), pmod(xxhash64(col("k"), lit(7)), lit(50)))
          .as("tag"),
        (pmod(xxhash64(col("k"), lit(8)), lit(9)) + 1).as("tag_count")),
      releaseGroupTags = recs.select(col("k").as("recording_mbid"),
        concat(lit("tag"), pmod(xxhash64(col("k"), lit(9)), lit(50)))
          .as("tag"),
        (pmod(xxhash64(col("k"), lit(10)), lit(9)) + 1).as("tag_count")),
      popularity = recs.select(col("k").as("recording_mbid"),
        pmod(xxhash64(col("k"), lit(11)), lit(100000L))
          .as("total_listen_count")),
      newReleases = mk("relN", 500).select(col("k").as("release_mbid"),
        concat(lit("Fresh "), col("k")).as("release_name"),
        array(concat(lit("am"), pmod(xxhash64(col("k")), lit(97))))
          .as("artist_credit_mbids")))

    val engine = new IncrementalStatsEngine(spark, s"$work/stats")
    val dispatch = new Dispatch(spark, store, engine, caches,
      workDir = s"$work/wd")

    val columnEntity = Set("stats.user.entity", "stats.sitewide.entity",
      "stats.entity.listeners", "popularity.popularity", "popularity.entity",
      "similarity.sessions", "troi.playlists")
    val incSlice = listens.filter(col("listened_at") > lit(pivot))
      .limit(1000).transform(graft.core.StateTable.pin)
    val delSlice = store.baseListens.limit(10)
      .select(Listen.deletionKey.map(col): _*).transform(graft.core.StateTable.pin)
    // sample imports REPLACE the base store (full-import orchestration,
    // ledgered as sample) — a tiny sample here would starve every later
    // cf.*/stats name of data, so the sample payload is the full dump too
    val payloadFor: Map[String, DataFrame] = Map(
      "import.dump.full" -> listens,
      "import.dump.incremental" -> incSlice,
      "import.dump.sample" -> listens,
      "import.dump.mlhd" -> listens,
      "import.deleted_listens" -> delSlice)

    def runOne(name: String): Double = {
      val req = dispatch.StatRequest(name,
        entity = if (columnEntity.contains(name)) "artist_name"
          else "artists",
        data = payloadFor.get(name), dumpId = 3, days = 90,
        threshold = 1L)
      val t0 = System.nanoTime()
      try dispatch.handle(req).write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          System.err.println(s"[bench-dispatch] $name FAILED: " +
            e.toString.linesIterator.next().take(200))
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    runOne("echo.echo") // warmup: JVM + codegen + footer caches
    // registry order, NOT sorted: cf.* and import ordering is semantic
    val results = Dispatch.names.map(n => n -> runOne(n))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.count(_._2 < 0)
    println(s"""{"metric":"dispatch_total","value":$total,"unit":"sec","failed":$failed,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
