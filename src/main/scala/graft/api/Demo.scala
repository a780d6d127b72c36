package graft.api

import java.sql.Timestamp
import graft.engine._

/** End-to-end example of the engine's request path — the reference's
  * RabbitMQ consumer loop distilled to its data flow: listens land in the
  * store, a stat request is dispatched by name, the result streams out as
  * chunked messages. Run: `sbt "runMain graft.api.Demo [workDir]"`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString)
    val spark = graft.GraftSession.fromEnv()
    import spark.implicits._

    def l(u: Int, artist: String, at: String): Listen = Listen(
      Timestamp.valueOf(at), Timestamp.valueOf("2024-02-01 00:00:00"), u,
      "msid-demo", artist, Some(1L), None, None, "rec", Some("rmbid"),
      Some(Seq("mbid-1")))

    // 1. ingest: base dump + an incremental batch
    val store = new ListenStore(spark, s"$work/store")
    store.writeBase(Seq(
      l(1, "Radiohead", "2024-01-10 10:00:00"),
      l(1, "Radiohead", "2024-01-11 10:00:00"),
      l(1, "Bjork", "2024-01-12 10:00:00"),
      l(2, "Bjork", "2024-01-13 10:00:00"),
      l(2, "Garage Band", "2024-01-14 10:00:00")
        .copy(recording_mbid = None, recording_name = "demo tape")
    ).toDS().toDF())
    store.appendIncremental(Seq(
      l(2, "Portishead", "2024-01-20 10:00:00")).toDS().toDF())

    // 2. dispatch a stat request by name (query_map semantics)
    val dispatch = new Dispatch(spark, store,
      new IncrementalStatsEngine(spark, s"$work/stats"))
    val result = dispatch.handle(dispatch.StatRequest(
      "stats.user.entity", entity = "artists", statsRange = "all_time"))

    // 3. stream the result as chunked messages (spark_reader semantics)
    Messages.chunked(result.orderBy("user_id"), "user_artists_v1",
      chunkSize = 1).foreach(m => println(s"MSG: $m"))

    // 4. other request families share the same dispatch surface
    val pop = dispatch.handle(dispatch.StatRequest(
      "popularity.entity", entity = "artist_name"))
    pop.orderBy("artist_name").collect()
      .foreach(r => println(s"POP: $r"))

    // 5. playlist request honoring stored feedback: user 1 hates Bjork
    store.writeFeedback(Seq((1, "Bjork", -1))
      .toDF("user_id", "artist_name", "score"))
    val jam = dispatch.handle(dispatch.StatRequest(
      "playlists.periodic_jams", entity = "artist_name"))
    jam.orderBy("user_id", "position").collect()
      .foreach(r => println(s"JAM: $r"))

    // 6. unmapped-listens dataset (missing MusicBrainz data)
    dispatch.handle(dispatch.StatRequest("datasets.missing_mb_data"))
      .collect().foreach(r => println(s"UNMAPPED: $r"))

    // 7. artist-evolution stat (exploded credits per listen-year)
    dispatch.handle(dispatch.StatRequest("stats.user.artist_evolution"))
      .orderBy("user_id", "year", "artist_mbid").collect()
      .foreach(r => println(s"EVOLVE: $r"))

    // 8. year-in-music family over the same store (year from the data)
    dispatch.handle(dispatch.StatRequest("year_in_music.listen_count"))
      .collect().foreach(r => println(s"YIM-COUNT: $r"))
    dispatch.handle(dispatch.StatRequest("year_in_music.day_of_week"))
      .orderBy("user_id").collect()
      .foreach(r => println(s"YIM-DOW: $r"))

    // 9. incremental dump import + compaction through the dispatch surface
    println("IMPORT: " + dispatch.handle(dispatch.StatRequest(
      "import.dump.incremental", dumpId = 42,
      data = Some(Seq(l(1, "Portishead", "2024-01-21 09:00:00"))
        .toDS().toDF()))).collect().mkString)
    println("COMPACT: " + dispatch.handle(
      dispatch.StatRequest("import.compact_listens")).collect().mkString)
    spark.stop()
  }
}
