package graft.api

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.engine._

class ApiSpec extends SparkSpec {

  private def freshStoreWith(ls: Seq[graft.engine.Listen]): ListenStore = {
    val store = new ListenStore(spark, tmpDir("api-store"))
    store.writeBase(listensDf(ls))
    store
  }

  test("dispatch stats.user.entity end-to-end through engine + store") {
    val store = freshStoreWith(Seq(
      listen(1, "Radiohead", "2024-01-10 10:00:00", Some(Seq("m1"))),
      listen(1, "Radiohead", "2024-01-11 10:00:00", Some(Seq("m1"))),
      listen(1, "Bjork", "2024-01-12 10:00:00", Some(Seq("m2"))),
      listen(2, "Bjork", "2024-01-13 10:00:00", Some(Seq("m2")))))
    val dispatch = new Dispatch(spark, store,
      new IncrementalStatsEngine(spark, tmpDir("api-work")))
    val out = dispatch.handle(dispatch.StatRequest(
      "stats.user.entity", entity = "artists", statsRange = "all_time"))
    val rows = out.orderBy(col("user_id")).collect()
    assert(rows.length == 2)
    val u1Top = rows(0).getSeq[org.apache.spark.sql.Row](1)
    assert(u1Top.head.getAs[String]("artist_name") == "Radiohead")
    assert(u1Top.head.getAs[Long]("listen_count") == 2)
  }

  test("dispatch popularity and similarity families over the store") {
    val store = freshStoreWith(Seq(
      listen(1, "A", "2024-01-10 10:00:00"),
      listen(1, "B", "2024-01-10 10:05:00"), // same session as A
      listen(2, "A", "2024-01-11 10:00:00"),
      listen(2, "B", "2024-01-11 10:10:00")))
    val dispatch = new Dispatch(spark, store,
      new IncrementalStatsEngine(spark, tmpDir("api-work3")))
    val pop = dispatch.handle(dispatch.StatRequest(
      "popularity.entity", entity = "artist_name"))
    assert(pop.collect().map(r =>
      r.getString(0) -> r.getLong(1)).toMap == Map("A" -> 2L, "B" -> 2L))

    // approx=true routes to the HLL sketch path: same entities, sketch
    // column instead of the exact distinct (exact at this cardinality)
    val popApprox = dispatch.handle(dispatch.StatRequest(
      "popularity.entity", entity = "artist_name", approx = true))
    assert(popApprox.columns.contains("approx_user_count"))
    assert(popApprox.collect().map(r =>
      r.getString(0) -> r.getAs[Long]("approx_user_count")).toMap ==
      Map("A" -> 2L, "B" -> 2L))
    val sim = dispatch.handle(dispatch.StatRequest(
      "similarity.sessions", entity = "artist_name"))
    val top = sim.collect().head
    assert((top.getString(0), top.getString(1), top.getLong(2)) == ("A", "B", 2L))
    val jam = dispatch.handle(dispatch.StatRequest(
      "playlists.periodic_jams", entity = "artist_name"))
    assert(jam.count() == 4, "2 users x 2 entities, nothing hated")

    // write feedback to the store: user 1 hates B -> excluded from jam
    import spark.implicits._
    store.writeFeedback(Seq((1, "B", -1)).toDF("user_id", "artist_name", "score"))
    val jam2 = dispatch.handle(dispatch.StatRequest(
      "playlists.periodic_jams", entity = "artist_name"))
    val u1 = jam2.filter(org.apache.spark.sql.functions.col("user_id") === 1)
      .select("artist_name").collect().map(_.getString(0)).toSet
    assert(u1 == Set("A"), "hated entity excluded via store feedback")
  }

  test("anchor resolves from stored high-water metadata, not a store scan") {
    import spark.implicits._
    val root = tmpDir("api-anchor")
    val store = new ListenStore(spark, root)
    store.writeBase(listensDf(Seq(
      listen(1, "A", "2024-06-01 10:00:00"),
      listen(1, "B", "2024-06-02 10:00:00"))))
    val dispatch = new Dispatch(spark, store,
      new IncrementalStatsEngine(spark, tmpDir("api-anchor-work")))

    // with honest metadata (written by writeBase), year 0 resolves to the
    // data's year and the YIM window covers the listens
    val real = dispatch.handle(dispatch.StatRequest(
      "year_in_music.listen_count", year = 0))
    assert(real.collect()(0).getMap[Int, Long](0) == Map(1 -> 2L))

    // PLANT a metadata file pointing at 2030: if dispatch scanned the
    // store it would still see 2024; following the plant proves the
    // anchor comes from the metadata singleton (listens/metadata.py:18-55)
    Seq((ts("2030-06-01 00:00:00"), ts("2030-06-01 00:00:00"),
        ts("2030-06-01 00:00:00")))
      .toDF("max_listened_at", "max_created", "updated_at")
      .repartition(1).write.mode("overwrite").json(s"$root/metadata")
    assert(store.highWater.map(_._1) == Some(ts("2030-06-01 00:00:00")))
    val planted = dispatch.handle(dispatch.StatRequest(
      "year_in_music.listen_count", year = 0))
    assert(planted.collect()(0).getMap[Int, Long](0).isEmpty,
      "window resolved against planted 2030 metadata → no 2024 listens")

    // metadata stays correct across a subsequent full + incremental import
    val dumps = new graft.ingest.DumpImport(
      spark, store, s"$root/dumps", tmpDir("api-anchor-stats"))
    dumps.importFull(listensDf(Seq(
      listen(1, "A", "2024-06-01 10:00:00"))), dumpId = 9)
    assert(store.highWater.map(_._1) == Some(ts("2024-06-01 10:00:00")),
      "full import resets the planted mark")
    dumps.importIncremental(listensDf(Seq(
      listen(2, "B", "2025-01-15 10:00:00"))), dumpId = 10)
    assert(store.highWater.map(_._1) == Some(ts("2025-01-15 10:00:00")))
    val afterInc = dispatch.handle(dispatch.StatRequest(
      "year_in_music.listen_count", year = 0))
    assert(afterInc.collect()(0).getMap[Int, Long](0) == Map(2 -> 1L),
      "anchor advanced to 2025 by the incremental append")
  }

  test("legacy-store anchor fallback persists the metadata it computed") {
    val root = tmpDir("api-anchor-legacy")
    val store = new ListenStore(spark, root)
    store.writeBase(listensDf(Seq(
      listen(1, "A", "2024-06-01 10:00:00"),
      listen(1, "B", "2024-06-02 10:00:00"))))
    // simulate a store predating the metadata file
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/metadata"), true)
    assert(store.highWater.isEmpty, "legacy store has no metadata")

    val dispatch = new Dispatch(spark, store,
      new IncrementalStatsEngine(spark, tmpDir("api-anchor-legacy-work")))
    val first = dispatch.handle(dispatch.StatRequest(
      "year_in_music.listen_count", year = 0))
    assert(first.collect()(0).getMap[Int, Long](0) == Map(1 -> 2L))

    // the fallback scan self-healed: metadata now exists and carries the
    // scanned high-water, so the second request reads it (no scan)
    assert(store.highWater.map(_._1) == Some(ts("2024-06-02 10:00:00")),
      "fallback persisted max_listened_at")
    val second = dispatch.handle(dispatch.StatRequest(
      "year_in_music.listen_count", year = 0))
    assert(second.collect()(0).getMap[Int, Long](0) == Map(1 -> 2L))
  }

  test("dispatch rejects unknown query names") {
    val store = freshStoreWith(Seq(listen(1, "A", "2024-01-10 10:00:00")))
    val dispatch = new Dispatch(spark, store,
      new IncrementalStatsEngine(spark, tmpDir("api-work2")))
    intercept[IllegalArgumentException](
      dispatch.handle(dispatch.StatRequest("stats.nope")))
  }

  test("chunked message emission brackets data and respects chunk size") {
    import spark.implicits._
    val df = (1 to 7).map(i => (i, s"row$i")).toDF("id", "v").orderBy("id")
    val msgs = Messages.chunked(df, "stats_db", chunkSize = 3).toSeq
    assert(msgs.head == Messages.DataStart("stats_db"))
    assert(msgs.last == Messages.DataEnd("stats_db"))
    val chunks = msgs.collect { case c: Messages.DataChunk => c.rows.size }
    assert(chunks == Seq(3, 3, 1))
  }

  test("stats envelope: full run brackets with default database, " +
      "incremental sends prefix unbracketed") {
    import spark.implicits._
    val df = (1 to 30).map(i => (i, s"u$i")).toDF("id", "v").orderBy("id")

    // full run: couchdb bracket around enveloped 25-row chunks
    val full = Messages.statsChunked(df, msgType = "user_entity",
      statsRange = "week", fromTs = 100L, toTs = 200L,
      entity = "artists").toSeq
    assert(full.head == Messages.DataStart("artists_week"))
    assert(full.last == Messages.DataEnd("artists_week"))
    val chunks = full.collect { case c: Messages.StatsChunk => c }
    assert(chunks.map(_.rows.size) == Seq(25, 5))
    assert(chunks.forall(c => c.msgType == "user_entity" &&
      c.statsRange == "week" && c.fromTs == 100L && c.toTs == 200L &&
      c.entity == "artists" && c.database == Some("artists_week") &&
      c.databasePrefix.isEmpty))

    // only-incremental run: prefix instead of database, NO bracket — the
    // webserver appends to the latest matching database (entity.py:100-105)
    val inc = Messages.statsChunked(df, msgType = "user_entity",
      statsRange = "week", fromTs = 100L, toTs = 200L,
      entity = "artists", onlyInc = true).toSeq
    assert(!inc.exists(_.isInstanceOf[Messages.DataStart]) &&
      !inc.exists(_.isInstanceOf[Messages.DataEnd]))
    val incChunks = inc.collect { case c: Messages.StatsChunk => c }
    assert(incChunks.forall(c => c.database.isEmpty &&
      c.databasePrefix == Some("artists_week")))

    // explicit database wins over both defaults
    val explicit = Messages.statsChunked(df, msgType = "user_entity",
      statsRange = "week", fromTs = 100L, toTs = 200L,
      entity = "artists", database = Some("db_7")).toSeq
    assert(explicit.head == Messages.DataStart("db_7"))
    assert(explicit.collect { case c: Messages.StatsChunk => c }
      .forall(_.database == Some("db_7")))
  }

  test("dispatched stat runs zero-Exchange off a fresh bucketed projection " +
      "and falls back once imports stale it") {
    val root = tmpDir("api-bucketed")
    val store = new ListenStore(spark, root)
    val ls = (1 to 60).map(i => listen(i % 7, s"Artist${i % 5}",
      f"2024-01-${i % 28 + 1}%02d 10:00:00", Some(Seq(s"m${i % 5}"))))
    store.writeBase(listensDf(ls))
    val dispatch = new Dispatch(spark, store,
      new IncrementalStatsEngine(spark, tmpDir("api-bucketed-work")))
    def request() = dispatch.handle(dispatch.StatRequest(
      "stats.user.entity", entity = "artist_name", statsRange = "all_time"))

    // engine (partitioned) path first, for the expected answer
    assert(store.userBucketed.isEmpty, "no projection materialized yet")
    val viaEngine = request().collect().map(_.toString).sorted.toSeq

    // materialize → dispatch reads the projection, END-TO-END zero shuffle:
    // aggregate, combine, window rank and nesting are all user_id-keyed,
    // satisfied straight off the bucketed scan
    store.materializeUserBucketed("api_bkt_listens",
      tmpDir("api-bucketed-proj"), buckets = 4)
    assert(store.userBucketed.isDefined, "fresh projection is served")
    val viaBucketed = request()
    assert(graft.core.Bucketing.shuffleExchangeCount(viaBucketed) == 0,
      s"dispatched stat must not shuffle off the bucketed projection:\n" +
        viaBucketed.queryExecution.executedPlan)
    assert(viaBucketed.collect().map(_.toString).sorted.toSeq == viaEngine,
      "bucketed read path is an accelerator, not a different answer")

    // an incremental import advances the high-water past the projection →
    // stale → dispatch falls back to the partitioned path and sees the row
    store.appendIncremental(listensDf(Seq(
      listen(1, "Fresh", "2024-02-05 10:00:00", Some(Seq("m9"))))))
    assert(store.userBucketed.isEmpty, "imports stale the projection")
    val afterImport = request()
    assert(afterImport.collect().exists(_.toString.contains("Fresh")),
      "fallback path serves the freshly imported listen")

    // re-materializing re-freshens it — same economics as engine partials
    store.materializeUserBucketed("api_bkt_listens",
      tmpDir("api-bucketed-proj2"), buckets = 4)
    assert(store.userBucketed.isDefined)
    val reFresh = request()
    assert(graft.core.Bucketing.shuffleExchangeCount(reFresh) == 0)
    assert(reFresh.collect().exists(_.toString.contains("Fresh")))
    spark.sql("DROP TABLE IF EXISTS api_bkt_listens")
  }

  test("a deletion stales the bucketed projection even when the deletion " +
      "tree's directory reports modification time 0") {
    val root = tmpDir("api-bkt-mtime")
    val store = new ListenStore(spark, root)
    val ls = (1 to 60).map(i => listen(i % 7, s"Artist${i % 5}",
      f"2024-01-${i % 28 + 1}%02d 10:00:00", Some(Seq(s"m${i % 5}")),
      msid = s"msid-$i"))
    store.writeBase(listensDf(ls))
    def request(over: ListenStore) = {
      val d = new Dispatch(spark, over,
        new IncrementalStatsEngine(spark, tmpDir("api-bkt-mtime-work")))
      d.handle(d.StatRequest("stats.user.entity", entity = "artist_name",
        statsRange = "all_time")).collect().map(_.toString).sorted.toSeq
    }
    store.materializeUserBucketed("api_bkt_mtime",
      tmpDir("api-bkt-mtime-proj"), buckets = 4)
    assert(store.userBucketed.isDefined)
    val before = request(store)

    // an object store reports a directory's modification time as 0
    val gone = ls.head
    store.appendDeleted(listensDf(Seq(gone))
      .select(Listen.deletionKey.map(col): _*))
    val dir = new org.apache.hadoop.fs.Path(s"$root/deleted-listens")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.setTimes(dir, 0L, -1L)
    assert(fs.getFileStatus(dir).getModificationTime == 0L)
    assert(store.userBucketed.isEmpty, "a deletion stales the projection")

    // the answer is the engine path's over the surviving listens
    val survivors = new ListenStore(spark, tmpDir("api-bkt-mtime-want"))
    survivors.writeBase(listensDf(ls.tail))
    val want = request(survivors)
    assert(want != before, "the deleted listen moves the answer")
    assert(request(store) == want)
    spark.sql("DROP TABLE IF EXISTS api_bkt_mtime")
  }

  test("ChunkedRunner equals unchunked run for associative providers") {
    val ls = (1 to 50).map(i => listen(i % 7, s"Artist${i % 5}",
      f"2024-01-${i % 28 + 1}%02d 10:00:00"))
    val provider = TopEntityStats("user_id", Seq("artist_name"), top = 3)
    val chunked = ChunkedRunner.run(spark, listensDf(ls), provider,
      chunkPredicates = Seq(
        col("user_id") < 3, col("user_id") >= 3 && col("user_id") < 5,
        col("user_id") >= 5),
      workDir = tmpDir("chunked"))
    val direct = provider.stats(provider.aggregate(listensDf(ls)))
    assert(chunked.collect().map(_.toString).sorted.toSeq ==
      direct.collect().map(_.toString).sorted.toSeq)
  }
}
