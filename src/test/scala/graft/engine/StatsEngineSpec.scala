package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The incremental engine's core invariant:
  * combine(aggregate(A) ∪ aggregate(B)) == aggregate(A ∪ B) — plus the
  * only-incremental filter and the faithful user-artist semantics
  * (explode_outer null retention, case-insensitive grouping).
  */
class StatsEngineSpec extends SparkSpec {

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("merge invariant: partial+combine equals direct aggregate") {
    // seeded property test: random batches must satisfy
    // combine(agg(A) ∪ agg(B)) == agg(A ∪ B) for any split
    val rnd = new scala.util.Random(42)
    val artists = Seq("Artist A", "artist a", "B", "C", "D")
    def batch(n: Int) = Seq.fill(n)(listen(
      rnd.nextInt(5) + 1,
      artists(rnd.nextInt(artists.size)),
      f"2024-01-${rnd.nextInt(28) + 1}%02d 12:00:00"))

    val provider = TopEntityStats("user_id", Seq("artist_name"), top = 3)
    (1 to 5).foreach { trial =>
      val dfA = listensDf(batch(60))
      val dfB = listensDf(batch(60))
      val incremental = IncrementalStatsEngine.merge(
        provider, provider.aggregate(dfA), dfB, onlyInc = false)
      val direct = provider.stats(provider.aggregate(dfA.unionByName(dfB)))
      assert(sortedRows(incremental) == sortedRows(direct),
        s"merge invariant violated on trial $trial")
    }
  }

  test("only_inc restricts output to touched users, values unchanged") {
    val base = listensDf(Seq(
      listen(1, "A", "2024-01-01 10:00:00"),
      listen(1, "B", "2024-01-01 11:00:00"),
      listen(2, "A", "2024-01-02 10:00:00")))
    val inc = listensDf(Seq(listen(1, "A", "2024-01-20 10:00:00")))
    val provider = TopEntityStats("user_id", Seq("artist_name"), top = 10)

    val out = IncrementalStatsEngine.merge(
      provider, provider.aggregate(base), inc, onlyInc = true)
    val rows = out.collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1), "only user 1 touched")
    val full = IncrementalStatsEngine.merge(
      provider, provider.aggregate(base), inc, onlyInc = false)
    assert(rows.head.toString ==
      full.filter(col("user_id") === 1).collect().head.toString,
      "touched user's stat identical to full recompute")
  }

  test("UserArtistStats keeps unmapped listens and groups case-insensitively") {
    val ls = listensDf(Seq(
      listen(1, "Radiohead", "2024-01-01 10:00:00", Some(Seq("m1"))),
      listen(1, "radiohead", "2024-01-01 11:00:00", Some(Seq("m1"))),
      listen(1, "Unmapped Artist", "2024-01-01 12:00:00", None)))
    val provider = UserArtistStats(top = 10)
    val partial = provider.aggregate(ls).collect()
    // case-insensitive group merged the two Radiohead listens
    val rh = partial.find(_.getAs[String]("artist_name_key") == "radiohead").get
    assert(rh.getAs[Long]("listen_count") == 2)
    // representative name is deterministic (min = "Radiohead" < "radiohead")
    assert(rh.getAs[String]("artist_name") == "Radiohead")
    // explode_outer kept the unmapped listen with null mbid
    val un = partial.find(_.getAs[String]("artist_name_key") == "unmapped artist").get
    assert(un.getAs[String]("artist_mbid") == null)

    val stats = provider.stats(provider.combine(
      spark.createDataFrame(spark.sparkContext.parallelize(partial.toSeq),
        provider.aggregate(ls).schema)))
    val top = stats.collect().head.getSeq[Row](1)
    assert(top.head.getLong(0) == 2, "top artist is the merged 2-count entry")
  }

  test("ArtistEvolutionStats explodes credits per year, keeps unmapped") {
    val ls = listensDf(Seq(
      listen(1, "Duo", "2023-06-01 10:00:00", Some(Seq("m1", "m2"))),
      listen(1, "Duo", "2024-01-01 10:00:00", Some(Seq("m1", "m2"))),
      listen(1, "Unmapped", "2024-02-01 10:00:00", None)))
    val p = ArtistEvolutionStats()
    val rows = p.combine(p.aggregate(ls)).collect()
    // 2 credits × 2 years + 1 unmapped row
    assert(rows.length == 5)
    val y2024m1 = rows.find(r => r.getInt(1) == 2024 &&
      r.getAs[String]("artist_mbid") == "m1").get
    assert(y2024m1.getAs[Long]("listen_count") == 1)
    assert(rows.exists(r => r.getAs[String]("artist_mbid") == null),
      "unmapped credit retained as null artist_mbid")
  }

  test("disk-backed run caches partial and reuses it") {
    val work = tmpDir("engine-work")
    val storeDir = tmpDir("listen-store")
    val store = new ListenStore(spark, storeDir)
    store.writeBase(listensDf(Seq(
      listen(1, "A", "2024-01-05 10:00:00"),
      listen(2, "B", "2024-02-10 10:00:00"))))
    store.appendIncremental(listensDf(Seq(
      listen(1, "B", "2024-02-15 10:00:00"))))

    val engine = new IncrementalStatsEngine(spark, work)
    val provider = TopEntityStats("user_id", Seq("artist_name"), top = 5)
    val out = engine.run("top_artists", provider, store,
      ts("2024-01-01 00:00:00"), ts("2024-03-01 00:00:00"))
    val byUser = out.collect().map(r => r.getInt(0) -> r).toMap
    assert(byUser(1).getAs[Long]("total_count") == 2)
    assert(byUser(2).getAs[Long]("total_count") == 1)
    // second run must reuse the cached partial (bookkeeping fresh)
    val again = engine.run("top_artists", provider, store,
      ts("2024-01-01 00:00:00"), ts("2024-03-01 00:00:00"))
    assert(sortedRows(again) == sortedRows(out))
  }

  test("a cached partial is recomputed after deletions are imported") {
    val store = new ListenStore(spark, tmpDir("listen-store"))
    store.writeBase(listensDf(Seq(
      listen(1, "A", "2024-01-05 10:00:00", msid = "m1"),
      listen(1, "A", "2024-01-06 10:00:00", msid = "m2"),
      listen(2, "B", "2024-02-10 10:00:00", msid = "m3",
        created = "2024-02-10 10:00:00"))))
    val provider = TopEntityStats("user_id", Seq("artist_name"), top = 5)
    val (from, to) = (ts("2024-01-01 00:00:00"), ts("2024-03-01 00:00:00"))
    val engine = new IncrementalStatsEngine(spark, tmpDir("engine-work"))
    def answers(e: IncrementalStatsEngine) =
      sortedRows(e.run("top_artists", provider, store, from, to))
    def fresh() =
      answers(new IncrementalStatsEngine(spark, tmpDir("engine-fresh")))
    def total(user: Int): Long =
      engine.run("top_artists", provider, store, from, to)
        .filter(col("user_id") === user).head().getAs[Long]("total_count")
    assert(total(1) == 2) // caches the partial

    // a deletion inside the cached window
    store.appendDeleted(listensDf(Seq(
      listen(1, "A", "2024-01-06 10:00:00", msid = "m2")))
      .select(Listen.deletionKey.map(col): _*))
    assert(answers(engine) == fresh())
    assert(total(1) == 1)

    // a whole-user history truncation, written by overwrite
    import spark.implicits._
    store.writeDeletedUserHistory(Seq((2, ts("2024-03-01 00:00:00")))
      .toDF("user_id", "max_created"))
    assert(answers(engine) == fresh())
    assert(engine.run("top_artists", provider, store, from, to)
      .filter(col("user_id") === 2).isEmpty)
  }
}
