package graft.engine

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** ListenStore: partitioned persistence, range reads with partition
  * pruning, read-time deletion retraction, compaction. */
class ListenStoreSpec extends SparkSpec {

  test("base round-trip with year/month partitioning and range read") {
    val store = new ListenStore(spark, tmpDir("store-rt"))
    store.writeBase(listensDf(Seq(
      listen(1, "A", "2023-12-31 23:00:00"),
      listen(1, "B", "2024-01-15 10:00:00"),
      listen(2, "C", "2024-02-01 00:00:00"))))
    // partition dirs exist
    val all = store.baseListens
    assert(all.count() == 3)
    // [2024-01-01, 2024-02-01) picks exactly the January listen
    val jan = store.listens(ts("2024-01-01 00:00:00"), ts("2024-02-01 00:00:00"))
    assert(jan.select("artist_name").collect().map(_.getString(0)).toSeq == Seq("B"))
  }

  test("deleted listens retracted by 4-column key; user history truncated") {
    val store = new ListenStore(spark, tmpDir("store-del"))
    store.writeBase(listensDf(Seq(
      listen(1, "A", "2024-01-01 10:00:00", msid = "m1"),
      listen(1, "B", "2024-01-02 10:00:00", msid = "m2"),
      listen(2, "C", "2024-01-03 10:00:00", msid = "m3",
        created = "2024-01-03 10:00:00"),
      listen(2, "D", "2024-01-04 10:00:00", msid = "m4",
        created = "2024-02-20 10:00:00"))))
    // retract user 1's m1 listen by exact key
    import spark.implicits._
    store.appendDeleted(Seq(
      (1, ts("2024-01-01 10:00:00"), "m1", ts("2024-02-01 00:00:00")))
      .toDF("user_id", "listened_at", "recording_msid", "created"))
    // truncate user 2's history up to created <= 2024-02-01
    store.writeDeletedUserHistory(Seq((2, ts("2024-02-01 00:00:00")))
      .toDF("user_id", "max_created"))

    val out = store.listens(ts("2024-01-01 00:00:00"), ts("2024-03-01 00:00:00"))
      .select("artist_name").collect().map(_.getString(0)).toSet
    // A deleted by key; C dropped by history watermark (created before it);
    // B survives (no deletion), D survives (created after watermark)
    assert(out == Set("B", "D"))
  }

  test("compact folds incremental + deletions into a fresh base") {
    val store = new ListenStore(spark, tmpDir("store-compact"))
    store.writeBase(listensDf(Seq(
      listen(1, "A", "2024-01-01 10:00:00", msid = "m1"))))
    store.appendIncremental(listensDf(Seq(
      listen(1, "B", "2024-01-05 10:00:00", msid = "m2"))))
    store.appendDeleted(listensDf(Seq(
      listen(1, "A", "2024-01-01 10:00:00", msid = "m1")))
      .select("user_id", "listened_at", "recording_msid", "created"))
    store.compact()
    val base = store.baseListens.select("artist_name")
      .collect().map(_.getString(0)).toSeq
    assert(base == Seq("B"), "deleted row physically gone, incremental folded")
    assert(store.incrementalListens.count() == 0)
    // deletion side-tables cleared: retraction is now a no-op
    assert(store.listens(ts("2024-01-01 00:00:00"),
      ts("2024-02-01 00:00:00")).count() == 1)
  }

  test("high-water metadata maintained across base/incremental/compact") {
    val store = new ListenStore(spark, tmpDir("store-hw"))
    assert(store.highWater.isEmpty, "fresh store has no metadata")

    store.writeBase(listensDf(Seq(
      listen(1, "A", "2024-01-10 10:00:00", created = "2024-01-11 00:00:00"),
      listen(2, "B", "2024-03-05 10:00:00", created = "2024-03-06 00:00:00"))))
    assert(store.highWater == Some(
      (ts("2024-03-05 10:00:00"), ts("2024-03-06 00:00:00"))),
      "full rewrite resets the high-water to the new base's maxima")

    store.appendIncremental(listensDf(Seq(
      listen(1, "C", "2024-04-01 10:00:00", created = "2024-04-02 00:00:00"))))
    assert(store.highWater == Some(
      (ts("2024-04-01 10:00:00"), ts("2024-04-02 00:00:00"))),
      "incremental append advances from the chunk alone")

    // an OLDER incremental chunk must not regress the marks
    store.appendIncremental(listensDf(Seq(
      listen(3, "D", "2024-02-01 10:00:00", created = "2024-02-02 00:00:00"))))
    assert(store.highWater == Some(
      (ts("2024-04-01 10:00:00"), ts("2024-04-02 00:00:00"))),
      "high-water is advance-only")

    store.compact()
    assert(store.highWater == Some(
      (ts("2024-04-01 10:00:00"), ts("2024-04-02 00:00:00"))),
      "compaction preserves the marks (recomputed from the folded base)")
  }

  test("user-bucketed projection: retracted union, shuffle-free per-user agg") {
    import org.apache.spark.sql.functions._
    val store = new graft.engine.ListenStore(spark, tmpDir("bkt-store"))
    store.writeBase(listensDf(Seq(
      listen(1, "A", "2024-01-01 10:00:00"),
      listen(1, "B", "2024-02-01 10:00:00"),
      listen(2, "C", "2024-01-15 10:00:00"))))
    store.appendIncremental(listensDf(Seq(
      listen(2, "D", "2024-03-01 10:00:00", msid = "msid-inc"))))
    // a deletion must be retracted from the projection too
    store.appendDeleted(listensDf(Seq(
      listen(1, "B", "2024-02-01 10:00:00"))))

    val proj = store.materializeUserBucketed(
      "bkt_store_listens", tmpDir("bkt-proj"), buckets = 4)
    val perUser = proj.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    assert(graft.core.Bucketing.isExchangeFree(perUser),
      s"user-keyed agg over the projection must not shuffle:\n${
        perUser.queryExecution.executedPlan}")
    assert(perUser.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
      Map(1 -> 1L, 2 -> 2L), "projection = retracted base ∪ incremental")
    spark.sql("DROP TABLE IF EXISTS bkt_store_listens")
  }

  test("projection freshness: backfills, deletions, and compaction all " +
      "stale it; re-materializing after compact re-freshens") {
    val store = new graft.engine.ListenStore(spark, tmpDir("bkt-fresh"))
    store.writeBase(listensDf(Seq(
      listen(1, "A", "2024-06-01 10:00:00"),
      listen(2, "B", "2024-06-02 10:00:00"))))
    store.materializeUserBucketed(
      "bkt_fresh_listens", tmpDir("bkt-fresh-proj"), buckets = 2)
    assert(store.userBucketed.isDefined)

    // a BACKFILL import: listened_at AND created both before the stored
    // high-water, so the (maxListened, maxCreated) pair does not move —
    // the incremental part file it lands is what must stale the projection
    store.appendIncremental(listensDf(Seq(
      listen(1, "Old", "2023-01-01 10:00:00",
        created = "2023-01-02 00:00:00"))))
    assert(store.userBucketed.isEmpty,
      "backfill that moves no high-water mark must still stale")

    store.materializeUserBucketed(
      "bkt_fresh_listens", tmpDir("bkt-fresh-proj2"), buckets = 2)
    assert(store.userBucketed.isDefined)

    // deletion → stale (a new deletion file); compaction folds it in and
    // rewrites the base → STILL stale even though the deletion side-tables
    // are now gone
    store.appendDeleted(listensDf(Seq(
      listen(2, "B", "2024-06-02 10:00:00"))))
    assert(store.userBucketed.isEmpty, "deletion stales the projection")
    store.compact()
    assert(store.userBucketed.isEmpty,
      "compaction must not resurrect a projection built before a deletion")

    // after re-materializing, the deleted listen is really gone
    val proj = store.materializeUserBucketed(
      "bkt_fresh_listens", tmpDir("bkt-fresh-proj3"), buckets = 2)
    assert(store.userBucketed.isDefined)
    assert(proj.filter(col("artist_name") === "B").count() == 0 &&
      proj.count() == 2, "re-materialized projection excludes the deletion")
    spark.sql("DROP TABLE IF EXISTS bkt_fresh_listens")
  }

  test("a projection record without a file list reads as stale") {
    val root = tmpDir("bkt-legacy")
    val store = new ListenStore(spark, root)
    store.writeBase(listensDf(Seq(listen(1, "A", "2024-06-01 10:00:00"))))
    val path = tmpDir("bkt-legacy-proj")
    val proj = store.materializeUserBucketed(
      "bkt_legacy_listens", path, buckets = 2)
    assert(store.userBucketed.isDefined)
    import spark.implicits._
    Seq(("bkt_legacy_listens", path, 2, proj.schema.toDDL))
      .toDF("table", "path", "buckets", "schema_ddl")
      .write.mode("overwrite").json(s"$root/bucketed-meta")
    assert(store.userBucketed.isEmpty)
    spark.sql("DROP TABLE IF EXISTS bkt_legacy_listens")
  }
}
