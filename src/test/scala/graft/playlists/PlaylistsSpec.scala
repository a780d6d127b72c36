package graft.playlists

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.Salting

class PlaylistsSpec extends SparkSpec {

  test("periodicJams excludes hated entities, caps size, is seed-stable") {
    import spark.implicits._
    val listens = Seq(
      (1, "A"), (1, "A"), (1, "B"), (1, "C"), (1, "D"), (1, "HATED"),
      (2, "X"), (2, "Y"))
      .toDF("user_id", "entity")
    val feedback = Seq((1, "HATED", -1), (2, "X", 1))
      .toDF("user_id", "entity", "score")

    val jam = Playlists.periodicJams(listens, feedback,
      "user_id", "entity", maxPerPlaylist = 3, seed = 7L)
    val u1 = jam.filter(col("user_id") === 1)
      .select("entity").collect().map(_.getString(0)).toSet
    assert(!u1.contains("HATED"), "hated entity anti-joined out")
    assert(u1.size == 3, "capped at 3")
    // positive feedback does NOT exclude
    val u2 = jam.filter(col("user_id") === 2)
      .select("entity").collect().map(_.getString(0)).toSet
    assert(u2 == Set("X", "Y"))
    // seeded shuffle is reproducible
    val again = Playlists.periodicJams(listens, feedback,
      "user_id", "entity", maxPerPlaylist = 3, seed = 7L)
      .collect().map(_.toString).sorted.toSeq
    assert(again == jam.collect().map(_.toString).sorted.toSeq)
  }

  test("periodicJams gives the same playlist at shuffle width 1 and 7") {
    import spark.implicits._
    // 6 users × 30 entities capped at 5: which five a user gets, and in
    // which order, must not depend on how the rows are partitioned
    val listens = (for (u <- 1 to 6; e <- 1 to 30; _ <- 0 to (u + e) % 3)
      yield (u, s"e$e")).toDF("user_id", "entity")
    val feedback = Seq((1, "e1", -1)).toDF("user_id", "entity", "score")
    def jam(width: Int): Seq[String] =
      graft.core.ScopedConf.withShufflePartitions(spark, width) {
        Playlists.periodicJams(listens, feedback,
            "user_id", "entity", maxPerPlaylist = 5, seed = 7L)
          .select("user_id", "position", "entity")
          .collect().map(_.toString).sorted.toSeq
      }
    val narrow = jam(1)
    assert(narrow.size == 30)
    assert(jam(7) == narrow)
  }

  test("topDiscoveries: first listen inside year + min plays") {
    import spark.implicits._
    val listens = Seq(
      (1, "old", "2022-05-01 10:00:00"), (1, "old", "2023-02-01 10:00:00"),
      (1, "new", "2023-03-01 10:00:00"), (1, "new", "2023-04-01 10:00:00"),
      (1, "once", "2023-06-01 10:00:00"))
      .toDF("user_id", "entity", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val out = Playlists.topDiscoveries(listens, "user_id", "entity", "ts",
      "2023-01-01", "2024-01-01", minPlays = 2, top = 10)
      .select("entity").collect().map(_.getString(0)).toSeq
    // "old" first listened 2022 (excluded); "once" has 1 play (excluded)
    assert(out == Seq("new"))
  }

  test("salted aggregation equals direct aggregation") {
    import spark.implicits._
    // skewed: one key holds 90% of rows
    val rows = Seq.fill(900)(("hot", 1.0)) ++
      (1 to 100).map(i => (s"k${i % 10}", i.toDouble))
    val df = rows.toDF("k", "v")
    val direct = df.groupBy(col("k"))
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sum"))
      .collect().map(_.toString).sorted.toSeq
    val salted = Salting.saltedCountSum(df, Seq("k"), "v", buckets = 8)
      .collect().map(_.toString).sorted.toSeq
    assert(salted == direct)
  }

  test("salted join equals direct join, multiplicities included") {
    import spark.implicits._
    // skewed facts (one hot key) against a dim with DUPLICATE key rows —
    // the join must preserve the 2× multiplicity for k=hot
    val facts = (Seq.fill(500)(("hot", 1)) ++
      (1 to 60).map(i => (s"k${i % 6}", i))).toDF("k", "v")
    val dim = Seq(("hot", "a"), ("hot", "b"), ("k1", "c"), ("k2", "d"),
      ("kX", "unmatched")).toDF("k", "tag")
    val direct = facts.join(dim, Seq("k"))
      .collect().map(_.toString).sorted.toSeq
    val salted = Salting.saltedJoin(facts, dim, Seq("k"), buckets = 7)
      .collect().map(_.toString).sorted.toSeq
    assert(salted == direct)
    assert(salted.count(_.contains("hot")) == 1000, "2 dim rows x 500 facts")
    intercept[IllegalArgumentException](
      Salting.saltedJoin(facts, dim, Seq("k"), buckets = 0))
    intercept[IllegalArgumentException](
      Salting.saltedJoin(facts.withColumn("_salt", lit(1)), dim, Seq("k"), 4))
  }
}
