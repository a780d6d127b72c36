package graft.similarity

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.SparkSpec

class SharedNeighborsSpec extends SparkSpec {

  // fixture with every ranking regime: a dense block (well over k
  // neighbors, shared counts 1-8), two-user cliques whose only strong
  // neighbor is each other, a user sharing only SINGLE items with
  // everyone (top-k made of shared=1 rows, tie-broken by id), and an
  // isolated user (no co-listeners — must not appear)
  private def presence = {
    import spark.implicits._
    val dense = for {
      u <- 1 to 8; i <- 1 to 12 if (u + i) % 3 != 0
    } yield (u.toLong, i.toLong)
    val pairsOnly = Seq(
      (20L, 100L), (20L, 101L), (21L, 100L), (21L, 101L), // 20~21 share 2
      (22L, 102L), (22L, 103L), (23L, 102L), (23L, 103L), // 22~23 share 2
      (20L, 1L), (22L, 2L)) // plus one shared-1 bridge each into dense
    val singles = Seq((30L, 1L), (30L, 100L), (30L, 102L))
    val isolated = Seq((40L, 999L))
    (dense ++ pairsOnly ++ singles ++ isolated).toDF("user_id", "item_id")
  }

  private def direct(k: Int) = {
    // the unreduced formulation: full pair aggregate, one window
    val cp = presence
    val sh = cp.alias("a").join(cp.alias("b"),
        col("a.item_id") === col("b.item_id") &&
          col("a.user_id") =!= col("b.user_id"))
      .groupBy(col("a.user_id").as("user_id"),
        col("b.user_id").as("other_user_id"))
      .agg(count(lit(1)).as("shared"))
    sh.withColumn("__rn", row_number().over(Window
        .partitionBy(col("user_id"))
        .orderBy(col("shared").desc, col("other_user_id"))))
      .filter(col("__rn") <= k)
      .select(col("user_id"), col("other_user_id"))
      .orderBy(col("user_id"), col("other_user_id")).collect().toSeq
  }

  private def run(k: Int, chunks: Int) =
    SharedNeighbors.topK(presence.transform(graft.core.StateTable.pin),
        "user_id", "item_id", k, pairChunks = chunks)
      .orderBy(col("user_id"), col("other_user_id"))
      .collect().toSeq

  test("hierarchical per-chunk top-k ≡ direct full-aggregate top-k, " +
      "chunked and unchunked") {
    val want = direct(3)
    assert(want.nonEmpty)
    assert(run(3, chunks = 1) == want)
    assert(run(3, chunks = 4) == want)
    // k larger than some users' neighbor count: partial lists survive
    assert(run(10, chunks = 3) == direct(10))
  }

  test("single-shared-item users rank by id; isolated users emit " +
      "nothing") {
    val got = run(3, chunks = 3).map(r =>
      (r.getLong(0), r.getLong(1))).groupBy(_._1)
    // user 30's pairs are all shared=1 — kept, tie-broken by id asc
    assert(got(30L).map(_._2) == got(30L).map(_._2).sorted)
    // user 40 co-listens with nobody: absent entirely
    assert(!got.contains(40L))
    // user 20: shared=2 with 21 (items 100,101) AND with 30 (items
    // 100,1), then the lowest-id shared-1 dense user via item 1
    assert(got(20L).map(_._2).toSet == Set(21L, 30L, 1L))
  }

  test("a chunked dots call leaves no catalog table and no bucket files; " +
      "its answer reads only the chunk partials") {
    val counts = presence.withColumn("c", lit(1L))
      .transform(graft.core.StateTable.pin)
    def pairs(chunks: Int) =
      ChunkedPairs.dots(counts, "user_id", "item_id", "c", chunks)
    val want = pairs(1).collect().map(_.toString).sorted.toSeq
    val tables = graftTables
    val scratch = graft.core.TempWork.snapshot()
    val got = pairs(4)
    assert(graftTables === tables)
    val made = graft.core.TempWork.snapshot() -- scratch
    assert(made.nonEmpty && made.forall(_.startsWith("pair-chunks-")),
      s"only the chunk partials' dir may survive the call: $made")
    assert(got.collect().map(_.toString).sorted.toSeq == want)
  }
}
