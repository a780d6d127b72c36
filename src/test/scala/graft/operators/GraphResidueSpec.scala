package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.StateTable
import graft.dedup.MinHash
import graft.similarity.UserCosine

/** The round-loop graph operators leave the session as they found it,
  * in both placement regimes: no `graft_*` catalog table survives a
  * call, and the only pins left are the ones the returned frame reads. */
class GraphResidueSpec extends SparkSpec {
  import spark.implicits._

  private val edges = Seq((1L, 2L, 3L), (2L, 3L, 5L), (3L, 4L, 4L),
    (4L, 5L, 9L), (2L, 6L, 1L), (10L, 11L, 2L)).toDF("s", "d", "t")

  private def calls(gate: Long): Seq[(String, () => DataFrame)] = Seq(
    "Bfs" -> (() => withGate(gate)(Bfs.distances(edges, "s", "d",
      Seq(1L).toDF("node"), 3))),
    "TemporalBfs" -> (() => withGate(gate)(TemporalBfs.earliestArrival(
      edges, "s", "d", "t", Seq((1L, 0L)).toDF("node", "t0"), 3))),
    "LabelPropagation" -> (() => withGate(gate)(
      LabelPropagation.communities(edges, "s", "d", 2))),
    "RandomWalks" -> (() => withGate(gate)(
      RandomWalks.walks(edges, "s", "d", 2, 3))))

  for ((regime, gate) <- Seq(
      "pinned" -> StateTable.DefaultGateRows, "tabled" -> 1L))
    test(s"$regime regime: each operator leaves no catalog table and only " +
      "the pins its answer reads") {
      calls(gate).foreach { case (name, call) =>
        val tables = graftTables
        val (out, left, read) = pinsLeft(call())
        assert(graftTables === tables, name)
        assert(left === read, name)
        assert(read.isEmpty === (gate == 1L), name)
        // and the answer is still readable once the call has cleaned up
        assert(out.count() > 0L, name)
      }
    }

  private val emb = Seq(
    0L -> Seq(10f, 0f, 1f, 0f), 1L -> Seq(0f, 10f, 0f, 1f),
    2L -> Seq(9f, 1f, 2f, 0f), 3L -> Seq(8f, 0f, 1f, 1f),
    4L -> Seq(1f, 9f, 0f, 2f), 5L -> Seq(0f, 8f, 1f, 1f))
    .toDF("vec_id", "embedding")

  private val text = (1 to 30).map(i => s"tok$i").mkString(" ")
  private val corpus = Seq(1L -> text, 2L -> (1 to 30).map(i => s"z$i")
    .mkString(" ")).toDF("doc_id", "text")

  /** Loop operators whose answers always read pins, and the three
    * `placement-heavy` queries' operators (q191 triangles, q139
    * incremental MinHash, q281 thresholded top-k). */
  private def pinnedAnswers: Seq[(String, () => DataFrame)] = Seq(
    "MassRank pinned" -> (() => MassRank.rank(edges, "s", "d", iters = 2)),
    "MassRank tabled" -> (() =>
      withGate(1L)(MassRank.rank(edges, "s", "d", iters = 2))),
    "Mmr" -> (() => Mmr.rerank(
      Seq((0L, 1L, 9L, Seq(1L, 0L)), (0L, 2L, 8L, Seq(1L, 1L)),
        (0L, 3L, 5L, Seq(0L, 1L)), (1L, 1L, 4L, Seq(2L, 0L)),
        (1L, 2L, 7L, Seq(0L, 2L))).toDF("q", "i", "rel", "v"),
      col("q"), col("i"), col("rel"), col("v"), 3, 1, 2)),
    "QuantizedKMeans" -> (() => QuantizedKMeans.fit(
      emb, "vec_id", "embedding", k = 2, iters = 3)),
    "ProductQuantization" -> (() => ProductQuantization.trainedCodebooks(
      VectorQuantization.quantizeInt8(emb, "embedding")
        .select(col("vec_id"), col("q8")), "vec_id", m = 2, k = 2,
      iters = 2)),
    "Triangles" -> (() => Triangles.triangles(
      edges.unionByName(Seq((1L, 3L, 0L)).toDF("s", "d", "t")), "s", "d")),
    "MinHash incremental" -> (() => MinHash.incrementalNearDuplicates(
      Seq(10L -> text).toDF("doc_id", "text"), corpus,
      MinHash.buckets(MinHash.signatures(
        MinHash.shingles(corpus, "doc_id", "text", 3), "doc_id", 32),
        "doc_id", 32, 8),
      "doc_id", "text", numPerms = 32, bands = 8, threshold = 0.5)),
    "UserCosine.dimsumTopK" -> (() => UserCosine.dimsumTopK(
      Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (3L, "b"), (3L, "c"))
        .toDF("user_id", "item"), "user_id", "item", k = 2, tau = 0.1)))

  test("loops whose answers read pins leave only those pins and no " +
    "catalog table") {
    pinnedAnswers.foreach { case (name, call) =>
      val tables = graftTables
      val (out, left, read) = pinsLeft(call())
      assert(graftTables === tables, name)
      assert(left === read, name)
      assert(out.count() > 0L, name)
    }
  }
}
