package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact maximal-marginal-relevance (MMR, Carbonell & Goldstein 1998)
  * diversified re-ranking — the classic "relevant but not redundant"
  * top-k: pick the candidate maximizing
  * `λ·rel − (1−λ)·max_{s∈selected} sim(i, s)` one rank at a time.
  *
  * Determinism discipline: relevance, the item vectors, and therefore
  * every pairwise similarity are INTEGERS (callers quantize first —
  * the [[RandomProjection]]→round lattice, the q138 int8 recipe), and
  * λ enters as the rational `num/den`, so the selection objective
  * `num·rel − (den−num)·maxSim` is an exact bigint and every argmax
  * (tie-broken by item id) replays in any engine with integer
  * arithmetic — float MMR's score-comparison ambiguity never exists.
  * Rank 1 is the pure-relevance argmax (`maxSim = 0` by convention).
  *
  * Scale shape (100 TB of candidates, millions of queries): the k−1
  * selection rounds are data-independent in count, each one
  * a join of remaining candidates against the selected set (≤ k·|Q|
  * rows — AQE broadcasts it), a (query,item)-keyed max-aggregate over
  * a fan-out bounded by k, and one per-query window argmax; all three
  * shuffle on the query key, so one exchange pattern serves the whole
  * round. Candidate lists are pre-cut (top-N by relevance) BEFORE
  * re-ranking — MMR is a re-ranker, not a retriever; [[AnnIndex]] is
  * the retriever.
  */
object Mmr {

  /** Integer dot product of two equal-length long arrays. */
  def dotL(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Greedy MMR selection: `(query, rank, item, rel, max_sim, score)`
    * with `score = num·rel − (den−num)·max_sim` at pick time (exact
    * bigints; `max_sim = 0` for rank 1).
    *
    * @param cands pre-cut candidate lists
    * @param vec   `array<long>` item vector (quantized)
    * @param k     list length, in [1, 16]
    * @param lambdaNum/lambdaDen  trade-off λ = num/den in (0, 1]
    */
  def rerank(
      cands: DataFrame, query: Column, item: Column, rel: Column,
      vec: Column, k: Int, lambdaNum: Int, lambdaDen: Int): DataFrame = {
    require(k >= 1 && k <= 16, s"k must be in [1,16], got $k")
    require(lambdaDen > 0 && lambdaNum > 0 && lambdaNum <= lambdaDen,
      s"lambda must satisfy 0 < num <= den, got $lambdaNum/$lambdaDen")
    val base = cands.select(query.as("q"), item.as("i"),
        rel.cast("long").as("rel"), vec.as("v"))
      .transform(graft.core.StateTable.pin) // consumed every round
    val byQ = Window.partitionBy(col("q"))
    def pick(scored: DataFrame, rank: Int): DataFrame = scored
      .withColumn("__rn", row_number().over(
        byQ.orderBy(col("score").desc, col("i"))))
      .filter(col("__rn") === 1)
      .select(col("q"), lit(rank.toLong).as("rank"), col("i"),
        col("rel"), col("max_sim"), col("score"), col("v"))
    var selected = pick(base
      .withColumn("max_sim", lit(0L))
      .withColumn("score", lit(lambdaNum.toLong) * col("rel")), 1)
      .transform(graft.core.StateTable.pin)
    for (t <- 2 to k) {
      val sel = selected.select(col("q").as("sq"), col("i").as("si"),
        col("v").as("sv"))
      val remaining = base.join(
        sel.select(col("sq").as("q"), col("si").as("i")),
        Seq("q", "i"), "left_anti")
      val scored = remaining
        .join(sel, col("q") === col("sq"))
        .groupBy(col("q"), col("i"))
        .agg(first(col("rel")).as("rel"), first(col("v")).as("v"),
          max(dotL(col("v"), col("sv"))).as("max_sim"))
        .withColumn("score",
          lit(lambdaNum.toLong) * col("rel") -
            lit((lambdaDen - lambdaNum).toLong) * col("max_sim"))
      val next = selected
        .unionByName(pick(scored, t))
        .transform(graft.core.StateTable.pin)
      // next is eager and lineage-truncated: nothing reads selected
      graft.core.StateTable.unpin(selected)
      selected = next
    }
    graft.core.StateTable.unpin(base)
    selected.select(col("q").as("query"), col("rank"),
      col("i").as("item"), col("rel"), col("max_sim"), col("score"))
  }
}
