package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Time-respecting earliest-arrival search — [[Bfs]] for TEMPORAL
  * graphs, where each edge carries a timestamp and a path may only
  * use edges at or after its current arrival time (information,
  * contagion, or money can flow forward in time only). Static
  * reachability OVERSTATES temporal reachability — an edge that
  * happened before you arrived is no path at all — which is exactly
  * why fraud-flow, influence, and provenance questions need this
  * operator and not q252's static hops.
  *
  * Semantics: `arrival(v)` = the minimum, over time-respecting paths
  * of ≤ maxHops edges from any seed, of the LAST edge's timestamp
  * (seeds start at their own `t0`). The iteration is label-correcting
  * — an improved (earlier) arrival unlocks earlier outgoing edges, so
  * improved nodes re-propagate — and monotone (arrivals only
  * decrease), so the delta iteration below equals full per-round
  * propagation and the whole run is exact integer algebra any engine
  * replays (the oracle unrolls the same min-merge rounds).
  *
  * Scale shape (100 TB of timestamped edges): per round ONE shuffle
  * join of the IMPROVED frontier against the edge list + a
  * min-aggregate + a full-outer min-merge against the best-known
  * frame — frontier-proportional, the [[Bfs]] discipline with a
  * time-filtered join condition; early stop at the fixpoint.
  */
object TemporalBfs {

  /** `(node, arrival)` for every node temporally reachable within
    * `maxHops` edges; direction is ignored (undirected flow).
    *
    * Placement and width come from ONE measured count, the directed-edge
    * upper bound 2 × input rows ([[graft.core.StateTable.regime]]; the
    * distinct can only shrink it, and an over-estimate only widens the
    * exchange, which AQE coalesces). The per-round shuffle width is its
    * measured width: the 100× probe showed the session width is the
    * per-task memory cliff here — at width 32 each task of the
    * frontier⋈edges round held a multi-million-row slice of the
    * 100M-row directed adjacency (plus the pinned block it re-reads)
    * and OOM'd an 8 GiB heap. Below the session's placement gate
    * ([[graft.core.StateTable.GateRowsKey]]) the adjacency is
    * hash-partitioned on the join key and sorted ONCE before its pin,
    * and each round's merged `(node, arrival, improved)` frame pins; at
    * or above it the adjacency is an `a`-bucketed, bucket-sorted parquet
    * table (exchange-free round-join scans) and each round lands in its
    * own parquet dir (a corpus-sized temporal edge pin is the same
    * cluster-storage budget as the static families'). The superseded
    * round is released as soon as the next one lands, and the
    * adjacency once the loop ends.
    * Over-estimation tables early: slower, never wrong (TemporalBfsSpec
    * pins the regimes output-identical).
    *
    * @param ts    integer edge timestamp column (days/micros — any
    *              consistent unit)
    * @param seeds `(node, t0)` frame: each seed is live from its t0
    */
  def earliestArrival(
      edges: DataFrame, srcCol: String, dstCol: String, ts: String,
      seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0 && maxHops <= 64,
      s"maxHops must be in [0,64], got $maxHops")
    val e0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"),
      col(ts).cast("long").as("ets"))
    val regime = graft.core.StateTable.regime(
      edges.sparkSession, 2L * e0.count())
    val adj = regime.laidOut(
      e0.unionByName(
          e0.select(col("b").as("a"), col("a").as("b"), col("ets")))
        .distinct(),
      "a", "tbfs_adj")
    // every seed starts improved: round 0's frontier is the seed set
    var merged = regime.round(
      seeds.toDF("node", "arrival")
        .groupBy(col("node")).agg(min(col("arrival").cast("long"))
          .as("arrival"))
        .withColumn("improved", lit(true)),
      "tbfs")
    var hop = 0
    var done = merged.rows == 0L
    while (hop < maxHops && !done) {
      hop += 1
      val next = regime.round(
        round(adj.df,
          merged.df.filter(col("improved"))
            .select(col("node"), col("arrival")),
          merged.df.select(col("node"), col("arrival"))),
        "tbfs")
      merged.release()
      merged = next
      done = merged.df.filter(col("improved")).isEmpty
    }
    // the answer reads only the final round
    adj.release()
    merged.df.select(col("node"), col("arrival"))
  }

  /** One label-correcting round: earliest candidate arrivals from the
    * improved frontier, min-merged into the best-known frame; `improved`
    * marks nodes whose arrival got earlier (the next frontier). */
  private def round(
      e: DataFrame, frontier: DataFrame, best: DataFrame): DataFrame = {
    val cand = frontier.join(e,
        col("node") === col("a") && col("ets") >= col("arrival"))
      .groupBy(col("b").as("cnode"))
      .agg(min(col("ets")).as("cand"))
    best
      .join(cand, col("node") === col("cnode"), "full_outer")
      .select(
        coalesce(col("node"), col("cnode")).as("node"),
        least(col("arrival"), col("cand")).as("arrival"),
        (col("arrival").isNull ||
          (col("cand").isNotNull && col("cand") < col("arrival")))
          .as("improved"))
  }
}
