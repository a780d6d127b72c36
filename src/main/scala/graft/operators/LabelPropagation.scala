package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (Raghavan et al.
  * 2007, the deterministic synchronous variant): every node starts
  * labeled with its own id; each round every node adopts the label
  * most frequent among its neighbours, ties broken toward the SMALLEST
  * label. Complements the graph family's other semantics — connected
  * components ([[graft.dedup.Clusters]]) answer "reachable at all",
  * k-core ([[KCore]]) "densely embedded", LPA "which dense region" —
  * the community assignment that groups listener/artist graphs into
  * taste clusters without a cluster-count parameter.
  *
  * Determinism: the synchronous update + smallest-label tie-break make
  * every round a pure function of the previous labeling — no
  * merge-order or visit-order ambiguity, so the result is
  * bit-reproducible and SQL-unrollable (q229 replays rounds as chained
  * CTEs). Fixed `rounds` is the standard LPA contract (the synchronous
  * variant may 2-cycle on bipartite structure rather than reach a
  * fixpoint, so unlike [[KCore]] a convergence guard would reject
  * legitimate inputs; k-round LPA is the documented semantic, and
  * callers wanting a stability signal can compare `communities(r)`
  * with `communities(r+1)`).
  *
  * Scale shape (100 TB): per round ONE shuffle join (labels ⋈
  * adjacency on the neighbour key) and TWO map-side-combinable
  * aggregates ((node, label) counts, then per-node argmax via
  * max(struct)) — the [[MassRank]] iteration shape; the symmetrized
  * adjacency is placed once, labels land once per round so lineage
  * stays O(1). No window functions: the argmax is an aggregate, so no
  * per-node sort materializes.
  */
object LabelPropagation {

  /** `(node, label)` after `rounds` synchronous rounds over the
    * undirected simple graph induced by `edges` (direction, duplicate
    * edges, and self-loops are normalized away). Node ids must be
    * numeric (the engine's graph discipline) — the smallest-label
    * tie-break rides an integer negation inside `max(struct)`.
    *
    * Placement and width come from ONE measured count, the directed
    * edges of the deduplicated graph ([[graft.core.StateTable.regime]];
    * the dedup runs twice — a scan-shuffle-count, far cheaper than
    * holding an extra materialized copy across every round). The
    * per-round shuffle width is its measured width — ceil(edges /
    * 500k), clamped to [session width, 4096]. A fixed session
    * width is the per-task memory cliff: at the 4 GiB production share
    * on 30× data, width 4 put a 7.5M-row sort frame in each label-join
    * task and OOM'd; the measured width bounds every task's
    * join/aggregate frame by 500k rows regardless of graph size. AQE
    * coalesces the small post-aggregate sides back down.
    *
    * The adjacency is laid out on the join key ONCE — below the
    * session's placement gate ([[graft.core.StateTable.GateRowsKey]])
    * hash-partitioned and sorted within partitions,
    * then pinned; at or above it an nbr-bucketed, bucket-sorted parquet
    * table whose scans are exchange-free on `nbr`. Labels land once per
    * round (a pin, or a parquet dir at or above the gate), the
    * superseded round is released as soon as the next one lands, and
    * the adjacency once the rounds end. The regimes are
    * output-identical (LabelPropagationSpec pins them against each
    * other). */
  def communities(
      edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 64,
      s"rounds must be in [1,64], got $rounds")
    val ed = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val regime = graft.core.StateTable.regime(
      edges.sparkSession, 2L * ed.count())
    val adj = regime.laidOut(
      ed.select(col("a").as("node"), col("b").as("nbr"))
        .unionAll(ed.select(col("b").as("node"), col("a").as("nbr"))),
      "nbr", "lpa_adj")
    var labels = regime.round(
      adj.df.select(col("node")).distinct().withColumn("label", col("node")),
      "lpa")
    for (_ <- 1 to rounds) {
      val next = regime.round(lpaRound(adj.df, labels.df), "lpa")
      labels.release()
      labels = next
    }
    // the answer reads only the final round
    adj.release()
    labels.df
  }

  /** One synchronous LPA round: per-node neighbour-label argmax,
    * smallest label winning ties. */
  private def lpaRound(adj: DataFrame, labels: DataFrame): DataFrame = {
    val nbrCounts = adj
      .join(labels.select(col("node").as("nbr"), col("label")),
        Seq("nbr"))
      .groupBy(col("node"), col("label"))
      .agg(count(lit(1)).as("c"))
    nbrCounts.groupBy(col("node"))
      .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
      .select(col("node"), (-col("m.nl")).as("label"))
  }
}
