package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic random-walk corpus generation (the DeepWalk/node2vec
  * data-prep stage): fixed-length walks over a graph, then skip-gram
  * (center, context) pair extraction — the training corpus for graph
  * embeddings, generated as a pure function of the edge set so two runs
  * (or two engines) emit IDENTICAL walks.
  *
  * Determinism: each node's out-neighbors are dense-indexed 0..deg−1 in
  * ascending neighbor order; the step from node v on walk w at step t
  * takes neighbor `mix(v, w, t) mod deg(v)`, where `mix` is a fixed
  * integer congruential mix (products bounded well inside int64). This
  * is the q51-centroid discipline — a deterministic stand-in where true
  * randomness adds nothing the training corpus needs — and it makes the
  * whole walk table SQL-replayable (a recursive CTE reproduces every
  * step), so the driver gate can hash-check a *random-walk* corpus.
  *
  * Scale shape: the neighbor index is one edge-keyed window; each of
  * the `length` steps is ONE equi-join of the frontier (#walks rows)
  * against the indexed adjacency — walk count stays constant across
  * steps, so cost is length × (frontier ⋈ adjacency), never exponential.
  * The adjacency is laid out on node once (hash-partitioned and sorted
  * before its pin, or bucketed) at a width MEASURED from the edge count,
  * and every step join + the per-step frontier placement run at that
  * width (the [[Bfs]]/
  * [[LabelPropagation]]/[[TemporalBfs]] discipline — the round-10 100×
  * probe OOM'd the fixed session width on the step join exactly as
  * q272/q252 did, task-level Java-heap exhaustion in the first hop).
  * Skip-gram extraction self-joins the walk table on
  * (walk, |Δstep| ≤ window) — walk-keyed, window-bounded fan-out.
  */
object RandomWalks {

  /** Congruential mix of (node, walk, step) → non-negative long. Node and
    * walk ids reduce mod 2^31−1 BEFORE the multiply so every intermediate
    * product is provably inside int64 for arbitrary 64-bit ids
    * ((2^31−2)·2654435761 ≈ 5.7e18 < Long.MaxValue): without the
    * reduction, ids above ~3.5e9 overflow and ANSI mode throws at
    * runtime (the oracle's HUGEINT promotion would silently diverge). */
  private def mix(node: org.apache.spark.sql.Column,
      walk: org.apache.spark.sql.Column, step: Int) = {
    val m = lit(2147483647L)
    pmod(pmod(node, m) * lit(2654435761L) + pmod(walk, m) * lit(40503L) +
      lit(step.toLong * 69069L), m)
  }

  /** Dense neighbor index: (node, idx 0.., nbr, deg). Directed edges;
    * symmetrize upstream for undirected walks. */
  def neighborIndex(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("node"),
      col(dstCol).cast("long").as("nbr")).distinct()
    val w = Window.partitionBy(col("node")).orderBy(col("nbr"))
    e.withColumn("idx", row_number().over(w).cast("long") - 1L)
      .withColumn("deg", count(lit(1)).over(
        Window.partitionBy(col("node"))).cast("long"))
  }

  /** `walksPerNode` walks of `length` steps from every node with at
    * least one out-edge. Output: (walk_id, step 0..length, node) — step
    * 0 is the start node. walk_id = node·walksPerNode + copy.
    *
    * Placement and width come from ONE measured count, the raw
    * (pre-distinct) edge rows ([[graft.core.StateTable.regime]]): the
    * adjacency and every step join run at its measured width, and
    * below the session's placement gate
    * ([[graft.core.StateTable.GateRowsKey]]) the adjacency and per-step
    * frontiers are
    * block-pinned ([[graft.core.StateTable.pin]] — fastest re-scan,
    * zero disk round-trips); at or above it they become TABLES (a node-bucketed
    * adjacency + one parquet dir per step). The gate exists because a
    * corpus-sized block pin is a CLUSTER-STORAGE budget, not just a
    * block-size problem: the round-12 100× probe under 2×4 GiB real
    * executors died writing the adjacency cache — ~2 GiB of pinned
    * blocks resident per executor drove storage to its cap (free
    * ~320 MB) while four cache-write tasks churned, the heap OOM killed
    * the executor, and localCheckpoint blocks are unrecoverable by
    * contract (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND aborted the job;
    * SCALE.md round 12). The tabled form holds the same state on local
    * disk instead: the bucketed adjacency gives every step join an
    * exchange-free scan side (the
    * [[graft.similarity.ChunkedPairs]] layout), per-step frontiers
    * stream from their dirs, and executor storage holds NOTHING — the
    * identical-output 100 TB shape (RandomWalksSpec pins the regimes
    * against each other) ONLY over a real distributed workDir
    * ([[graft.core.TempWork]]'s caveat). The pre-distinct count is
    * conservative: a heavily duplicated edge list can push a small
    * deduplicated graph into the tabled regime early — slower, never
    * wrong. The adjacency is released once the last step lands: the
    * walk table reads only the steps. */
  def walks(
      edges: DataFrame, srcCol: String, dstCol: String,
      walksPerNode: Int, length: Int): DataFrame = {
    require(walksPerNode >= 1, s"walksPerNode must be >= 1")
    require(length >= 1, s"length must be >= 1")
    val regime =
      graft.core.StateTable.regime(edges.sparkSession, edges.count())
    val adj = regime.laidOut(
      neighborIndex(edges, srcCol, dstCol), "node", "walk_adj")
    // step 0: walksPerNode walks from every node with an out-edge
    val starts = adj.df.select(col("node")).distinct()
      .withColumn("copy", explode(
        lit((0L until walksPerNode.toLong).toArray)))
      .select((col("node") * walksPerNode + col("copy")).as("walk_id"),
        col("node"))
    // each step is placed: the walk table is the union of the steps, so
    // an unplaced step would re-execute every prior step join once per
    // consumer
    val steps = (1 to length).scanLeft(starts) { (frontier, t) =>
      regime.round(
        frontier
          .join(adj.df, Seq("node"))
          .filter(col("idx") === mix(col("node"), col("walk_id"), t) %
            col("deg"))
          .select(col("walk_id"), lit(t).as("step"), col("nbr").as("node")),
        "walk").df
    }.tail
    adj.release()
    // every walk starts at a node with an out-edge, so step 1 holds
    // every walk, and walk_id = node·walksPerNode + copy gives back its
    // start: step 0 needs neither the adjacency nor a placement of its own
    val start = steps.head.select(col("walk_id"), lit(0).as("step"),
      expr(s"(walk_id - pmod(walk_id, $walksPerNode)) div $walksPerNode")
        .as("node"))
    (start +: steps).reduce(_ unionByName _)
      .select(col("walk_id"), col("step").cast("long").as("step"),
        col("node"))
  }

  /** Skip-gram pairs within `window` steps (center ≠ context, both
    * directions): (center, context, n). Dangling walks (a node with no
    * out-edge ends its walk early) contribute their existing steps. */
  def skipGramPairs(walkDf: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1")
    walkDf.as("a")
      .join(walkDf.as("b"),
        col("a.walk_id") === col("b.walk_id") &&
          col("a.step") =!= col("b.step") &&
          abs(col("a.step") - col("b.step")) <= window)
      .groupBy(col("a.node").as("center"), col("b.node").as("context"))
      .agg(count(lit(1)).as("n"))
  }
}
