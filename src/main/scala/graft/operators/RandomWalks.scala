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
  * The adjacency is hash-partitioned on node AND sorted once at a width
  * MEASURED from the edge count before it pins, and every step join +
  * the per-step frontier pin run at that width (the [[Bfs]]/
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
    * State placement is gated on the MEASURED edge count
    * (`tableStateRows`): below the gate the adjacency and per-step
    * frontiers are block-pinned ([[graft.core.Pin]] — fastest re-scan,
    * zero disk round-trips); at or above it they become TABLES (a
    * node-bucketed adjacency + one parquet dir per step). The gate
    * exists because a corpus-sized block pin is a CLUSTER-STORAGE
    * budget, not just a block-size problem: the round-12 100× probe
    * under 2×4 GiB real executors died writing the adjacency cache —
    * ~2 GiB of pinned blocks resident per executor drove storage to
    * its cap (free ~320 MB) while four cache-write tasks churned, the
    * heap OOM killed the executor, and localCheckpoint blocks are
    * unrecoverable by contract (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
    * aborted the job; SCALE.md round 12). The tabled form holds the
    * same state on local disk instead: the bucketed adjacency gives
    * every step join an exchange-free, sort-free scan side (the
    * [[graft.similarity.ChunkedPairs]] layout), per-step frontiers
    * stream from their dirs, and executor storage holds NOTHING — the
    * identical-output 100 TB shape. */
  def walks(
      edges: DataFrame, srcCol: String, dstCol: String,
      walksPerNode: Int, length: Int,
      rowsPerTask: Long = 500000L,
      tableStateRows: Long = 16L * 1000 * 1000): DataFrame = {
    require(walksPerNode >= 1, s"walksPerNode must be >= 1")
    require(length >= 1, s"length must be >= 1")
    require(rowsPerTask >= 1, s"rowsPerTask must be >= 1, got $rowsPerTask")
    val spark = edges.sparkSession
    // upper bound on the adjacency row count (pre-distinct — the cheap
    // count; an over-estimate only widens), clamped at 4096 like every
    // other measured-width site: the adjacency pin and each per-step
    // join run AT this width, and a pinned scan's partitioning is not
    // AQE-coalescible, so an unbounded width would turn every hop into
    // that many tasks on arbitrarily large inputs. The SAME pre-distinct
    // count also picks pinned-vs-tabled placement below, where the
    // conservatism cuts the other way: a heavily duplicated edge list
    // can push a small deduplicated graph into the tabled regime early —
    // slower (disk round-trips it didn't need), never wrong (the two
    // regimes are spec-pinned output-identical).
    val n = edges.count()
    val width = graft.core.StateTable.measuredWidth(spark, n, rowsPerTask)
    if (n >= tableStateRows)
      return walksTabled(edges, srcCol, dstCol, walksPerNode, length, width)
    val adj = graft.core.ScopedConf.withShufflePartitions(spark, width) {
      neighborIndex(edges, srcCol, dstCol)
        .repartition(width, col("node"))
        .sortWithinPartitions(col("node"))
        .transform(graft.core.Pin.apply)
    }
    val starts = adj.select(col("node")).distinct()
      .withColumn("copy", explode(
        lit((0L until walksPerNode.toLong).toArray)))
      .select((col("node") * walksPerNode + col("copy")).as("walk_id"),
        col("node"))
    var frontier = starts.select(col("walk_id"), lit(0).as("step"),
      col("node"))
    var acc = frontier
    for (t <- 1 to length) {
      // pin per step: the walk table is the union of the frontiers, so
      // an unpinned step would re-execute every prior hop join once per
      // consumer AND leave the step join at the session width
      frontier = graft.core.ScopedConf.withShufflePartitions(spark, width) {
        frontier
          .join(adj, Seq("node"))
          .filter(col("idx") === mix(col("node"), col("walk_id"), t) %
            col("deg"))
          .select(col("walk_id"), lit(t).as("step"),
            col("nbr").as("node"))
          .transform(graft.core.Pin.apply)
      }
      acc = acc.unionByName(frontier)
    }
    acc.select(col("walk_id"), col("step").cast("long").as("step"),
      col("node"))
  }

  /** The ≥`tableStateRows` regime of [[walks]]: the adjacency as a
    * node-bucketed parquet table (every step join gets an
    * exchange-free, sort-free scan side — the
    * [[graft.similarity.ChunkedPairs]] bucket layout), the frontiers
    * as one parquet dir per step. Output-identical to the pinned form
    * (RandomWalksSpec pins the two regimes against each other);
    * nothing corpus-sized ever enters executor storage memory. The
    * adjacency table is dropped (catalog + files) as soon as the step
    * loop ends — the returned frame reads only the step dirs. State
    * lives under [[graft.core.TempWork]], whose local-mode-stand-in
    * caveat applies: this is the identical-output 100 TB shape ONLY
    * over a real distributed workDir (on a cluster, TempWork's root is
    * the orchestrator-owned temp layout, not a driver-local path). */
  private def walksTabled(
      edges: DataFrame, srcCol: String, dstCol: String,
      walksPerNode: Int, length: Int, width: Int): DataFrame = {
    val spark = edges.sparkSession
    val work = graft.core.TempWork.dir("graft-walks")
    val tabled = graft.core.StateTable.bucketedAtWidth(
      neighborIndex(edges, srcCol, dstCol),
      Seq("node"), width, prefix = "walk_adj")
    val adj = tabled.df
    // bucketed scan: a distinct grouped on the bucket key plans
    // exchange-free
    val starts = adj.select(col("node")).distinct()
      .withColumn("copy",
        explode(lit((0L until walksPerNode.toLong).toArray)))
      .select((col("node") * walksPerNode + col("copy")).as("walk_id"),
        col("node"))
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val stepSchema = StructType(Seq(StructField("walk_id", LongType),
      StructField("step", IntegerType), StructField("node", LongType)))
    def stepPath(t: Int) = s"$work/steps/s$t"
    // a step whose every walk dangled writes a file-less dir — the
    // schema'd read keeps the loop and the final union total (the
    // PairState empty-segment lesson)
    def readStep(t: Int): DataFrame =
      spark.read.schema(stepSchema).parquet(stepPath(t))
    starts.select(col("walk_id"), lit(0).as("step"), col("node"))
      .write.parquet(stepPath(0))
    for (t <- 1 to length) {
      graft.core.ScopedConf.withShufflePartitions(spark, width) {
        readStep(t - 1)
          .select(col("walk_id"), col("node"))
          .join(adj, Seq("node"))
          .filter(col("idx") === mix(col("node"), col("walk_id"), t) %
            col("deg"))
          .select(col("walk_id"), lit(t).as("step"),
            col("nbr").as("node"))
          .write.parquet(stepPath(t))
      }
    }
    // every step has landed and the returned frame reads only the step
    // dirs — drop the adjacency table (catalog entry + corpus-sized
    // parquet tree) NOW instead of at JVM shutdown, halving the
    // operator's peak disk footprint in a long session
    tabled.drop()
    (0 to length).map(readStep).reduce(_ unionByName _)
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
