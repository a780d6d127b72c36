package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first search — exact hop distance from a seed
  * set over an undirected edge list, the traversal primitive the graph
  * family lacked beside [[Triangles]] (density), [[KCore]] (peeling),
  * [[MassRank]] (propagation), and label-propagation communities:
  * "how far is every catalog node from a trusted seed set" drives
  * seed-distance features, spam-distance filters, and neighborhood
  * truncation before more expensive per-pair work.
  *
  * Semantics: `dist(v)` = minimum number of edges from any seed to
  * `v`, for every `v` within `maxHops`; seeds themselves are distance
  * 0 (seeds not present in the edge list are still reported at 0 —
  * a seed is a fact, not a lookup). Nodes farther than `maxHops` are
  * ABSENT, which is the documented contract (bounded-radius search),
  * not an under-provisioned approximation — and when the frontier
  * empties before `maxHops`, iteration stops early at the true
  * fixpoint (every reachable node is in hand), so over-provisioning
  * `maxHops` costs only the rounds actually needed. The bounded-round
  * + early-stop discipline is [[KCore]]'s; here an exhausted bound is
  * legal output rather than an error because the radius IS the
  * contract.
  *
  * Scale shape (100 TB of edges): per hop ONE shuffle join of the
  * CURRENT FRONTIER (not the visited set, not the corpus) against the
  * edge list, one distinct, one anti-join against the visited frame —
  * frontier-proportional work, the textbook distributed BFS. The edge
  * list is placed once and each hop's frontier as it lands, so lineage
  * stays flat. No driver-side adjacency ever materializes.
  */
object Bfs {

  /** `(node, dist)` for every node within `maxHops` of `seeds`.
    *
    * Placement and width come from ONE measured count, the directed-edge
    * upper bound 2 × input rows ([[graft.core.StateTable.regime]]): the
    * per-hop shuffle width is its measured width (the 100× probe OOM'd
    * the fixed session width on the frontier⋈edges hop exactly as q272
    * did), and below the session's placement gate
    * ([[graft.core.StateTable.GateRowsKey]]) the adjacency pins hash-partitioned
    * and sorted on the join key while each hop's `(node, dist)` frontier
    * pins; at or above it the adjacency becomes an `a`-bucketed parquet
    * table (each hop join gets an exchange-free scan side) and each hop
    * lands in its own parquet dir — executor storage
    * holds nothing corpus-sized. The visited set is the union of the
    * landed hops, which is also the answer, so no hop is ever re-landed;
    * the adjacency is released once the last hop lands. Over-estimating
    * the count tables early: slower, never wrong (BfsSpec pins the
    * regimes output-identical). Tabled state lives under
    * [[graft.core.TempWork]] (its local-mode-stand-in caveat applies on
    * a real cluster).
    *
    * @param edges   edge list; direction is ignored (undirected walk),
    *                self-loops are harmless
    * @param seeds   one-column frame of seed nodes (deduplicated here)
    * @param maxHops search radius, in [0, 64]
    */
  def distances(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0 && maxHops <= 64,
      s"maxHops must be in [0,64], got $maxHops")
    val e0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    val regime = graft.core.StateTable.regime(
      edges.sparkSession, 2L * e0.count())
    val adj = regime.laidOut(
      e0.unionByName(e0.select(col("b").as("a"), col("a").as("b")))
        .distinct(),
      "a", "bfs_adj")
    // newest hop first; the head is the frontier
    var hops = List(regime.round(
      seeds.toDF("node").distinct().withColumn("dist", lit(0L)), "bfs"))
    var hop = 0L
    while (hop < maxHops && hops.head.rows > 0L) {
      hop += 1L
      val visited = hops.map(_.df.select(col("node"))).reduce(_ unionByName _)
      hops = regime.round(
        hops.head.df.join(adj.df, col("node") === col("a"))
          .select(col("b").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .withColumn("dist", lit(hop)),
        "bfs") :: hops
    }
    // every hop has landed and the answer reads only the hops
    adj.release()
    hops.reverse.map(_.df).reduce(_ unionByName _)
  }
}
