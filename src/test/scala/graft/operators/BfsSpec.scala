package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** [[Bfs.distances]] — brute-force differential on a random graph,
  * path/disconnection anchors, radius bound, early stop, and
  * partitioning invariance. */
class BfsSpec extends SparkSpec {

  private def run(
      edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxHops: Int): Map[Long, Long] = {
    import spark.implicits._
    Bfs.distances(edges.toDF("s", "d").repartition(4), "s", "d",
      seeds.toDF("node"), maxHops)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist"))
      .toMap
  }

  /** Driver-side BFS over the same undirected view. */
  private def brute(
      edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxHops: Int): Map[Long, Long] = {
    val adj = (edges ++ edges.map(_.swap))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    var dist = seeds.distinct.map(_ -> 0L).toMap
    var frontier = seeds.distinct.toSet
    var hop = 0L
    while (hop < maxHops && frontier.nonEmpty) {
      hop += 1L
      val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
        .diff(dist.keySet)
      dist = dist ++ next.map(_ -> hop)
      frontier = next
    }
    dist
  }

  test("hop distances match a driver-side BFS on a random graph, " +
    "multi-source minimum included") {
    val rnd = new scala.util.Random(29)
    val edges = Seq.fill(300)(
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    val seeds = Seq(0L, 7L, 55L)
    assert(run(edges, seeds, 4) === brute(edges, seeds, 4))
  }

  test("path graph: one layer per hop, radius bound truncates, seeds " +
    "absent from the graph still report 0") {
    val path = (0L until 10L).sliding(2).map(s => (s(0), s(1))).toSeq
    val d = run(path, Seq(0L, 99L), 3)
    assert(d === Map(0L -> 0L, 99L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("early stop at the reachability fixpoint: over-provisioned " +
    "maxHops returns the full component and nothing else") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val d = run(edges, Seq(1L), 64)
    assert(d === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("direction is ignored and duplicate seeds collapse") {
    val d = run(Seq((5L, 4L), (3L, 4L)), Seq(3L, 3L), 2)
    assert(d === Map(3L -> 0L, 4L -> 1L, 5L -> 2L))
  }

  test("partitioning-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val edges = Seq.fill(200)(
      (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }
    val a = Bfs.distances(edges.toDF("s", "d").coalesce(1), "s", "d",
      Seq(1L, 2L).toDF("node"), 3).orderBy(col("node")).collect().toSeq
    val b = Bfs.distances(edges.toDF("s", "d").repartition(8), "s", "d",
      Seq(1L, 2L).toDF("node"), 3).orderBy(col("node")).collect().toSeq
    assert(a === b)
  }

  test("tabled regime (bucketed adjacency + per-hop dirs) is " +
    "output-identical to the pinned regime") {
    import spark.implicits._
    def tabled(edges: Seq[(Long, Long)], seeds: Seq[Long],
        maxHops: Int): Map[Long, Long] =
      withGate(1L)(Bfs.distances(edges.toDF("s", "d").repartition(4),
          "s", "d", seeds.toDF("node"), maxHops))
        .collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
    val rnd = new scala.util.Random(31)
    val edges = Seq.fill(250)(
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val seeds = Seq(0L, 9L)
    assert(tabled(edges, seeds, 4) === run(edges, seeds, 4))
    // early stop + disconnected component: the tabled loop must stop at
    // the reachability fixpoint with empty hop dirs staying readable
    val small = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    assert(tabled(small, Seq(1L), 64) === run(small, Seq(1L), 64))
    // radius 0: seeds only, straight from the hop-0 dir
    assert(tabled(small, Seq(1L, 99L), 0) ===
      Map(1L -> 0L, 99L -> 0L))
  }
}
