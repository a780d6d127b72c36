package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** [[TemporalBfs.earliestArrival]] — brute-force label-correcting
  * differential, the temporal-vs-static divergence anchor, and
  * partition invariance. */
class TemporalBfsSpec extends SparkSpec {

  private def run(
      edges: Seq[(Long, Long, Long)], seeds: Seq[(Long, Long)],
      maxHops: Int): Map[Long, Long] = {
    import spark.implicits._
    TemporalBfs.earliestArrival(
      edges.toDF("s", "d", "t").repartition(4), "s", "d", "t",
      seeds.toDF("node", "t0"), maxHops)
      .collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("arrival"))
      .toMap
  }

  /** Full-propagation brute force (the delta iteration must equal
    * it): maxHops rounds of min-merge over time-respecting steps. */
  private def brute(
      edges: Seq[(Long, Long, Long)], seeds: Seq[(Long, Long)],
      maxHops: Int): Map[Long, Long] = {
    val und = edges.flatMap { case (a, b, t) => Seq((a, b, t), (b, a, t)) }
    var best = seeds.groupBy(_._1).map { case (n, g) =>
      n -> g.map(_._2).min
    }
    (1 to maxHops).foreach { _ =>
      val cand = for {
        (n, arr) <- best.toSeq
        (a, b, t) <- und if a == n && t >= arr
      } yield b -> t
      val merged = (best.toSeq ++ cand).groupBy(_._1)
        .map { case (n, g) => n -> g.map(_._2).min }
      best = merged
    }
    best
  }

  test("earliest arrivals match full-propagation brute force on a " +
    "random temporal graph") {
    val rnd = new scala.util.Random(227)
    val edges = Seq.fill(250)((rnd.nextInt(40).toLong,
      rnd.nextInt(40).toLong, rnd.nextInt(100).toLong))
      .filter(e => e._1 != e._2)
    val seeds = Seq((0L, 10L), (17L, 0L))
    Seq(1, 2, 4).foreach { h =>
      assert(run(edges, seeds, h) === brute(edges, seeds, h), s"h=$h")
    }
  }

  test("static reachability overstates temporal: a path with " +
    "decreasing edge times does not transmit") {
    // 1 -t=10-> 2 -t=5-> 3 : statically 3 is 2 hops away; temporally
    // unreachable (the 2->3 edge happened before arrival at 2)
    val edges = Seq((1L, 2L, 10L), (2L, 3L, 5L))
    val got = run(edges, Seq((1L, 0L)), 4)
    assert(got === Map(1L -> 0L, 2L -> 10L))
  }

  test("label correcting: an earlier arrival found later re-opens a " +
    "node and unlocks an earlier edge") {
    // round 1 reaches 3 via (1,3,t=50); round 2 finds 3 earlier via
    // 1->2 (t=5) -> 3 (t=6), which unlocks (3,4,t=7) that t=50 missed
    val edges = Seq((1L, 3L, 50L), (1L, 2L, 5L), (2L, 3L, 6L),
      (3L, 4L, 7L))
    val got = run(edges, Seq((1L, 0L)), 4)
    assert(got(3L) === 6L)
    assert(got(4L) === 7L)
  }

  test("seed start times gate the first hop; early stop at fixpoint") {
    val edges = Seq((1L, 2L, 5L))
    assert(run(edges, Seq((1L, 6L)), 64) === Map(1L -> 6L))
    assert(run(edges, Seq((1L, 5L)), 64) === Map(1L -> 5L, 2L -> 5L))
  }

  test("partitioning-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(229)
    val edges = Seq.fill(150)((rnd.nextInt(25).toLong,
      rnd.nextInt(25).toLong, rnd.nextInt(50).toLong))
      .filter(e => e._1 != e._2)
    def at(parts: Int) = TemporalBfs.earliestArrival(
      edges.toDF("s", "d", "t").repartition(parts), "s", "d", "t",
      Seq((1L, 0L)).toDF("node", "t0"), 3)
      .orderBy(col("node")).collect().toSeq
    assert(at(1) === at(7))
  }

  test("tabled regime (bucketed temporal adjacency + per-round dirs) " +
    "is output-identical to the pinned regime") {
    import spark.implicits._
    def tabled(
        edges: Seq[(Long, Long, Long)], seeds: Seq[(Long, Long)],
        maxHops: Int): Map[Long, Long] =
      withGate(1L)(TemporalBfs.earliestArrival(
        edges.toDF("s", "d", "t").repartition(4), "s", "d", "t",
        seeds.toDF("node", "t0"), maxHops))
        .collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("arrival"))
        .toMap
    val rnd = new scala.util.Random(41)
    val edges = Seq.fill(200)((rnd.nextInt(30).toLong,
      rnd.nextInt(30).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
    val seeds = Seq((0L, 5L), (3L, 0L))
    assert(tabled(edges, seeds, 3) === run(edges, seeds, 3))
    // early stop with the label-correcting re-open case staying intact
    val reopen = Seq((1L, 2L, 10L), (2L, 3L, 11L), (4L, 2L, 1L),
      (1L, 4L, 0L))
    assert(tabled(reopen, Seq((1L, 0L)), 4) ===
      run(reopen, Seq((1L, 0L)), 4))
    // radius 0: seeds only
    assert(tabled(reopen, Seq((7L, 9L)), 0) === Map(7L -> 9L))
  }
}
