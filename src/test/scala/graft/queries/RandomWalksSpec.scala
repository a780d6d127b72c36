package graft.queries

import graft.SparkSpec
import graft.operators.RandomWalks

class RandomWalksSpec extends SparkSpec {
  import spark.implicits._

  private val edges = Seq(
    (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L),
    (1L, 3L), (3L, 1L)).toDF("a", "b")

  test("every step follows an edge; walks have full length; " +
    "two runs are identical") {
    val w1 = RandomWalks.walks(edges, "a", "b", walksPerNode = 2,
      length = 5)
    val rows = w1.as[(Long, Long, Long)].collect()
    val edgeSet = Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L),
      (4L, 3L), (1L, 3L), (3L, 1L))
    val byWalk = rows.groupBy(_._1).view.mapValues(
      _.sortBy(_._2).map(_._3).toList).toMap
    // 4 nodes × 2 walks, each 6 positions (step 0..5), all steps edges
    assert(byWalk.size == 8)
    byWalk.values.foreach { path =>
      assert(path.size == 6)
      path.sliding(2).foreach { case List(u, v) =>
        assert(edgeSet((u, v)), s"($u,$v) not an edge in $path")
      }
    }
    val w2 = RandomWalks.walks(edges, "a", "b", 2, 5)
      .as[(Long, Long, Long)].collect()
    assert(rows.toSet == w2.toSet)
  }

  test("64-bit node ids beyond 2^31 walk without overflow (ANSI-safe mix)") {
    val big = 5000000000L // > 2^31: unreduced node*2654435761 overflows int64
    val bigEdges = Seq((big, big + 1L), (big + 1L, big),
      (big, big + 2L), (big + 2L, big)).toDF("a", "b")
    val w = RandomWalks.walks(bigEdges, "a", "b", walksPerNode = 2,
      length = 6).as[(Long, Long, Long)].collect()
    // 3 nodes × 2 walks, 7 positions each, every step a real edge
    assert(w.length == 3 * 2 * 7)
    val edgeSet = Set((big, big + 1L), (big + 1L, big), (big, big + 2L),
      (big + 2L, big))
    w.groupBy(_._1).values.foreach { path =>
      path.sortBy(_._2).map(_._3).toList.sliding(2).foreach {
        case List(u, v) => assert(edgeSet((u, v)))
        case _          => ()
      }
    }
  }

  test("tabled regime (bucketed adjacency + per-step dirs) is " +
    "output-identical to the pinned regime") {
    // gate 1 forces the tabled path on the tiny graph
    val pinned = RandomWalks.walks(edges, "a", "b", walksPerNode = 2,
      length = 5).as[(Long, Long, Long)].collect().toSet
    val tabled = withGate(1L)(RandomWalks.walks(edges, "a", "b",
      walksPerNode = 2, length = 5)).as[(Long, Long, Long)]
      .collect().toSet
    assert(tabled == pinned)
    // and with dangling walks: empty step dirs must stay readable
    val dag = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val p2 = RandomWalks.walks(dag, "a", "b", 1, 4)
      .as[(Long, Long, Long)].collect().toSet
    val t2 = withGate(1L)(RandomWalks.walks(dag, "a", "b", 1, 4))
      .as[(Long, Long, Long)].collect().toSet
    assert(t2 == p2)
  }

  test("dangling nodes end their walks early instead of erroring") {
    val dag = Seq((1L, 2L), (2L, 3L)).toDF("a", "b") // 3 has no out-edge
    val w = RandomWalks.walks(dag, "a", "b", 1, 4)
      .as[(Long, Long, Long)].collect()
    val byWalk = w.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    // start nodes are only 1 and 2 (nodes with out-edges); walk from 1
    // reaches 3 and stops (steps 0,1,2), walk from 2 stops at step 1
    assert(byWalk.keySet.size == 2)
    assert(w.count(_._1 == 1L) == 3)
    assert(w.count(_._1 == 2L) == 2)
  }

  test("skip-gram pairs respect the window and count multiplicity") {
    val walkDf = Seq((7L, 0L, 10L), (7L, 1L, 20L), (7L, 2L, 30L),
      (7L, 3L, 10L)).toDF("walk_id", "step", "node")
    val pairs = RandomWalks.skipGramPairs(walkDf, window = 1)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // adjacent only: (10,20),(20,10),(20,30),(30,20),(30,10),(10,30)
    assert(pairs == Map((10L, 20L) -> 1L, (20L, 10L) -> 1L,
      (20L, 30L) -> 1L, (30L, 20L) -> 1L, (30L, 10L) -> 1L,
      (10L, 30L) -> 1L))
    val wide = RandomWalks.skipGramPairs(walkDf, window = 3)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // step0:10 ↔ step3:10 adds the self-pair (10,10) at distance 3
    assert(wide((10L, 10L)) == 2L) // both directions
  }
}
