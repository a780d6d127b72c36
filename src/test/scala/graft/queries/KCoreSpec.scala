package graft.queries

import graft.SparkSpec
import graft.operators.KCore

class KCoreSpec extends SparkSpec {
  import spark.implicits._

  private def nodes(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("path graph peels one layer per round — an under-provisioned " +
    "round bound trips the convergence guard instead of returning a " +
    "supergraph") {
    val path = (0L until 8L).map(i => (i, i + 1)).toDF("s", "t")
    // 9 nodes: endpoints have degree 1, so each round peels exactly the
    // two current endpoints; the 2-core is empty but takes 4 rounds —
    // at rounds 1..3 the edge set is still shrinking and nodes still sit
    // below degree 2, so the guard must refuse the partial peel
    for (r <- 1 to 3) {
      val ex = intercept[IllegalStateException](
        KCore.core(path, "s", "t", k = 2, rounds = r).count())
      assert(ex.getMessage.contains("did not converge"))
      assert(ex.getMessage.contains("SUPERGRAPH"))
    }
    assert(KCore.core(path, "s", "t", k = 2, rounds = 4).count() === 0)
  }

  test("boundedPeel names the partial-peel contract: each round strips " +
    "one fringe layer, never throws, and at convergence equals core") {
    val path = (0L until 8L).map(i => (i, i + 1)).toDF("s", "t")
    // after r rounds the surviving path has 9 − 2r nodes (endpoints peel
    // pairwise); a supergraph of the (empty) 2-core at every r
    for (r <- 1 to 3) {
      val got = KCore.boundedPeel(path, "s", "t", k = 2, rounds = r)
      assert(got.count() === 9 - 2 * r, s"rounds=$r")
    }
    assert(KCore.boundedPeel(path, "s", "t", k = 2, rounds = 4).count() === 0)
    // converged bounded peel ≡ strict core
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("s", "t")
    assert(nodes(KCore.boundedPeel(e, "s", "t", k = 2, rounds = 4)) ===
      nodes(KCore.core(e, "s", "t", k = 2, rounds = 4)))
  }

  test("a bound landing exactly on the fixpoint passes the guard — the " +
    "final-round min-degree certification, not just edge-count equality") {
    // triangle 1-2-3 with pendant 4: rounds=1 drops the pendant and the
    // edge count is still shrinking when the bound exhausts (8 → 6
    // directed edges), but the surviving triangle IS the 2-core — the
    // guard must certify via min degree and return it, not throw
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("s", "t")
    assert(nodes(KCore.core(e, "s", "t", k = 2, rounds = 1)) ===
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // and a graph that empties on the final round converges trivially
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("s", "t")
    assert(KCore.core(star, "s", "t", k = 2, rounds = 1).count() === 0)
  }

  test("clique is its own core at k = size−1; rounds past the fixpoint " +
    "are no-ops") {
    val clique = (for (i <- 0L until 6L; j <- i + 1 until 6L)
      yield (i, j)).toDF("s", "t")
    val once = nodes(KCore.core(clique, "s", "t", k = 5, rounds = 1))
    assert(once === (0L until 6L).map(_ -> 5L).toMap)
    assert(nodes(KCore.core(clique, "s", "t", k = 5, rounds = 8)) === once)
  }

  test("pendant drops, core degrees recompute inside the core; " +
    "direction and duplicate edges are ignored") {
    // triangle 1-2-3 with pendant 4 hanging off 3, edges listed in
    // mixed direction with a duplicate
    val e = Seq((1L, 2L), (3L, 2L), (1L, 3L), (3L, 4L), (2L, 1L))
      .toDF("s", "t")
    val got = nodes(KCore.core(e, "s", "t", k = 2, rounds = 2))
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("guards") {
    val e = Seq((1L, 2L)).toDF("s", "t")
    intercept[IllegalArgumentException](KCore.core(e, "s", "t", 0, 1))
    intercept[IllegalArgumentException](KCore.core(e, "s", "t", 1, 0))
  }

  test("tabled regime ≡ pinned, including a peel that MIGRATES from " +
    "tabled to pinned as the edge set shrinks below the gate") {
    // clique {1..4} + path tail 4-5-6-7: the 2-core is the clique plus
    // node 4's tail edge peeling away — 18 directed edges initially,
    // shrinking by 4 per peeled tail node
    val g = ((for { a <- 1 to 4; b <- 1 to 4 if a < b }
        yield (a.toLong, b.toLong)) ++
      Seq((4L, 5L), (5L, 6L), (6L, 7L))).toDF("s", "t")
    val pinned = nodes(KCore.core(g, "s", "t", k = 2, rounds = 8))
    assert(pinned === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // gate 1: every round tabled (bucketed round tables all the way)
    assert(withGate(1L)(nodes(KCore.core(g, "s", "t", 2, 8))) === pinned)
    // gate 15: initial state (18 directed) and round 1 are tabled, the
    // shrunken rounds (14, then 12) re-place as pins — the migration
    assert(withGate(15L)(nodes(KCore.core(g, "s", "t", 2, 8))) === pinned)
    // boundedPeel under the gate behaves identically too
    val path = (0L until 8L).map(i => (i, i + 1)).toDF("s", "t")
    for (r <- 1 to 3)
      assert(withGate(1L)(KCore.boundedPeel(path, "s", "t", 2, r))
        .count() === 9 - 2 * r, s"rounds=$r")
  }
}
