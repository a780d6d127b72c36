package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.StateTable

/** k-core decomposition by synchronized peeling — the standard graph
  * filter for "dense enough to trust" regions: drop every node whose
  * degree is below k, which lowers neighbors' degrees, and repeat. The
  * k-core is the fixpoint: the maximal subgraph where every node keeps
  * ≥ k neighbors. In this engine's context it grades the dedup/
  * similarity pair graphs the way [[Triangles]] does (a near-dup
  * cluster that survives a high k is a real community; a chain of
  * borderline matches peels away), and it is the classic spam/authority
  * prefilter before [[MassRank]]-style propagation.
  *
  * `rounds` is an EXPLICIT bound, not an open-ended driver loop: each
  * round is one degree aggregate plus two semi-joins, all replayable,
  * so a fixed round count makes the whole decomposition SQL-unrollable
  * (q220 oracles it round-for-round) and bounds the job graph. Peeling
  * converges in at most O(peel depth) rounds — on real graphs a handful
  * (the synthetic fixtures reach fixpoint in 2; a path graph peels one
  * layer per round, the worst case KCoreSpec pins).
  *
  * CONVERGENCE IS VERIFIED, never assumed: the peel stops early at the
  * fixpoint (the surviving-edge count is already in hand — each round's
  * frame is pinned — so the check is one cheap count), and if `rounds`
  * is exhausted while the edge set is still shrinking, [[core]] checks
  * whether the final round happened to land exactly on the fixpoint
  * (min degree ≥ k) and THROWS if it did not. An under-provisioned
  * `rounds` used to return a supergraph of the k-core silently — the
  * same silently-wrong-knob class as a degenerate fuzzy-join gram size,
  * which [[FuzzyJoin.selectQ]] closes by measuring; here the measurement
  * is the fixpoint itself.
  *
  * Scale shape (100 TB): per round ONE map-side-combinable degree
  * aggregate and TWO semi-joins of the edge list against the (smaller)
  * surviving-node set — the q145 propagation shape. Round state
  * materializes each round so lineage stays flat, with SIZE-GATED
  * placement ([[graft.core.StateTable]]): small rounds block-pin,
  * corpus-sized rounds live as `a`-bucketed parquet tables (a
  * corpus-sized pin is a cluster-storage budget with an unrecoverable
  * failure mode — the round-12 finding), and a shrinking peel migrates
  * from tabled to pinned as it crosses the gate.
  */
object KCore {

  /** The k-core's `(node, core_degree)` rows over the undirected simple
    * graph of `edges` (direction ignored, self-loops and duplicates
    * dropped). Empty when the k-core is empty. Peels until the fixpoint,
    * stopping early when a round drops no edge; throws
    * IllegalStateException when `rounds` is exhausted while the edge set
    * is still shrinking AND the final frame is not yet the fixpoint —
    * a partial peel is a supergraph of the k-core, never returned.
    *
    * BEHAVIOR CHANGE (round 8): before, an exhausted `rounds` returned
    * the partial peel silently. Callers that deliberately want the
    * bounded-peel semantics — "strip the obviously-low-degree fringe in
    * at most N passes", a legitimate preprocessing step — should call
    * [[boundedPeel]], which names that contract instead of overloading
    * this one with a flag. */
  def core(
      edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int = 4): DataFrame =
    peel(edges, srcCol, dstCol, k, rounds, strict = true)

  /** The bounded-peel variant: up to `rounds` degree-threshold passes,
    * returning whatever survives — by construction a SUPERGRAPH of the
    * k-core (possibly the k-core itself if the peel converged). The
    * legitimate use is fringe-stripping before a heavier graph stage;
    * anything that needs the actual k-core must call [[core]], which
    * certifies the fixpoint and throws rather than under-deliver. */
  def boundedPeel(
      edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int = 4): DataFrame =
    peel(edges, srcCol, dstCol, k, rounds, strict = false)

  private def peel(
      edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int, strict: Boolean): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 64,
      s"rounds must be in [1,64], got $rounds")
    val spark = edges.sparkSession
    val und = edges.filter(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()
    // Round state is corpus-proportional (the directed edge set), so
    // every round's placement is SIZE-GATED (StateTable scaladoc — the
    // round-12 pin-class finding: a corpus-sized block pin is a
    // cluster-storage budget with an unrecoverable failure mode), and
    // each round makes it with StateTable.regime. Below the gate:
    // block-pin laid out on the peel key. At or above: an `a`-bucketed
    // parquet table, so round R+1's degree aggregate and first
    // semi-join still read an exchange-free, key-laid-out scan side —
    // disk-backed parity with the pinned layout. The edge set only
    // shrinks, so a peel that starts tabled MIGRATES to pinned once it
    // fits; the regimes are output-identical (KCoreSpec pins them
    // against each other).
    var e = StateTable.pinOrStage(
      und.unionByName(und.select(col("b").as("a"), col("a").as("b"))),
      Seq(col("a")), "kcore")
    // every round's edge count is its placement's own measurement (the
    // pin or table write counts what it lands); edge count unchanged ⟺
    // the round's keep filter dropped nobody ⟺ fixpoint (0 edges is
    // trivially one too)
    var prev = e.rows
    var converged = prev == 0L
    var r = 0
    while (r < rounds && !converged) {
      // the gate is re-checked every round from the observed prev, and
      // the surviving edge set is bounded by prev — that measured width
      // keeps round-R+1 blocks/buckets re-read-sized with no extra count
      val regime = StateTable.regime(spark, prev)
      val keepBase = e.df.groupBy(col("a")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k).select(col("a"))
      // keep is consumed by both endpoint semi-joins: below the gate it
      // pins (node-sized, the old form); above, it stays LAZY — two
      // aggregate passes over the bucketed scan (exchange-free from
      // round 2 on) instead of one more executor-storage pin
      val keep =
        if (regime.tabled) keepBase
        else keepBase.transform(StateTable.pin)
      val survivors = e.df.join(keep, Seq("a"), "left_semi")
        .join(keep.select(col("a").as("b")), Seq("b"), "left_semi")
      val next = regime.laidOut(survivors, "a", "kcore_round")
      val c = next.rows
      // next is materialized (pin or table) — the superseded round
      // state releases NOW instead of accumulating one edge copy per
      // round (StateTable.unpin scaladoc: the q220 100× execution
      // starvation; same discipline for superseded tables on disk)
      e.release()
      StateTable.unpin(keep)
      e = next
      converged = c == prev || c == 0L
      prev = c
      r += 1
    }
    if (!converged && strict) {
      // the last permitted round still shrank the edge set; it may have
      // landed exactly on the fixpoint — certify with one min-degree
      // check (the fixpoint condition itself) before deciding
      val violating = e.df.groupBy(col("a")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") < k).limit(1).count()
      if (violating > 0L)
        throw new IllegalStateException(
          s"k-core peel did not converge within $rounds rounds " +
            s"($prev directed edges survive, some node still below " +
            s"degree $k): the partial result would be a SUPERGRAPH of " +
            "the k-core, not the k-core — raise rounds (peel depth is " +
            "bounded by the longest chain the threshold unravels)")
    }
    e.df.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("core_degree"))
  }
}
