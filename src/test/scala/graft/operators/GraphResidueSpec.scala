package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.StateTable

/** The round-loop graph operators leave the session as they found it,
  * in both placement regimes: no `graft_*` catalog table survives a
  * call, and the only pins left are the ones the returned frame reads. */
class GraphResidueSpec extends SparkSpec {
  import spark.implicits._

  private val edges = Seq((1L, 2L, 3L), (2L, 3L, 5L), (3L, 4L, 4L),
    (4L, 5L, 9L), (2L, 6L, 1L), (10L, 11L, 2L)).toDF("s", "d", "t")

  private def graftTables: Set[String] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_")).toSet

  private def calls(gate: Long): Seq[(String, () => DataFrame)] = Seq(
    "Bfs" -> (() => Bfs.distances(edges, "s", "d",
      Seq(1L).toDF("node"), 3, tableStateRows = gate)),
    "TemporalBfs" -> (() => TemporalBfs.earliestArrival(edges, "s", "d",
      "t", Seq((1L, 0L)).toDF("node", "t0"), 3, tableStateRows = gate)),
    "LabelPropagation" -> (() => LabelPropagation.communities(edges, "s",
      "d", 2, tableStateRows = gate)),
    "RandomWalks" -> (() => RandomWalks.walks(edges, "s", "d", 2, 3,
      tableStateRows = gate)))

  for ((regime, gate) <- Seq(
      "pinned" -> StateTable.DefaultGateRows, "tabled" -> 1L))
    test(s"$regime regime: each operator leaves no catalog table and only " +
      "the pins its answer reads") {
      calls(gate).foreach { case (name, call) =>
        val tables = graftTables
        val (out, left, read) = pinsLeft(call())
        assert(graftTables === tables, name)
        assert(left === read, name)
        assert(read.isEmpty === (gate == 1L), name)
        // and the answer is still readable once the call has cleaned up
        assert(out.count() > 0L, name)
      }
    }
}
