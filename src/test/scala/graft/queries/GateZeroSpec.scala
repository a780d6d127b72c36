package graft.queries

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import graft.SparkSpec
import graft.core.TempWork

/** The placement gate is a session setting, so it reaches whole
  * registry queries: at gate 0 every placement of a graph or dedup
  * query tables (parquet stages, bucketed tables) instead of pinning,
  * and the sorted answer is the one the default gate gives. q191
  * (triangles) and q139 (incremental MinHash) place through
  * `pinOrStage`, q252 (BFS) through `regime`, q220 (k-core) through
  * both. */
class GateZeroSpec extends SparkSpec {

  /** The query's collected (sorted) answer and the most `graft-*`
    * placement dirs under [[TempWork]] that were live at once while it
    * ran. Tabled state always has one: a stage is a dir, and a bucketed
    * table's files sit in one. Afterwards the pins, `graft_*` tables and
    * scratch the call left are removed. */
  private def placed(name: String): (Seq[Row], Int) = {
    val pinsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val tablesBefore = graftTables
    val scratchBefore = TempWork.snapshot()
    def live(): Int = (TempWork.snapshot() -- scratchBefore)
      .count(_.startsWith("graft-"))
    val samples = new ConcurrentLinkedQueue[Integer]()
    val stop = new AtomicBoolean(false)
    val watch = new Thread(() =>
      while (!stop.get) { samples.add(live()); Thread.sleep(5) })
    watch.setDaemon(true)
    watch.start()
    val rows =
      try Registry.byName(name).run(spark, sf("")).collect().toSeq
      finally { stop.set(true); watch.join() }
    samples.add(live())
    spark.sparkContext.getPersistentRDDs
      .foreach { case (id, r) => if (!pinsBefore(id)) r.unpersist() }
    (graftTables -- tablesBefore)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    TempWork.sweepCreatedSince(scratchBefore)
    (rows, samples.asScala.map(_.intValue).max)
  }

  // q220's 20-core is empty at sf0.001; its peel still places its
  // edge state, tabled at gate 0
  for ((name, empty) <- Seq("q191_triangles" -> false,
      "q139_incremental_neardup" -> false, "q252_bfs_distance" -> false,
      "q220_kcore" -> true))
    test(s"$name: gate 0 tables its state and gives the default gate's " +
      "answer") {
      val (default, pinnedPeak) = placed(name)
      val (tabled, tabledPeak) = withGate(0L)(placed(name))
      info(s"live placement dirs: gate 0 $tabledPeak, default $pinnedPeak")
      assert(default.isEmpty === empty, "fixture answer")
      assert(tabled === default)
      // tabled state stays on disk while later placements land; below
      // the gate a stage is deleted once its pin has landed
      assert(tabledPeak > pinnedPeak)
    }
}
