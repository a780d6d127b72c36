package graft.core

import org.apache.spark.sql.SparkSession

/** Scoped session-conf overrides for operators that must size their
  * OWN parallelism from measured data volume instead of inheriting the
  * session's `spark.sql.shuffle.partitions` (a fixed session width is
  * the per-task memory cliff: a 30M-row sort-merge join at width 4 is
  * a 7.5M-row sort frame per task — the q229 OOM at the 4 GiB
  * production share).
  *
  * Scoping is sound when the body ENDS IN AN ACTION (the engine's
  * per-round [[StateTable.pin]] is one): exchanges take their width at plan time,
  * the eager localCheckpoint materializes under the override, and the
  * restored conf cannot re-plan what is already checkpointed. Same
  * discipline as the events-read legacy flag (core/Tables.scala) —
  * scope the override to the operation that needs it, never the
  * session.
  *
  * CAVEAT — AQE coalescing can defeat the width for PINNED frames: a
  * groupBy/join shuffle sized here is still fair game for
  * CoalesceShufflePartitions, which re-fuses partitions toward the
  * 64 MB advisory target, and the pin then stores those re-fused
  * (possibly 100+ MB) blocks — the giant-block re-read hazard
  * StateTable.pinAt documents (measured: PairState.compact at 30×, 190
  * requested → ~32 × 195 MB pinned). When the body's result is pinned
  * and the carried volume is large, put the width on an EXPLICIT
  * `repartition(width, groupKeys…)` instead — user-specified
  * repartitions are exempt from AQE coalescing and satisfy the
  * aggregate's required distribution with no second exchange. This
  * scope remains right for widths protecting UNPINNED per-round
  * working sets (sort/join frames), where AQE's re-fuse is the
  * desired behavior at small volumes.
  */
object ScopedConf {

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to
    * `n`, restoring the previous value afterwards. */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }
}
