package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lineage-truncating materialization for multiply-consumed frames.
  *
  * Plain `df.localCheckpoint()` stores blocks DESERIALIZED
  * (MEMORY_AND_DISK_DESER) — row objects, 3-5× the footprint of the
  * serialized columnar form; Pin uses MEMORY_AND_DISK_SER instead.
  * Under a production-sized executor heap
  * that difference is the line between spilling and OOM: the 4 GiB
  * constrained-heap probe (SCALE.md round 7) showed checkpoint-heavy
  * iterative operators dying in storage memory that the SERIALIZED
  * level survives. Every multiply-consumed pin in the engine goes
  * through here so the storage level is one decision, not 37.
  *
  * MEMORY_AND_DISK_SER: serialized in memory while it fits, spilled to
  * local disk when it does not — never a correctness cliff, and the
  * deserialization cost on re-read is dwarfed by the recompute the pin
  * avoids. (On a real cluster, frames feeding many downstream JOBS
  * would use reliable checkpoints; local pins are per-session.)
  */
object Pin {
  def apply(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK_SER)

  /** Drop a pinned frame's checkpoint blocks. ONLY for frames every
    * consumer is finished with — an iterative operator's round-R state
    * once round R+1 has MATERIALIZED (the new pin's lineage is
    * truncated, so it no longer references the old blocks). Without
    * this, a peeling/propagation loop accumulates one superseded edge
    * copy per round in the PROTECTED storage region and execution
    * memory starves long before a genuine OOM
    * (UNABLE_TO_ACQUIRE_MEMORY "got 0" — the q220 100× failure, the
    * same mechanism as round 9's ProbeOne warmup-pin finding). No-op
    * for frames that did not come from [[apply]]. */
  def unpin(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: org.apache.spark.sql.execution.LogicalRDD =>
      l.rdd.unpersist(blocking = false)
    case _ => ()
  }
}
