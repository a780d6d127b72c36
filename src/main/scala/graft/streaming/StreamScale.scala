package graft.streaming

/** Width for the STATEFUL stages of a replayed micro-batch stream,
  * derived from the measured staged-input volume instead of the
  * session's core-count width.
  *
  * Why this is a data knob, not a core knob (guide §2: make
  * partitioning scale-adaptive): every stateful streaming operator —
  * windowed aggregate, stream-stream join, `transformWithState` —
  * instantiates ONE state store per shuffle partition and pays one
  * commit (delta/changelog file + filesystem sync class of work) per
  * store per micro-batch, and a stream-stream join keeps FOUR stores
  * per partition. At the session width (32 locally) that is
  * 32 × stores × batches filesystem commits regardless of how few rows
  * flow; measured on the round-13 box (~21 ms per synchronous write,
  * OPTIMIZATION_r13.md) the commit storm IS the runtime of every
  * replayed stateful oracle. Sizing the width from measured rows keeps
  * per-task state bounded at scale — 100× replays land at the same
  * ~rows/500k width they ran at before this change — while the
  * fixed commit overhead collapses at small volume: state-store
  * instances should track state volume, never idle cores.
  *
  * The session width stays in force for the surrounding BATCH stages
  * (staging writes, final sorts): callers scope this width with
  * [[graft.core.ScopedConf.withShufflePartitions]] around exactly the
  * streaming `start()…awaitTermination()` — a streaming query captures
  * `spark.sql.shuffle.partitions` at query start, so the scope's
  * action rule holds.
  */
object StreamScale {

  /** ceil(rows / 500k), clamped to [1, 4096] — deliberately NO
    * session-width floor (unlike StateTable.measuredWidth): a batch
    * stage wants the cores busy, a state store wants to exist only
    * where state lives. */
  def width(rows: Long): Int =
    math.max(1L, math.min(4096L, (rows + 499999L) / 500000L)).toInt
}
