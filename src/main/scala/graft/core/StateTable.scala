package graft.core

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.storage.StorageLevel

/** The engine's one placement module. Callers see gates, not
  * mechanisms: [[pin]]/[[unpin]] for small multiply-consumed frames,
  * [[pinOrStage]] for one size-gated placement, and [[regime]] for a
  * round loop's pinned-or-tabled state. Both gates compare state rows
  * against ONE deployment setting, the session conf [[GateRowsKey]]
  * (default [[DefaultGateRows]]; 0 tables every placement), read in one
  * place ([[gateRows]]) — never a per-call parameter.
  *
  * Why placement is a GATE and not a constant: a corpus-sized block pin
  * ([[pin]]) is a CLUSTER-STORAGE budget with a hard failure mode — the
  * round-12 100× probe under 2×4 GiB real executors died writing a
  * ~2 GiB-per-executor adjacency cache (storage at its cap, heap OOM,
  * executor death), and localCheckpoint blocks have no lineage, so the
  * death aborts the job unrecoverably
  * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND; SCALE.md round 12). Below the
  * gate, pinning is strictly faster (zero disk round-trips, zero write
  * jobs) and the state is bounded, so small inputs keep it. At or above
  * the gate, state moves to local-disk parquet: re-reads stream through
  * the vectorized scan, executor storage holds NOTHING corpus-sized,
  * and an executor loss costs a task retry, not the job. Measured:
  * q210's tabled form ran 288.5 s green on the exact 4 GiB tier that
  * OOMed its pinned form (zero executor deaths).
  *
  * Two disk shapes behind the gates, matching what the consumer needs:
  *   - [[bucketedAtWidth]] — a hash-bucketed, bucket-sorted catalog
  *     table, for state an iterative operator re-JOINS or re-GROUPS on
  *     the bucket key every round (adjacency lists, peel state): every
  *     key-aligned consumer gets an exchange-free, sort-free scan side.
  *     The pinned form's `repartition(width, key)` layout bounds each
  *     pinned block but is not visible to the planner under AQE (the
  *     pin reports `UnknownPartitioning(0)`), so round joins still
  *     re-shuffle the pinned side; ROADMAP direction 1.
  *   - [[stageAt]] — a plain parquet dir with 16 MB row groups, for
  *     state whose consumers shuffle on non-layout keys anyway
  *     (candidate pairs, frontier steps, canonical edge sets): bucketing
  *     would buy no exchange, so it skips the catalog entirely.
  *     [[pinOrStage]] gates between it and a pin by the staged rows.
  *
  * Row counts: every placement here counts its rows in the job that
  * materializes it — a `Dataset.observe` count directly under the
  * parquet write, the eager pin or the bucketed `saveAsTable`
  * ([[counted]]) — so `Placed.rows` costs no job of its own and never
  * re-reads what was just written. The observe node sits below the
  * sink and above any repartition, i.e. in the job's result stage,
  * where Spark merges each partition's accumulator update exactly once
  * even when a task is retried.
  *
  * Paths live under [[TempWork]] — on a real cluster that root is the
  * orchestrator-owned distributed workDir (TempWork's caveat); catalog
  * names are qualified by the Spark application id, so a persistent
  * metastore shared by concurrent or successive sessions cannot collide
  * (a per-JVM counter alone would silently DROP a prior session's
  * registration of the same name).
  */
object StateTable {

  /** Default placement gate, in measured (or upper-bound) state rows —
    * the RandomWalks constant: 16M adjacency rows is ~the point where
    * the pinned working set starts to rival a production executor's
    * storage share. */
  val DefaultGateRows: Long = 16L * 1000 * 1000

  /** The session conf holding the placement gate, a non-negative row
    * count (OPERATIONS.md §4a sizes it for a cluster). Spark copies
    * `-Dspark.*` system properties into the session conf, so one JVM
    * flag sets it for a whole main; 0 forces the tabled regime
    * everywhere. */
  val GateRowsKey = "spark.graft.stateTable.gateRows"

  /** The session's placement gate: [[GateRowsKey]], else
    * [[DefaultGateRows]]. */
  private def gateRows(spark: SparkSession): Long = {
    val raw = spark.conf.get(GateRowsKey, DefaultGateRows.toString)
    raw.trim.toLongOption.filter(_ >= 0L).getOrElse(
      throw new IllegalArgumentException(
        s"$GateRowsKey must be a non-negative row count, got '$raw'"))
  }

  /** Lineage-truncating materialization for multiply-consumed frames.
    *
    * Plain `df.localCheckpoint()` stores blocks DESERIALIZED
    * (MEMORY_AND_DISK_DESER) — row objects, 3-5× the footprint of the
    * serialized columnar form; `pin` uses MEMORY_AND_DISK_SER instead.
    * Under a production-sized executor heap that difference is the line
    * between spilling and OOM: the 4 GiB constrained-heap probe (SCALE.md
    * round 7) showed checkpoint-heavy iterative operators dying in
    * storage memory that the SERIALIZED level survives. Every
    * multiply-consumed pin in the engine goes through here so the storage
    * level is one decision, not 37.
    *
    * MEMORY_AND_DISK_SER: serialized in memory while it fits, spilled to
    * local disk when it does not — never a correctness cliff, and the
    * deserialization cost on re-read is dwarfed by the recompute the pin
    * avoids. (On a real cluster, frames feeding many downstream JOBS
    * would use reliable checkpoints; local pins are per-session.)
    *
    * No row count is observed: the pin costs its one eager job and
    * nothing else. Corpus-sized state goes through [[pinOrStage]] or
    * [[regime]] instead. */
  def pin(df: DataFrame): DataFrame =
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
    * for frames that did not come from [[pin]]. */
  def unpin(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: org.apache.spark.sql.execution.LogicalRDD =>
      l.rdd.unpersist(blocking = false)
    case _ => ()
  }

  private val seq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Session-unique catalog name: application id + per-JVM sequence. */
  private def tableName(spark: SparkSession, prefix: String): String = {
    val app = spark.sparkContext.applicationId
      .replaceAll("[^A-Za-z0-9]", "_")
    s"graft_${prefix}_${app}_${seq.getAndIncrement()}"
  }

  /** ceil(rows / rowsPerTask), clamped to [session width, 4096] — the
    * engine's measured-width formula (bounds every task's frame by
    * rowsPerTask regardless of input size; the clamp keeps arbitrarily
    * large inputs from turning every pass into tens of thousands of
    * tasks). */
  def measuredWidth(
      spark: SparkSession, rows: Long, rowsPerTask: Long = 500000L): Int =
    math.max(
      spark.sessionState.conf.numShufflePartitions,
      math.min(4096L, (rows + rowsPerTask - 1) / rowsPerTask).toInt)

  /** Materialize `df` as a hash-bucketed, bucket-sorted parquet table on
    * `keys` with `width` buckets (a caller-measured count). The
    * pre-repartition on the bucket keys at the bucket count aligns
    * writer tasks with buckets (one file per bucket, not one per
    * task×bucket). `release()` drops the catalog entry and deletes the
    * files — eagerly for superseded round state (the [[unpin]]
    * discipline, applied to catalog entries: without it a long session
    * accumulates one catalog registration + parquet tree per
    * invocation). */
  private[core] def bucketedAtWidth(
      df: DataFrame, keys: Seq[String], width: Int,
      prefix: String): Placed = {
    val spark = df.sparkSession
    val path = TempWork.dir(s"graft-$prefix")
    val tbl = tableName(spark, prefix)
    val (_, n) = ScopedConf.withShufflePartitions(spark, width) {
      counted(df.repartition(width, keys.map(col): _*))(
        Bucketing.writeBucketed(_, s"$path/t", tbl, width, keys))
    }
    Placed(Bucketing.read(spark, tbl), () => {
      spark.sql(s"DROP TABLE IF EXISTS ${Bucketing.quoted(tbl)}")
      TempWork.delete(path)
    }, n)
  }

  /** A placed state frame, its release, and its row count — exact,
    * counted by the job that materialized the placement (see
    * [[counted]]), so callers that need the cardinality for width
    * formulas read it from here instead of launching a count job.
    * `release()` only when every consumer is finished: it unpins the
    * pinned form or deletes the staged tree — either way the
    * blocks/files are gone, so a released frame must never be scanned
    * again. */
  final case class Placed(df: DataFrame, release: () => Unit, rows: Long)

  /** The size-gated placement primitive, ONE plan execution total:
    * land `df` to a parquet stage, counting its rows in the write job,
    * then place — below the session's [[gateRows]], re-pin from the
    * stage at the measured width on `keys` and delete the stage
    * (executor storage, fastest re-reads — [[pinAt]]); at or above, keep
    * the staged scan (local disk; executor storage holds nothing).
    *
    * Why stage-first instead of count-then-decide: a count job would
    * execute `df`'s plan once EXTRA (for a pair-join-derived edge set,
    * that doubles the dominant upstream join); staging executes it
    * exactly once. The stage write runs under a generous fixed
    * over-width: the row count that would size it exists only after
    * the write, and a session-width write of a 100M-row frame is a
    * per-task memory cliff; small frames pay only small extra tasks,
    * and AQE re-fuses small volumes back down, which is safe here
    * because the stage is never pinned.
    *
    * `upperBoundRows` ≥ 0 short-circuits the stage round-trip when a
    * caller can PROVE the frame small from what it already holds (an
    * exact count of a 1:1 image of the frame): below the gate by proof,
    * the frame pins directly at the bound's measured width — one
    * exchange, one pin, no disk round-trip (VERDICT r13: the stage
    * write+read is the placement's whole cost on a sync-slow volume,
    * and it buys nothing when the answer is known to be "pin"). The
    * bound must be SOUND — an under-estimate would block-pin a
    * corpus-sized frame, the exact 4 GiB-tier OOM class the gate exists
    * for — so callers pass it only when it is a true upper bound. At or
    * above the gate the bound is ignored and the staging path runs
    * unchanged. */
  def pinOrStage(
      df: DataFrame, keys: Seq[org.apache.spark.sql.Column],
      prefix: String, upperBoundRows: Long = -1L): Placed = {
    val spark = df.sparkSession
    val gate = gateRows(spark)
    // width from the bound: true rows ≤ bound < gate, so per-task frames
    // stay bounded; below the gate the measured width is the session
    // width anyway (gate / 500k rows per task ≈ session cores), so a
    // loose-but-sound bound cannot over- or under-width the pin
    if (upperBoundRows >= 0 && upperBoundRows < gate)
      return pinAt(df, keys, measuredWidth(spark, upperBoundRows))
    val first = math.max(
      spark.sessionState.conf.numShufflePartitions * 16, 256)
    val stage = ScopedConf.withShufflePartitions(spark, first) {
      staged(df, prefix)
    }
    if (stage.rows < gate) {
      val p = pinAt(stage.df, keys, measuredWidth(spark, stage.rows))
      // the pin is eager and lineage-truncated — the stage has no reader
      stage.release()
      p
    } else stage
  }

  /** [[pin]] `df` repartitioned to `width` on `keys` (empty = round-robin),
    * counting its rows in the pin's own job. The explicit repartition
    * is what bounds the pinned blocks: a user-specified repartition is
    * exempt from AQE coalescing, and on RE-READ of a disk-spilled block
    * BlockManager re-caches the whole partition as ONE ByteBuffer
    * allocation — the q191 100× failure was 32 session-width blocks of
    * 100+ MB re-cached concurrently under memory pressure, a heap OOM no
    * spill can save. */
  private[core] def pinAt(
      df: DataFrame, keys: Seq[org.apache.spark.sql.Column],
      width: Int): Placed =
    pinned(
      if (keys.isEmpty) df.repartition(width)
      else df.repartition(width, keys: _*))

  /** Where one call of an iterative graph operator ([[graft.operators.Bfs]],
    * [[graft.operators.TemporalBfs]], [[graft.operators.LabelPropagation]],
    * [[graft.operators.RandomWalks]]) keeps its state, chosen by
    * [[regime]] — once per call, or once per round for
    * [[graft.operators.KCore]], whose shrinking peel migrates from tabled
    * to pinned as it crosses the gate. Both calls return a [[Placed]],
    * so the operator runs one round loop whatever the regime and
    * releases superseded state with `release()`. Pinned (below the
    * gate), every placement block-pins; tabled, the join side is a
    * bucketed table and each round its own parquet dir, so executor
    * storage holds nothing corpus-sized. The regimes are
    * output-identical (each operator's spec pins them against each
    * other). `width` is the join side's partition or
    * bucket count and the shuffle width every round runs at. */
  final case class Regime(tabled: Boolean, width: Int) {

    /** The join side an operator re-reads every round, laid out on
      * `key`. Pinned: hash-partitioned at `width` and sorted within
      * partitions before the pin, so every pinned block is bounded.
      * Tabled: the bucket-sorted [[bucketedAtWidth]] table, whose scans
      * are exchange-free on `key`. */
    def laidOut(df: DataFrame, key: String, prefix: String): Placed =
      if (tabled) bucketedAtWidth(df, Seq(key), width, prefix)
      else ScopedConf.withShufflePartitions(df.sparkSession, width) {
        pinned(df.repartition(width, col(key)).sortWithinPartitions(col(key)))
      }

    /** One round's state, materialized at `width` (the placement is an
      * action, so the scoped width is sound — [[ScopedConf]]): pinned,
      * a [[pin]]; tabled, a parquet dir of its own that `release()`
      * deletes. Either way the result is lineage-truncated, so the
      * previous round's placement can be released once this returns. */
    def round(df: DataFrame, prefix: String): Placed =
      ScopedConf.withShufflePartitions(df.sparkSession, width) {
        if (tabled) staged(df, prefix) else pinned(df)
      }
  }

  /** The regime for a call whose state is bounded by `rows`: tabled at
    * or above the session's [[gateRows]], at the [[measuredWidth]] of
    * `rows` either way. Callers pass an upper bound (a pre-distinct or
    * 2× count): an over-estimate tables early and widens the exchanges
    * — slower, never wrong. */
  def regime(spark: SparkSession, rows: Long): Regime =
    Regime(rows >= gateRows(spark), measuredWidth(spark, rows))

  /** `df` pinned as is, its rows counted by the pin's own job. */
  private def pinned(df: DataFrame): Placed = {
    val (p, n) = counted(df)(pin)
    Placed(p, () => unpin(p), n)
  }

  /** `df` landed by [[stageAt]] in a fresh [[TempWork]] dir that
    * `release()` deletes, its rows counted by the write job. */
  private def staged(df: DataFrame, prefix: String): Placed = {
    val dir = TempWork.dir(s"graft-$prefix")
    val (scan, n) = counted(df)(stageAt(_, s"$dir/s"))
    Placed(scan, () => TempWork.delete(dir), n)
  }

  /** Land `df` as plain parquet (16 MB row groups — OPERATIONS.md §2:
    * re-read state keeps reader buffers small) at a caller-managed path
    * and return the schema'd scan (schema'd: a file-less dir — an empty
    * frontier step, a candidate-free batch — must read back as an empty
    * frame, not error; the PairState empty-segment lesson). For
    * per-round/per-hop dirs whose lifecycle the operator owns (write hop
    * t, delete hop t−1). */
  private[core] def stageAt(df: DataFrame, path: String): DataFrame = {
    df.write.option("parquet.block.size", 16L * 1024 * 1024).parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** Run `sink` — an action that materializes its argument: a parquet
    * write, an eager pin, a bucketed `saveAsTable` — over `df` with a
    * row count observed in the same job, and return the sink's result
    * with the count. The observe node sits directly under the sink, so
    * callers put any `repartition` into `df`: that keeps the node in
    * the job's RESULT stage, where Spark applies a task's accumulator
    * updates once per partition even when the task is retried (a
    * shuffle-map stage can re-run and count twice). The count is read
    * only after the sink has returned. */
  private def counted[T](df: DataFrame)(sink: DataFrame => T): (T, Long) = {
    val o = new Observation()
    val out = sink(df.observe(o, count(lit(1)).as("rows")))
    (out, o.get("rows").asInstanceOf[Long])
  }
}
