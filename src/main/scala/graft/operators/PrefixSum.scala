package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Distributed global prefix sum — a running total in a TOTAL order
  * over the whole dataset, without the single-partition window Spark
  * plans for `Window.orderBy(...)` with no partitionBy (the classic
  * scale cliff: one task sorts and scans everything).
  *
  * The two-pass shape every shared-nothing engine uses:
  *
  *  1. `repartitionByRange` on the order key — each partition holds a
  *     contiguous key range, sorted EXCHANGE-locally, all partitions in
  *     parallel;
  *  2. a per-partition running sum via `Window.partitionBy(pid)
  *     .orderBy(key)` — parallel across partitions;
  *  3. per-partition TOTALS (one tiny aggregate, rows = #partitions)
  *     cumulated on the driver into per-partition OFFSETS and joined
  *     back by broadcast.
  *
  * The result equals the single-partition window bit-for-bit (spec:
  * differential vs `Window.orderBy`) while the critical path is one
  * range exchange + parallel sorts — the 100 TB shape. Total order
  * must be STRICT (pass a tie-breaking key) — a range boundary may
  * split equal keys across partitions, which is only sound when no two
  * rows compare equal.
  *
  * This is the primitive under event sweeps (peak concurrency, q190),
  * exact quota fills over a global ranking (SourceMix does it per
  * shard), and gapless dense ids (Als.denseIds uses zipWithIndex — same
  * economics, RDD-side).
  */
object PrefixSum {

  /** `df` plus `out` = running sum of `valueCol` in the total order of
    * `orderCols` (must be strict — include a unique tiebreak column).
    *
    * @param partitions range-partition count; at scale size so each
    *                   partition's rows fit a task comfortably.
    */
  def runningTotal(
      df: DataFrame, orderCols: Seq[Column], valueCol: Column,
      out: String, partitions: Int = 32): DataFrame =
    runningTotals(df, orderCols, Seq(valueCol -> out), partitions)

  /** Several running totals over the SAME total order in one pass —
    * one range exchange, one pin, one partition-local window shared by
    * every value column (the two-sample shapes: cumulative counts of
    * both KS samples, cumulative value + cumulative count for a
    * running mean). Each `(valueCol, out)` pair adds an output column.
    */
  def runningTotals(
      df: DataFrame, orderCols: Seq[Column],
      valueCols: Seq[(Column, String)],
      partitions: Int = 32): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    require(valueCols.nonEmpty, "valueCols must be non-empty")
    require(partitions >= 1, s"partitions must be >= 1, got $partitions")
    val k = valueCols.size
    // The range exchange is consumed by TWO jobs (partition totals,
    // then the final pass). RangePartitioner SAMPLES its input, and the
    // sample can shift between job runs when upstream row order is
    // nondeterministic — re-planned boundaries would pair rows with
    // offsets computed for a different layout (observed as negative
    // running sums). localCheckpoint materializes the exchange once so
    // both jobs read the SAME partitioning; the cost is one extra
    // write of the dataset — which any two-pass prefix sum pays anyway.
    val ranged = valueCols.zipWithIndex
      .foldLeft(df.repartitionByRange(partitions, orderCols: _*)) {
        case (acc, ((v, _), i)) =>
          acc.withColumn(s"__graft_v$i", v.cast("long"))
      }
      .transform(graft.core.StateTable.pin)
      .withColumn("__graft_pid", spark_partition_id())
    val w = Window.partitionBy(col("__graft_pid"))
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = (0 until k).foldLeft(ranged) { case (acc, i) =>
      acc.withColumn(s"__graft_run$i", sum(col(s"__graft_v$i")).over(w))
    }
    // partition totals (sum, NOT max-of-running — deltas may be
    // negative): rows = #partitions, so driver-side cumulation is
    // O(partitions), the same bound any distributed scan-prefix pays
    val totals = ranged.groupBy(col("__graft_pid"))
      .agg(sum(col("__graft_v0")).as("__graft_total0"),
        (1 until k).map(i =>
          sum(col(s"__graft_v$i")).as(s"__graft_total$i")): _*)
      .collect()
      .map(r => r.getInt(0) -> (0 until k).map(i => r.getLong(i + 1)))
      .sortBy(_._1)
    val offsets = totals.scanLeft(
      (Int.MinValue, Seq.fill(k)(0L))) {
        case ((_, acc), (pid, tots)) =>
          (pid, acc.zip(tots).map { case (a, t) => a + t })
      }.sliding(2)
      .collect { case Array((_, prev), (pid, _)) =>
        Row.fromSeq(pid +: prev)
      }.toSeq
    val offSchema = StructType(
      StructField("__graft_pid", IntegerType) +:
        (0 until k).map(i => StructField(s"__graft_off$i", LongType)))
    val offDf = df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(offsets, 1), offSchema)
    val joined = within.join(broadcast(offDf), Seq("__graft_pid"))
    val withOuts = valueCols.zipWithIndex.foldLeft(joined) {
      case (acc, ((_, out), i)) =>
        acc.withColumn(out,
          col(s"__graft_run$i") + col(s"__graft_off$i"))
    }
    val temps = Seq("__graft_pid") ++
      (0 until k).flatMap(i =>
        Seq(s"__graft_v$i", s"__graft_run$i", s"__graft_off$i"))
    withOuts.drop(temps: _*)
  }
}
