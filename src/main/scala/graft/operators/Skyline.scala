package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D Pareto frontier (skyline): the distinct (x, y) points not
  * dominated by any other point, maximizing both dimensions. Dominance
  * is the standard strict form — q dominates p iff q.x ≥ p.x, q.y ≥ p.y,
  * and q is strictly greater in at least one; equal points do not
  * dominate each other, and the output is the distinct point set so
  * duplicates collapse rather than mutually eliminate.
  *
  * The naive formulations are a quadratic NOT EXISTS self-join or a
  * single global sort with a running max — the first is O(n²), the
  * second funnels the whole input through ONE reducer. This operator is
  * the two-phase bucket-prune shape:
  *
  *  1. Distinct points bucket by fixed-width x ranges (width from one
  *     scalar min/max pass). Per-bucket max-y is a tiny aggregate; its
  *     suffix-running-max over buckets (a window over ≤ `buckets` rows)
  *     gives, for every bucket, the best y attainable at STRICTLY
  *     greater x — strictly, because a point in a higher fixed-width
  *     bucket has strictly larger x. Any point with y ≤ that bound is
  *     dominated and dies in a broadcast-joined map-side filter: no
  *     shuffle of the fact beyond the distinct.
  *  2. Survivors — at most a frontier-candidate sliver per bucket —
  *     take the exact pass: sort by (x desc, y desc) and keep points
  *     whose y strictly exceeds the running max of all earlier (higher-x
  *     or equal-x-higher-y) points. The global window runs over the
  *     pruned sliver only.
  *
  * At 100 TB phase 1 is a distinct plus a broadcast filter; the only
  * global sort touches the survivors. Skylines/frontiers are the
  * standard shape for best-cost/quality curation choices (e.g. picking
  * non-dominated documents on quality × length before a token budget).
  */
object Skyline {

  /** Distinct non-dominated (x, y) points of `df`, maximizing both.
    * Output columns: xCol, yCol (original names), frontier points only.
    */
  def frontier2D(
      df: DataFrame, xCol: String, yCol: String,
      buckets: Int = 1024): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val pts = df.select(col(xCol).cast("double").as("x"),
        col(yCol).cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .distinct()
      // consumed three times (scalar min/max, bucket bounds, survivor
      // filter) — pin the distinct so the fact scans once (q191 lesson)
      .transform(graft.core.StateTable.pin)

    // one scalar pass for the bucket geometry (driver anchor, 2 doubles);
    // min/max over an empty frame returns one all-null row — an empty (or
    // all-null) input has an empty frontier, so return it before the NPE
    val geom = pts.agg(min(col("x")), max(col("x"))).collect()(0)
    if (geom.isNullAt(0))
      return pts.select(col("x").as(xCol), col("y").as(yCol))
    val (mn, mx) = (geom.getDouble(0), geom.getDouble(1))
    val width = if (mx > mn) (mx - mn) / buckets else 1.0
    val bucketed = pts.withColumn("b",
      least(floor((col("x") - lit(mn)) / lit(width)),
        lit(buckets - 1L)).cast("long"))

    // per-bucket max y, then the best y at any strictly-higher bucket
    val wSuffix = Window.orderBy(col("b").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bounds = bucketed.groupBy(col("b"))
      .agg(max(col("y")).as("by"))
      .withColumn("best_above", max(col("by")).over(wSuffix))
      .select(col("b"), col("best_above"))

    val survivors = bucketed
      .join(broadcast(bounds), Seq("b"))
      .filter(col("best_above").isNull || col("y") > col("best_above"))
      .select(col("x"), col("y"))

    // exact pass over the sliver: strict running-max elimination
    val wRun = Window.orderBy(col("x").desc, col("y").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    survivors
      .withColumn("run", max(col("y")).over(wRun))
      .filter(col("run").isNull || col("y") > col("run"))
      .select(col("x").as(xCol), col("y").as(yCol))
  }
}
