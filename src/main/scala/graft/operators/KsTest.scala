package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact two-sample Kolmogorov–Smirnov statistic — the
  * ordered-domain drift detector beside the categorical TV distance
  * (q209): has the score/latency/price DISTRIBUTION shifted between
  * two cohorts or two days?
  *
  * `D = sup_s |F₁(s) − F₂(s)|` over the empirical CDFs. With integer
  * scores (the q235 snap-to-cents discipline) and cumulative counts
  * c₁(s), c₂(s) out of n₁, n₂:
  * `D = max_s |c₁·n₂ − c₂·n₁| / (n₁·n₂)` — the numerator a bigint
  * exact to ~3·10⁹ rows per side (c₁·n₂ ≤ n₁·n₂ < 2⁶³), one final
  * IEEE division. The rejection threshold `c(α)·sqrt((n₁+n₂)/n₁n₂)`
  * is the caller's constant.
  *
  * Scale shape (100 TB of scored rows): one map-side-combinable
  * `groupBy(score)` (the shuffle carries distinct scores), then BOTH
  * cumulative counts ride a single [[PrefixSum.runningTotals]] pass —
  * one range exchange, one partition-local window, no global sort,
  * no single-partition window. The per-sample totals are a one-row
  * scalar-anchor cross join (J9).
  */
object KsTest {

  /** One-row frame: `n1, n2, ks_num, ks_den, ks` (D = ks_num/ks_den;
    * null when either sample is empty).
    *
    * @param score  integer score column (snap doubles first)
    * @param sample boolean column: true → sample 1, false → sample 2
    */
  def twoSample(df: DataFrame, score: Column, sample: Column): DataFrame = {
    // consumed twice (cumulation + totals): pin so the corpus
    // aggregate runs once, per the engine's multiply-consumed-frame
    // discipline (core.StateTable.pin)
    val perScore = df
      .select(score.cast("long").as("s"), sample.as("g"))
      .groupBy(col("s"))
      .agg(
        sum(when(col("g"), 1L).otherwise(0L)).as("a1"),
        sum(when(!col("g"), 1L).otherwise(0L)).as("a2"))
      .transform(graft.core.StateTable.pin)
    val cum = PrefixSum.runningTotals(
      perScore, Seq(col("s")),
      Seq((col("a1"), "c1"), (col("a2"), "c2")))
    val totals = perScore.agg(
      sum(col("a1")).as("n1"), sum(col("a2")).as("n2"))
    cum.crossJoin(broadcast(totals))
      .agg(
        max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(abs(col("c1") * col("n2") - col("c2") * col("n1")))
          .as("ks_num"))
      .select(
        col("n1"), col("n2"), col("ks_num"),
        (col("n1") * col("n2")).as("ks_den"))
      .withColumn("ks",
        when(col("ks_den") === 0L, lit(null).cast("double"))
          .otherwise(col("ks_num") / col("ks_den")))
  }
}
