package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact trimmed and winsorized means — outlier-robust location
  * estimates over an integer-valued metric, computed from per-distinct-
  * value counts and rank interval overlap instead of any global sort.
  *
  * Rank algebra: with n rows and trim count `t = n·num div den` per
  * tail, value v occupying the 1-based rank interval (cum−cnt, cum]
  * contributes `w(v) = max(0, min(cum, n−t) − max(cum−cnt, t))` rows
  * to the trimmed interior (t, n−t] — an integer identity. Trimmed
  * mean = Σ v·w / Σ w (one IEEE division of exact bigints).
  * Winsorized mean replaces the tails instead of dropping them: the
  * clamp bounds are the values at ranks t+1 and n−t (two scalar
  * anchors off the same cumulated frame), and
  * `(t·lo_clamp + Σ v·w + t·hi_clamp) / n` stays ratio-of-bigints.
  *
  * Scale shape (100 TB of rows): ONE `groupBy(value)` hash aggregate
  * (map-side combinable — distinct values cross the wire, never rows)
  * + [[PrefixSum.runningTotal]]'s range exchange for `cum`; the two
  * clamp bounds are 1-row aggregates off the already-pinned cumulated
  * frame; no single-partition window, no global sort at any corpus
  * size. Integer envelope: Σv·w ≤ Σv·cnt, exact while the plain sum
  * of the metric is — the [[Welch]] envelope.
  */
object RobustMean {

  /** One-row frame: `n trim_n` (bigints), `sum_kept n_kept` (bigints),
    * `trimmed_mean`, plus winsorized outputs `lo_clamp hi_clamp`
    * (bigints) and `winsorized_mean`. Trim fraction = num/den per
    * tail (exact rational, floored). Degenerate trims (2t ≥ n) yield
    * null means. */
  def means(
      df: DataFrame, value: Column, trimNum: Int,
      trimDen: Int): DataFrame = {
    require(trimDen > 0 && trimNum >= 0 && 2 * trimNum < trimDen,
      s"trim fraction must satisfy 0 <= num/den < 1/2, got " +
        s"$trimNum/$trimDen")
    val perValue = df.select(value.cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    val cum = PrefixSum.runningTotal(perValue, Seq(col("v")), col("cnt"),
        out = "cum")
      .transform(graft.core.StateTable.pin) // consumed by 3 aggregates
    val totals = cum.agg(sum(col("cnt")).as("n"))
      .withColumn("t",
        expr(s"(n * $trimNum) div $trimDen"))
    val joined = cum.crossJoin(broadcast(totals))
      .withColumn("w",
        greatest(lit(0L),
          least(col("cum"), col("n") - col("t")) -
            greatest(col("cum") - col("cnt"), col("t"))))
    val kept = joined.agg(
      first(col("n")).as("n"), first(col("t")).as("trim_n"),
      sum(col("v") * col("w")).as("sum_kept"),
      sum(col("w")).as("n_kept"),
      min(when(col("cum") > col("t"), col("v"))).as("lo_clamp"),
      min(when(col("cum") >= col("n") - col("t"), col("v")))
        .as("hi_clamp"))
    kept
      .withColumn("trimmed_mean",
        when(col("n_kept") === 0L, lit(null).cast("double"))
          .otherwise(col("sum_kept") / col("n_kept")))
      .withColumn("winsorized_mean",
        when(col("n_kept") === 0L, lit(null).cast("double"))
          .otherwise(
            (col("trim_n") * col("lo_clamp") + col("sum_kept") +
              col("trim_n") * col("hi_clamp")) / col("n")))
  }

  /** Exact median + MAD (median absolute deviation) — the robust
    * center/spread pair for outlier thresholds (`|x − med| >
    * c·1.4826·MAD`), kept INTEGRAL throughout by doubling: with
    * value-at-rank `v@r` = the smallest value whose running count
    * reaches r, `med2 = v@⌈n/2⌉ + v@(⌊n/2⌋+1)` (= 2·median for odd n,
    * the sum of the two middle values for even — one formula covers
    * both), the per-value deviations `|2v − med2|` are exact integers
    * REGROUPED from the first pass's per-value counts (never a second
    * corpus scan), and `mad4` is the same two-rank sum over the
    * deviation distribution (= 4·MAD). One row out:
    * `n med2 mad4` (bigints) + `median mad` (one IEEE division
    * each; the 1.4826 normal-consistency factor is the caller's
    * constant).
    *
    * Scale shape: the corpus contributes ONE `groupBy(value)`
    * aggregate; both medians are rank lookups on distinct-value-sized
    * cumulated frames ([[PrefixSum.runningTotal]] range exchanges),
    * and the deviation regroup runs over distinct values only. */
  def medianMad(df: DataFrame, value: Column): DataFrame =
    medianMadFrom(df.select(value.cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("cnt")))

  /** [[medianMad]] over an ALREADY-AGGREGATED `(v, cnt)` frame —
    * shared by [[outlierReport]] so the corpus is scanned once. */
  private def medianMadFrom(perValue: DataFrame): DataFrame = {
    val cum = PrefixSum.runningTotal(perValue, Seq(col("v")), col("cnt"),
        out = "cum")
      .transform(graft.core.StateTable.pin) // total + rank lookup + regroup
    val totals = cum.agg(sum(col("cnt")).as("n"))
    def med2Of(cumulated: DataFrame): DataFrame = cumulated
      .crossJoin(broadcast(totals))
      .agg(
        (min(when(col("cum") >= expr("(n + 1) div 2"), col("v"))) +
          min(when(col("cum") >= expr("n div 2 + 1"), col("v"))))
          .as("m2"))
    val med2 = med2Of(cum).transform(graft.core.StateTable.pin)
    val devs = cum.crossJoin(broadcast(med2))
      .select(abs(lit(2L) * col("v") - col("m2")).as("v"), col("cnt"))
      .groupBy(col("v")).agg(sum(col("cnt")).as("cnt"))
    val devCum = PrefixSum.runningTotal(devs, Seq(col("v")), col("cnt"),
      out = "cum")
    med2Of(devCum).withColumnRenamed("m2", "mad4")
      .crossJoin(broadcast(med2))
      .crossJoin(broadcast(totals))
      .select(col("n"), col("m2").as("med2"), col("mad4"),
        (col("m2") / lit(2L)).as("median"),
        (col("mad4") / lit(4L)).as("mad"))
  }

  /** Robust outlier report via the modified z-score: a row is an
    * outlier when `|x − median| > (kNum/kDen)·1.4826·MAD` —
    * evaluated ENTIRELY in integers as
    * `2·kDen·10000·|2v − med2| > kNum·14826·mad4` (both sides exact
    * bigints; 1.4826 enters as the exact rational 14826/10000, and
    * the doubled/quadrupled med2/mad4 scalings cancel into the
    * constants). One row out: `n med2 mad4 n_outliers out_min out_max
    * sum_outliers` — the data-quality gate robust to the very
    * outliers a mean/stddev gate is wrecked by.
    *
    * Scale shape: [[medianMad]]'s passes + one more aggregate over
    * the SAME pinned per-value frame; the corpus is still scanned
    * once. Integer envelope: `kNum·14826·mad4` — keep kNum small
    * (the conventional threshold is 35/10). */
  def outlierReport(
      df: DataFrame, value: Column, kNum: Long = 35L,
      kDen: Long = 10L): DataFrame = {
    require(kNum > 0 && kDen > 0, "threshold must be positive")
    val perValue = df.select(value.cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .transform(graft.core.StateTable.pin) // medianMad passes + outlier pass
    val stats = medianMadFrom(perValue)
      .select(col("n"), col("med2"), col("mad4"))
      .transform(graft.core.StateTable.pin)
    perValue.crossJoin(broadcast(stats))
      .withColumn("dev2", abs(lit(2L) * col("v") - col("med2")))
      .withColumn("is_out",
        lit(2L * kDen * 10000L) * col("dev2") >
          lit(kNum) * lit(14826L) * col("mad4"))
      .agg(
        first(col("n")).as("n"), first(col("med2")).as("med2"),
        first(col("mad4")).as("mad4"),
        sum(when(col("is_out"), col("cnt")).otherwise(0L))
          .as("n_outliers"),
        min(when(col("is_out"), col("v"))).as("out_min"),
        max(when(col("is_out"), col("v"))).as("out_max"),
        coalesce(sum(when(col("is_out"), col("v") * col("cnt"))),
          lit(0L)).as("sum_outliers"))
  }
}
