package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact empirical CDF over an integer-valued metric — the
  * percentile-rank transform (quantile normalization, outlier
  * thresholds, "what fraction of the corpus is below x") as a
  * distinct-value-sized frame: `(v, cnt, cum_le, ecdf)` with
  * `ecdf = P(X ≤ v) = cum_le / n` one IEEE division of exact bigints.
  *
  * Scale shape (100 TB of rows): ONE `groupBy(value)` map-side
  * combinable aggregate (distinct values cross the wire, never rows)
  * + [[PrefixSum.runningTotal]]'s range-exchange running count — no
  * single-partition window, no global sort at any corpus size; n is
  * a scalar anchor cross join. Callers wanting per-row percentiles
  * join this frame back on the value (distinct-value-sized build
  * side — AQE broadcasts when small); callers wanting a bounded
  * summary instead use the [[QuantileFloor]] sketch envelope.
  */
object Ecdf {

  /** One row per distinct value of `value`, ordered cumulation by the
    * natural value order. */
  def ecdf(df: DataFrame, value: Column): DataFrame = {
    val perValue = df.select(value.cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    val cum = PrefixSum.runningTotal(perValue, Seq(col("v")), col("cnt"),
        out = "cum_le")
      .transform(graft.core.StateTable.pin) // consumed by the total + output
    val total = cum.agg(sum(col("cnt")).as("n"))
    cum.crossJoin(broadcast(total))
      .select(col("v"), col("cnt"), col("cum_le"),
        (col("cum_le") / col("n")).as("ecdf"))
  }
}
