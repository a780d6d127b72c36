package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact inter-annotator agreement — Cohen's kappa for label QA
  * (duplicate human labels, model-vs-model drift, silver-vs-gold
  * audits): observed agreement corrected for the agreement two
  * independent raters would reach by chance from their own label
  * marginals.
  *
  * Exactness: with N items, observed-agree count `ao`, and per-label
  * marginals `rowₖ` (rater A) and `colₖ` (rater B),
  * `κ = (po − pe)/(1 − pe)` clears to the RATIO OF BIGINTS
  * `(N·ao − Σₖ rowₖ·colₖ) / (N² − Σₖ rowₖ·colₖ)` — no float ever
  * exists before the final IEEE division ([[Evaluation]]'s AUC
  * discipline). Degenerate chance-certainty (pe = 1, both raters
  * constant) is null, not an exception.
  *
  * Scale shape (100 TB of labeled items): ONE map-side-combinable
  * aggregate over (labelA, labelB) pairs — the shuffle carries the
  * confusion cells (label-cardinality², tiny), never items; marginals
  * and Σ rowₖ·colₖ fold from the cells in a second label-sized
  * aggregate.
  */
object Agreement {

  /** One-row frame: `n agree chance_num` (bigints; chance_num =
    * Σₖ rowₖ·colₖ), `kappa_num = n·agree − chance_num`,
    * `kappa_den = n² − chance_num`, and `kappa` (null when
    * kappa_den = 0). Null labels on either side drop the item. */
  def cohensKappa(df: DataFrame, a: Column, b: Column): DataFrame = {
    val cells = df
      .select(a.cast("long").as("la"), b.cast("long").as("lb"))
      .filter(col("la").isNotNull && col("lb").isNotNull)
      .groupBy(col("la"), col("lb"))
      .agg(count(lit(1)).as("c"))
      .transform(graft.core.StateTable.pin) // consumed by 3 aggregates
    val rows = cells.groupBy(col("la").as("k"))
      .agg(sum(col("c")).as("row_k"))
    val cols = cells.groupBy(col("lb").as("k"))
      .agg(sum(col("c")).as("col_k"))
    val chance = rows.join(cols, Seq("k"), "inner")
      .agg(coalesce(sum(col("row_k") * col("col_k")), lit(0L))
        .as("chance_num"))
    val totals = cells.agg(
      sum(col("c")).as("n"),
      sum(when(col("la") === col("lb"), col("c")).otherwise(0L))
        .as("agree"))
    totals.crossJoin(chance)
      .withColumn("kappa_num",
        col("n") * col("agree") - col("chance_num"))
      .withColumn("kappa_den",
        col("n") * col("n") - col("chance_num"))
      .withColumn("kappa",
        when(col("kappa_den") === 0L, lit(null).cast("double"))
          .otherwise(col("kappa_num") / col("kappa_den")))
  }
}
