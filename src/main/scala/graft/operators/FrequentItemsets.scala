package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frequent-itemset mining (Apriori level 2) and association rules over
  * (basket, item) data — "users who bought X also bought Y" at exact
  * counts, the co-purchase/co-listen analysis behind every
  * recommendation-adjacent batch job (the reference scores co-listened
  * recordings inside user sessions, listenbrainz_spark/similarity/
  * recording.py:24-58; baskets generalize the session).
  *
  * The Apriori property does the scaling work: a pair can only be
  * frequent if BOTH items are, so items below `minSupport` are pruned
  * BEFORE the pair expansion — the quadratic step runs on frequent items
  * only. The frequent-item table is support-bounded (≤ n_baskets /
  * minSupport rows), so it broadcasts, and the prune is a map-side semi
  * join; per-basket pair fan-out is then bounded by the largest
  * FREQUENT-item basket, not the largest basket.
  *
  * Exactness: supports are long counts; confidence and lift are single
  * IEEE divisions of exact long products — driver-hash reproducible.
  */
object FrequentItemsets {

  /** Association rules a→b over distinct (basketCol, itemCol) pairs.
    * Both directions of every frequent pair are emitted. Output:
    * (antecedent, consequent, n_ab, n_a, n_b, n_baskets, confidence,
    * lift) with confidence = n_ab/n_a and lift the independence ratio.
    */
  def rules(
      baskets: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val items = baskets.select(col(basketCol).as("b"), col(itemCol).as("i"))
      .filter(col("i").isNotNull).distinct()
      // feeds the basket count, the item counts, and both pair-join
      // sides — pin it so the distinct runs once (the q191/q199 lesson)
      .transform(graft.core.StateTable.pin)
    val nBaskets = items.select(col("b")).distinct().count()
    val freq = items.groupBy(col("i")).agg(count(lit(1)).as("n_i"))
      .filter(col("n_i") >= minSupport)
    // Apriori prune: only frequent items enter the pair expansion
    val pruned = items.join(broadcast(freq), Seq("i"))
    val pairs = pruned.as("x")
      .join(pruned.as("y"),
        col("x.b") === col("y.b") && col("x.i") < col("y.i"))
      .groupBy(col("x.i").as("i_a"), col("y.i").as("i_b"))
      .agg(count(lit(1)).as("n_ab"),
        first(col("x.n_i")).as("n_a"), first(col("y.n_i")).as("n_b"))
      .filter(col("n_ab") >= minSupport)
    val both = pairs.select(col("i_a").as("antecedent"),
        col("i_b").as("consequent"), col("n_ab"),
        col("n_a"), col("n_b"))
      .unionByName(pairs.select(col("i_b").as("antecedent"),
        col("i_a").as("consequent"), col("n_ab"),
        col("n_b").as("n_a"), col("n_a").as("n_b")))
    both
      .withColumn("n_baskets", lit(nBaskets))
      .withColumn("confidence",
        col("n_ab").cast("double") / col("n_a").cast("double"))
      .withColumn("lift",
        (col("n_baskets") * col("n_ab")).cast("double") /
          (col("n_a") * col("n_b")).cast("double"))
  }
}
