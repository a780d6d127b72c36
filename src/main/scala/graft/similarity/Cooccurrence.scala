package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PMI-scored item co-occurrence — the classic "people who played X
  * also played Y" association table (pointwise mutual information over
  * user-presence sets), the non-personalized complement to the ALS and
  * cosine recommenders (reference similarity family,
  * similar_users.py / recommendations_recording.py, re-expressed as an
  * item-item association measure).
  *
  * Presence-based: `c_xy` = #users who touched both items, `c_x` =
  * #users who touched x, N = #distinct users;
  * `pmi(x, y) = ln(c_xy · N / (c_x · c_y))`. All inputs are exact
  * bigints; the single float step (divide + ln, rounded to 1e-6) is
  * IEEE-deterministic cross-engine, the [[UserCosine]] discipline.
  *
  * Scale shape (100 TB): the pair stage is [[ChunkedPairs]] — the
  * shared-user join runs per measured u1-chunk against an item-bucketed
  * scratch side, and the `minBoth` support filter is pushed INSIDE each
  * chunk job, so written partials hold only supported pairs and the
  * full pair space exists only transiently inside one chunk's shuffle.
  * Degree/total-user anchors are one aggregate each over the pinned
  * presence frame. Hot items (the d² pair-term blowup) are the caller's
  * `maxItemUsers` cap, same guardrail as [[UserCosine]].
  */
object Cooccurrence {

  /** `(item_a, item_b, users_both, pmi_r)` with item_a < item_b and
    * `users_both >= minBoth`. `maxItemUsers` drops items touched by
    * more users than the cap from PAIRING only (a deliberate
    * approximation for viral items; None = exact, the oracled path). */
  def pmi(
      events: DataFrame, userCol: String, itemCol: String,
      minBoth: Long = 2L,
      maxItemUsers: Option[Long] = None,
      pairChunks: Int = ChunkedPairs.Auto): DataFrame = {
    require(minBoth >= 1, s"minBoth must be >= 1, got $minBoth")
    val pres = events
      .select(col(itemCol).as("item"), col(userCol).as("user"))
      .distinct()
      .transform(graft.core.StateTable.pin)
    // scalar anchor: one long for the PMI normalizer
    val nUsers = pres.select(col("user")).distinct().count()
    val deg = pres.groupBy(col("item")).agg(count(lit(1)).as("d"))
      .transform(graft.core.StateTable.pin)
    val paired = maxItemUsers match {
      case Some(cap) => pres.join(
        deg.filter(col("d") <= cap).select(col("item")), Seq("item"))
      case None => pres
    }
    val both = ChunkedPairs.dots(
      paired.select(col("item"), col("user"), lit(1L).as("c")),
      "item", "user", "c", pairChunks,
      post = df => df.filter(col("dot") >= minBoth))
    both.select(col("u1").as("item_a"), col("u2").as("item_b"),
        col("dot").as("users_both"))
      .join(deg.select(col("item").as("item_a"), col("d").as("da")),
        Seq("item_a"))
      .join(deg.select(col("item").as("item_b"), col("d").as("db")),
        Seq("item_b"))
      .withColumn("pmi_r", round(
        log(col("users_both") * lit(nUsers) / (col("da") * col("db"))), 6))
      .select(col("item_a"), col("item_b"), col("users_both"),
        col("pmi_r"))
  }

  /** PMI scores from MAINTAINED state (`pairs` = `(item_a, item_b,
    * users_both)`, `presence` = `(item, user)`) — the scoring half of
    * [[pmi]], for callers holding state kept current by
    * [[updateCounts]]. Same column contract and float discipline. */
  def scoreCounts(
      pairs: DataFrame, presence: DataFrame,
      minBoth: Long = 2L): DataFrame = {
    val pres = presence.transform(graft.core.StateTable.pin)
    val nUsers = pres.select(col("user")).distinct().count()
    val deg = pres.groupBy(col("item")).agg(count(lit(1)).as("d"))
    pairs.filter(col("users_both") >= minBoth)
      .join(deg.select(col("item").as("item_a"), col("d").as("da")),
        Seq("item_a"))
      .join(deg.select(col("item").as("item_b"), col("d").as("db")),
        Seq("item_b"))
      .withColumn("pmi_r", round(
        log(col("users_both") * lit(nUsers) / (col("da") * col("db"))), 6))
      .select(col("item_a"), col("item_b"), col("users_both"),
        col("pmi_r"))
  }

  /** EXACT incremental maintenance of the co-presence state: merge a
    * listen batch into `(pairs, presence)` without re-pairing the
    * corpus. New presence rows are the batch's (item, user) pairs not
    * already known (idempotent under replayed listens); the pair delta
    * is exactly the pairs those rows create —
    * `Δ = newPres ⋈ oldPres (same user) ∪ pairs within newPres` —
    * so the daily cost is O(batch × affected-user degree), bounded by
    * user activity, never corpus size (the [[graft.dedup.MinHash]]
    * incremental discipline applied to the recommender family).
    * Returns `(mergedPairs, mergedPresence)`; feeding them to
    * [[scoreCounts]] equals a full [[pmi]] recompute bit-for-bit
    * (q230's oracle states exactly that).
    *
    * Scale note: the delta joins key on `user` — a power listener's
    * degree caps the fan-out, the same d² pressure [[pmi]]'s
    * `maxItemUsers` bounds on the item side; cap batch users upstream
    * if individual histories are unbounded. The final merge is one
    * key-partitioned aggregate over state ∪ delta — i.e. this
    * in-memory form re-shuffles the FULL prior pair state per
    * increment (measured 38 s at 30× → 235 s at 100× for the same
    * batch, tracking state size). Production increments should run
    * through [[PairState]], whose segment-log layout keeps the
    * per-batch cost batch-bounded and folds into the pk-partitioned
    * base only at the amortized compaction threshold. */
  def updateCounts(
      pairs: DataFrame, presence: DataFrame,
      batch: DataFrame, userCol: String, itemCol: String)
      : (DataFrame, DataFrame) = {
    val bp = batch.select(col(itemCol).as("item"), col(userCol).as("user"))
      .distinct()
    val newPres = bp.join(presence, Seq("item", "user"), "left_anti")
      .transform(graft.core.StateTable.pin)
    // (n.item, user) is new and (o.item, user) is prior state, so the
    // two items can never coincide — no self-pair filter needed
    val d1 = newPres.alias("n")
      .join(presence.alias("o"), col("n.user") === col("o.user"))
      .select(least(col("n.item"), col("o.item")).as("item_a"),
        greatest(col("n.item"), col("o.item")).as("item_b"))
    val d2 = newPres.alias("x")
      .join(newPres.alias("y"),
        col("x.user") === col("y.user") && col("x.item") < col("y.item"))
      .select(col("x.item").as("item_a"), col("y.item").as("item_b"))
    val delta = d1.unionByName(d2)
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).cast("long").as("users_both"))
    // The merged re-aggregate carries the FULL prior pair state plus
    // the delta through one exchange — at 100× that is ~5·10⁸ rows, and
    // a fixed session width put 10⁷+ of them in every task's hash map
    // (the 100× probe's genuine heap exhaustion). Width is MEASURED:
    // prior pair rows (one count over the state parquet) + the exact
    // delta term volume Σ_u nd·od + nd·(nd−1)/2 (two degree
    // aggregates over already-pinned frames). The explicit repartition
    // on the group keys carries its width in the PLAN — the aggregate's
    // required distribution is already satisfied, so no second
    // exchange, and the width binds no matter when the caller acts.
    val nPairs = pairs.count()
    val deltaTerms: Long = {
      val nd = newPres.groupBy(col("user")).agg(count(lit(1)).as("nd"))
      val od = presence.groupBy(col("user")).agg(count(lit(1)).as("od"))
      val r = nd.join(od, Seq("user"), "left")
        .agg(sum(col("nd") * coalesce(col("od"), lit(0L)) +
          col("nd") * (col("nd") - lit(1)) / lit(2)).cast("long"))
        .head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val spark = batch.sparkSession
    val width = graft.core.StateTable.measuredWidth(
      spark, nPairs + deltaTerms, 2000000L)
    val merged = pairs.unionByName(delta)
      .repartition(width, col("item_a"), col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(sum(col("users_both")).as("users_both"))
    (merged, presence.unionByName(newPres))
  }
}
