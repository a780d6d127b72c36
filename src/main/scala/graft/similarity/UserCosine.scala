package graft.similarity

import org.apache.spark.mllib.linalg.distributed.{CoordinateMatrix, MatrixEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** User–user cosine similarity over play-count vectors — the reference's
  * user similarity (similarity/user.py:89-126) offers DIMSUM
  * (`RowMatrix.columnSimilarities`); this module provides three paths:
  *
  *   - [[exact]] — sparse item-keyed pair join: pairs are generated ONLY
  *     for users sharing an item (equi-join on the item key), dot products
  *     are exact bigint sums of count products, one sqrt at the end. This
  *     is the oracled scale path: no driver-collected vocabulary, no
  *     broadcast nested loop, shuffle keyed on item then (u1, u2) — both
  *     high-cardinality. Hot items widen the pair space (inherent to exact
  *     cosine); when the item-frequency skew makes that unaffordable,
  *     [[dimsum]] is the sampling-bounded alternative.
  *   - [[denseSmall]] — the densified all-pairs formulation (collects the
  *     item vocabulary): O(U²·|V|) work, only sound for small-N
  *     verification in specs; never dispatched at scale.
  *   - [[dimsum]] — DIMSUM via `RowMatrix.columnSimilarities(threshold)`.
  */
object UserCosine {

  /** Measured-gate ceiling for broadcasting the per-user norms frame in
    * [[dimsumTopK]]: ~16 B/row payload ≈ 200 MB hashed at 4M rows —
    * comfortably inside a 4 GiB executor's storage share. The ceiling
    * is ALSO a driver budget: a broadcast hash join collects the rows
    * AND builds the ~200 MB hashed relation on the DRIVER before
    * shipping, so this constant assumes the driver heap clears
    * ~2× that (any production submit with ≥ 2 GiB driver memory); on a
    * smaller driver, size the ceiling against
    * min(driver heap share, executor storage share) instead. Above it
    * the planner's shuffled join is the correct layout (the ADVICE-r11
    * cliff), below it the broadcast saves a corpus-sized exchange
    * before the chunk bucketing (measured 1.4× at the 100× tier). */
  private val MaxBroadcastUsers = 4L * 1000 * 1000

  /** Pinned `(u, it, c)` play-count aggregate with the optional hot-item
    * guardrail. Counts feed three consumers (norms + both join sides);
    * Catalyst does not reuse the exchange across the differently-pruned
    * branches, so materialize the (small, user×item-bounded) aggregate
    * once instead of re-aggregating the fact table three times.
    *
    * The cap is the LSH bucket-cap analogue: an item listened by d users
    * contributes d² pair terms, so one viral track dominates the pair
    * space at corpus scale; capping item degree drops those terms (a
    * deliberate approximation — the norms keep the full vectors, only
    * pair generation is bounded). None = exact, the oracled path. */
  private def countsOf(
      listens: DataFrame, userCol: String, itemCol: String,
      maxItemListeners: Option[Long]): DataFrame = {
    val raw = listens.groupBy(col(userCol).as("u"), col(itemCol).as("it"))
      .agg(count(lit(1)).as("c"))
    (maxItemListeners match {
      case Some(cap) =>
        val degree = raw.groupBy(col("it"))
          .agg(count(lit(1)).as("item_degree"))
          .filter(col("item_degree") <= cap)
          .select(col("it"))
        raw.join(degree, Seq("it"))
      case None => raw
    }).transform(graft.core.StateTable.pin)
  }

  /** Per-user top-k most-similar users by exact cosine — [[exact]]'s
    * answer REDUCED to k rows per user, computed so the full pair space
    * is never persisted or globally sorted: the pair aggregate runs
    * through [[ChunkedPairs]] and each chunk job reduces its complete
    * (u1, u2) groups to per-user top-k BEFORE writing (cosine + the
    * symmetric mirror + one windowed cut, all inside the chunk); the
    * final pass merges ≤ 2·k·pairChunks candidate rows per user — a
    * hierarchical top-k, exact because every (u, other) candidate
    * appears in exactly one chunk. Output `(user_id, other_user_id,
    * similarity)`, ties broken by other_user_id like [[exact]]'s
    * consumers. This is the 4 GiB survival shape for the q101 family:
    * peak state = one chunk's pair aggregate, written state = k rows
    * per user per chunk. */
  def exactTopK(
      listens: DataFrame, userCol: String, itemCol: String, k: Int,
      maxItemListeners: Option[Long] = None,
      pairChunks: Int = ChunkedPairs.Auto): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = countsOf(listens, userCol, itemCol, maxItemListeners)
    val norms = counts.groupBy(col("u"))
      .agg(sum(col("c") * col("c")).as("norm2"))
      .transform(graft.core.StateTable.pin)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("similarity").desc, col("other_user_id"))
    def topkOf(pairs: DataFrame): DataFrame = {
      // norms is user-bounded (pinned, runtime-sized) — AQE broadcasts
      // it when it fits, SMJ otherwise; no static hint to mis-size
      val withCos = pairs
        .join(norms.select(col("u").as("u1"), col("norm2").as("n1")),
          Seq("u1"))
        .join(norms.select(col("u").as("u2"), col("norm2").as("n2")),
          Seq("u2"))
        .withColumn("similarity", round(
          col("dot") / sqrt((col("n1") * col("n2")).cast("double")), 6))
      // mirror via ONE generator pass, not a self-union: a union's two
      // branches each re-run the whole upstream chunk subtree (final
      // aggregate pass + both norm joins — only the exchange is
      // reused), measured +100 s over 23 chunk jobs on q100's sibling
      // sweep at 100× (SharedNeighbors.mirror)
      withCos.select(col("similarity"), explode(array(
          struct(col("u1").as("user_id"), col("u2").as("other_user_id")),
          struct(col("u2").as("user_id"), col("u1").as("other_user_id"))))
          .as("e"))
        .select(col("e.user_id"), col("e.other_user_id"),
          col("similarity"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k).drop("__rn")
    }
    ChunkedPairs.dots(counts, "u", "it", "c", pairChunks, post = topkOf)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Exact cosine between users u1 < u2 with score >= minCosine, via the
    * sparse item-keyed pair join (the join-based formulation a relational
    * engine would use — identical math to the DuckDB oracle). All sums are
    * exact bigint; `cosine` is the only floating step (long→double divide +
    * sqrt, IEEE-identical across engines). */
  def exact(
      listens: DataFrame, userCol: String, itemCol: String,
      minCosine: Double,
      maxItemListeners: Option[Long] = None,
      pairChunks: Int = 1): DataFrame = {
    val counts = countsOf(listens, userCol, itemCol, maxItemListeners)
    val norms = counts.groupBy(col("u"))
      .agg(sum(col("c") * col("c")).as("norm2"))
    // pairChunks > 1 runs the pair stage out-of-core via [[ChunkedPairs]]
    // (per-u1-chunk jobs + parquet partials) — same exact answer, peak
    // pair-aggregate state ÷ pairChunks; the pinned counts frame serves
    // every chunk job without recompute
    val dots = ChunkedPairs.dots(counts, "u", "it", "c", pairChunks)
    dots
      .join(norms.select(col("u").as("u1"), col("norm2").as("n1")), Seq("u1"))
      .join(norms.select(col("u").as("u2"), col("norm2").as("n2")), Seq("u2"))
      .withColumn("cosine",
        col("dot") / sqrt((col("n1") * col("n2")).cast("double")))
      .filter(col("cosine") >= minCosine)
      .select(col("u1"), col("u2"), col("dot"),
        round(col("cosine"), 6).as("cosine_r"))
  }

  /** Densified all-pairs exact cosine: collects the item vocabulary and
    * broadcasts dense vectors — O(U²) pairs with O(|V|) work each. ONLY for
    * small-N differential verification of [[exact]] in specs; a scale-killer
    * on real data (the round-1 verdict's q81 finding — kept deliberately
    * out of the oracled/dispatched surface). */
  def denseSmall(
      listens: DataFrame, userCol: String, itemCol: String,
      minCosine: Double): DataFrame = {
    val counts = listens.groupBy(col(userCol).as("u"), col(itemCol).as("it"))
      .agg(count(lit(1)).as("c"))
    val items = counts.select(col("it")).distinct()
      .orderBy(col("it")).collect().map(_.get(0))
    graft.functions.GraftFunctions.register(listens.sparkSession)
    import graft.functions.GraftFunctions.vecDot
    val vecs = counts
      .groupBy(col("u"))
      .agg(map_from_entries(collect_list(struct(col("it"), col("c"))))
        .as("m"))
      .select(col("u"),
        array(items.toIndexedSeq.map(i =>
          coalesce(element_at(col("m"), lit(i)), lit(0L)).cast("float")): _*)
          .as("v"))
      .withColumn("norm2", vecDot(col("v"), col("v")).cast("long"))
    val a = vecs.select(col("u").as("u1"), col("v").as("v1"),
      col("norm2").as("n1"))
    val b = vecs.select(col("u").as("u2"), col("v").as("v2"),
      col("norm2").as("n2"))
    a.join(broadcast(b), col("u1") < col("u2"))
      .withColumn("dot", vecDot(col("v1"), col("v2")).cast("long"))
      .withColumn("cosine",
        col("dot") / sqrt((col("n1") * col("n2")).cast("double")))
      // dot > 0 preserves join-based semantics: users sharing no items
      // produce no pair (not a zero-cosine row)
      .filter(col("dot") > 0 && col("cosine") >= minCosine)
      .select(col("u1"), col("u2"), col("dot"),
        round(col("cosine"), 6).as("cosine_r"))
  }

  /** DIMSUM approximate column similarities: users as matrix columns.
    * threshold > 0 trades exactness for sampling bounds (Zadeh & Carlson,
    * "Dimension Independent Matrix Square using MapReduce", public).
    * Item ids are assigned distributedly (zipWithIndex + join) — no
    * driver-side vocabulary map.
    *
    * VERIFY-TIER ONLY at this corpus shape: the sampling magnitude
    * cutoff √γ = √(10·ln(numCols)/τ) (≈ 37.7 at 1.5M users, τ = 0.1)
    * exceeds nearly every user's play-count norm, so NOTHING is pruned
    * and the full quadratic pair stream flows through one un-chunked
    * RDD shuffle — measured disk-full (57+ GB spill) at 100×
    * (SCALE.md round 11). Production thresholded similarity is
    * [[dimsumTopK]]'s normalized chunked finder; this form verifies
    * the estimator's math at envelope scale (q280/q125). */
  def dimsum(
      listens: DataFrame, userCol: String, itemCol: String,
      threshold: Double): DataFrame =
    dimsumOfCounts(listens
      .groupBy(col(userCol).cast("long").as("u"),
        col(itemCol).cast("string").as("it"))
      .agg(count(lit(1)).cast("double").as("c")), threshold)

  /** [[dimsum]] over a pre-aggregated `(u: long, it: string, c)` count
    * frame — for callers that already hold the play-count aggregate
    * (e.g. [[dimsumTopK]], which also needs it for the norms). */
  private def dimsumOfCounts(
      counts: DataFrame, threshold: Double): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val itemIds = counts.select(col("it")).distinct()
      .rdd.zipWithIndex().map { case (r, i) => (r.getString(0), i) }
      .toDF("it", "item_idx")
    val entries = counts.join(itemIds, Seq("it"))
      .select(col("item_idx"), col("u"), col("c").cast("double"))
      .rdd.map(r => MatrixEntry(r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sims = new CoordinateMatrix(entries).toRowMatrix()
      .columnSimilarities(threshold)
    sims.entries
      .map(e => (e.i, e.j, e.value))
      .toDF("u1", "u2", "cosine")
  }

  /** Per-user top-k most-similar users AMONG PAIRS WITH COSINE ≥ `tau`
    * — the production-scale similar-users path: a normalized-counts
    * [[ChunkedPairs]] sweep as the pair FINDER, an exact
    * pair-constrained join as the SCORER.
    *
    * The finder pre-divides each user's play counts by their L2 norm,
    * so the chunked dot over normalized entries IS the cosine; each
    * chunk job filters `dot ≥ τ − 1e-9` before anything is written, so
    * partials hold only would-be-kept pairs and the full pair space
    * exists only transiently inside one chunk's shuffle (the
    * [[ChunkedPairs]] out-of-core contract). The 1e-9 guard band
    * covers float-sum error (≤ ~4e-15 relative for realistic degrees),
    * so no true ≥τ pair is lost; sub-band false positives are removed
    * by the exact filter below. The finder is DETERMINISTIC — no
    * sampling leg at all.
    *
    * Why not DIMSUM sampling as the finder (the first-landed form):
    * measured at 100× (SCALE.md round 11), RowMatrix
    * `columnSimilarities(0.1)` over 1.5M users computes
    * γ = 10·ln(n)/τ ≈ 1422, i.e. a √γ ≈ 37.7 magnitude cutoff that
    * exceeds nearly every user's play-count norm — ZERO pruning, the
    * full quadratic pair stream through one un-chunked RDD shuffle:
    * 57+ GB of spill, disk-full twice. Zadeh & Carlson's bound prunes
    * heavy COLUMNS; at this corpus shape the τ = 0.1 guarantee is
    * quadratic work by construction, so the winning mechanics are the
    * chunked engine's, and the τ filter's value is OUTPUT pruning.
    * The sampling estimator survives as [[dimsum]] for envelope-scale
    * verification (q280, verify tier).
    *
    * Why this is driver-exact: the finder's float cosines are never
    * emitted — only its pair ids. Each found pair gets its true
    * integer dot recomputed by a join restricted to the found set
    * (found ⋈ counts on u1, ⋈ counts on (u2, item), one pair-keyed
    * sum — candidate-volume work, never the corpus pair space), and
    * the similarity comes from the same `round(dot/√(n1·n2), 6)`
    * expression [[exact]] uses, with the τ filter applied on that
    * exact value — so every emitted row is bit-identical to the exact
    * path's.
    *
    * Contract difference vs [[exactTopK]]: users whose k-th neighbor
    * has cosine < τ get fewer than k rows (the pairs the finder prunes
    * are exactly those a thresholded consumer discards). The reference
    * runs the UNthresholded `columnSimilarities()`
    * (similarity/user.py:114 — our q125 verify tier); thresholding is
    * what keeps 100×-scale partials output-sized. */
  def dimsumTopK(
      listens: DataFrame, userCol: String, itemCol: String,
      k: Int, tau: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(tau > 0, s"tau must be > 0 (use exactTopK for the full space)")
    val counts = listens
      .groupBy(col(userCol).cast("long").as("u"),
        col(itemCol).cast("string").as("it"))
      .agg(count(lit(1)).as("c"))
      .transform(graft.core.StateTable.pin)
    val norms = counts.groupBy(col("u"))
      .agg(sum(col("c") * col("c")).as("norm2"))
      .transform(graft.core.StateTable.pin)
    // norms is one row per user, and this join feeds the bucketed
    // write that every chunk job reads — an extra exchange here is a
    // full counts-sized shuffle. An UNCONDITIONAL broadcast() hint is
    // the driver-OOM cliff ADVICE r11 flagged (hundreds of millions of
    // users); no hint at all is a measured 1.4× regression at the 100×
    // tier (1.5M users ≈ 24 MB serialized clears the 10 MB
    // autoBroadcastJoinThreshold, so the planner sort-merge-joins and
    // pays shuffle+sort on the corpus-sized counts side before the
    // bucketing repartition). So the broadcast is GATED ON A MEASURED
    // row count — the norms pin is consumed by three later joins, so
    // the count() is a one-pass materialization it would pay anyway:
    // ≤ 4M users (≈ 200 MB hashed, inside a 4 GiB executor's storage
    // share) broadcasts; beyond that the planner's shuffled join is
    // the correct layout, not a cliff.
    val normsSide =
      if (norms.count() <= MaxBroadcastUsers) broadcast(norms) else norms
    val normed = counts
      .join(normsSide, Seq("u"))
      .select(col("u"), col("it"),
        (col("c").cast("double") / sqrt(col("norm2").cast("double")))
          .as("cn"))
    val found = ChunkedPairs.dots(normed, "u", "it", "cn",
        post = df => df.filter(col("dot") >= tau - 1e-9)
          .select(col("u1"), col("u2")))
      .select(col("u1"), col("u2"))
    val dots = found
      .join(counts.select(col("u").as("u1"), col("it"),
        col("c").as("c1")), Seq("u1"))
      .join(counts.select(col("u").as("u2"), col("it"),
        col("c").as("c2")), Seq("u2", "it"))
      .groupBy(col("u1"), col("u2"))
      .agg(sum(col("c1") * col("c2")).as("dot"))
    val scored = dots
      .join(norms.select(col("u").as("u1"), col("norm2").as("n1")),
        Seq("u1"))
      .join(norms.select(col("u").as("u2"), col("norm2").as("n2")),
        Seq("u2"))
      .withColumn("similarity",
        col("dot") / sqrt((col("n1") * col("n2")).cast("double")))
      .filter(col("similarity") >= tau)
      .withColumn("similarity", round(col("similarity"), 6))
      .select(col("u1"), col("u2"), col("similarity"))
      .transform(graft.core.StateTable.pin)
    graft.core.StateTable.unpin(counts)
    graft.core.StateTable.unpin(norms)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("similarity").desc, col("other_user_id"))
    scored.select(col("u1").as("user_id"), col("u2").as("other_user_id"),
        col("similarity"))
      .unionByName(scored.select(col("u2").as("user_id"),
        col("u1").as("other_user_id"), col("similarity")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }
}
