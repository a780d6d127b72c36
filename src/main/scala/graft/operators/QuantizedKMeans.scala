package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** K-means over int8-quantized embeddings — corpus-curation clustering
  * (topic balancing, per-cluster sampling quotas, duplicate-region
  * discovery) built so every step is EXACT integer arithmetic on
  * [[VectorQuantization]] codes: squared L2 distance is
  * `|a|² + |c|² − 2·a·c` of integer codes, so assignments are
  * bit-reproducible cross-engine — no float-accumulation ambiguity, and
  * the whole assignment step can be hash-verified by an independent
  * engine (q155), which float k-means fundamentally cannot.
  *
  * Scale shape (100 TB): centroids are BROADCAST (k × dims integers —
  * config-sized); assignment is a per-row map over the corpus (one pass,
  * no shuffle of the embedding table); the update step is one
  * map-side-combinable aggregation whose key space is k × dims after
  * posexplode — bounded by the model, not the data. Lloyd iterations
  * repeat exactly these two bounded steps; nothing ever joins the corpus
  * to itself.
  *
  * Determinism: seeds are the codes of the k lowest-id vectors, distance
  * ties break toward the lowest centroid id, and iterated centroids stay
  * on the integer lattice (`round(sum/n)`), so a fit is a pure function
  * of the input.
  */
object QuantizedKMeans {

  /** Seed centroids: quantized codes of the `k` lowest-`idCol` rows of
    * `q` (a [[VectorQuantization.quantizeInt8]] result), renamed
    * `(cluster_id, c8, cnorm2)`. Deterministic by construction — the
    * usual seeded-random init trades reproducibility for spread; at this
    * layer the caller can pass any centroid frame with this schema. */
  def seedCentroids(q: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    q.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("cluster_id"), col("q8").as("c8"),
        VectorQuantization.int8Dot(col("q8"), col("q8")).as("cnorm2"))
  }

  /** Assign every vector to its nearest centroid: adds `cluster_id` and
    * the exact integer squared distance `qd2`, ties to the lowest
    * cluster_id. Plan shape: centroids broadcast into a per-row scoring
    * projection (codegen'd integer dots), and the argmin is `min` over
    * ONE packed long — `qd2 << 20 | dense-centroid-index` — so the
    * aggregate is a map-side-combinable codegen HashAggregate on a
    * primitive (a struct-ordered min_by would fall back to
    * SortAggregate and sort every candidate row). The code arrays never
    * cross an exchange; the corpus is re-joined once, id-keyed, to carry
    * them to the output. Limits (ANSI-checked, generous): ≤ 2^20
    * centroids, qd2 < 2^43 (dims × 254² — holds beyond 10^8 dims). */
  def assign(q: DataFrame, centroids: DataFrame, idCol: String): DataFrame = {
    val clash = Seq("cluster_id", "qd2").filter(q.columns.contains)
    require(clash.isEmpty,
      s"input already has ${clash.mkString(", ")} — rename before assigning")
    graft.functions.GraftFunctions.register(q.sparkSession)
    // dense 0-based index in cluster_id order: packed-min tie-break on the
    // index IS the tie-break on the id. k rows — the one-partition window
    // sees only the (broadcast-sized) centroid frame.
    val cw = org.apache.spark.sql.expressions.Window.orderBy(col("cluster_id"))
    val cents = centroids.withColumn("cidx",
      (row_number().over(cw) - 1).cast("long"))
    val packed = shiftleft(
      col("qnorm2") + col("cnorm2") -
        lit(2L) * VectorQuantization.int8DotFast(col("q8"), col("c8")),
      20) + col("cidx")
    val best = q.select(col(idCol), col("q8"), col("qnorm2"))
      .crossJoin(broadcast(cents))
      .select(col(idCol), packed.as("__p"))
      .groupBy(col(idCol))
      .agg(min(col("__p")).as("__p"))
      .select(col(idCol), shiftright(col("__p"), 20).as("qd2"),
        pmod(col("__p"), lit(1L << 20)).as("cidx"))
      .join(broadcast(cents.select(col("cidx"), col("cluster_id"))),
        Seq("cidx"))
      .select(col(idCol), col("cluster_id"), col("qd2"))
    q.join(best, Seq(idCol))
  }

  /** Centroid update in long form: per (cluster_id, dim_pos) the exact
    * integer code sum and member count — the map-side-combinable shape
    * whose shuffle carries at most k × dims rows. */
  def updateLong(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster_id"), posexplode(col("q8")).as(Seq("dim_pos", "c")))
      .groupBy(col("cluster_id"), col("dim_pos"))
      .agg(sum(col("c")).as("code_sum"), count(lit(1)).as("n"))

  /** `iters` Lloyd iterations from the deterministic seeds; returns the
    * final assignment. Updated centroids stay integer
    * (`round(code_sum / n)`), so every iteration remains exact; empty
    * clusters keep their previous centroid (their row simply has no
    * update entries). */
  def fit(
      emb: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val q = VectorQuantization.quantizeInt8(emb, vecCol)
      .select(col(idCol), col("q8"), col("qnorm2"))
    var cents = seedCentroids(q, idCol, k).transform(graft.core.StateTable.pin)
    var assigned = assign(q, cents, idCol)
    for (_ <- 1 until iters) {
      val upd = updateLong(assigned)
        .withColumn("cc", round(col("code_sum") / col("n")).cast("int"))
        .groupBy(col("cluster_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim_pos"), col("cc")))),
          s => s.getField("cc")).as("c8"))
        .withColumn("cnorm2",
          VectorQuantization.int8Dot(col("c8"), col("c8")))
      // clusters that lost all members keep their previous centroid
      val next = cents.select(col("cluster_id"), col("c8").as("__old8"),
          col("cnorm2").as("__oldn2"))
        .join(upd, Seq("cluster_id"), "left")
        .select(col("cluster_id"),
          coalesce(col("c8"), col("__old8")).as("c8"),
          coalesce(col("cnorm2"), col("__oldn2")).as("cnorm2"))
        .transform(graft.core.StateTable.pin)
      // next is eager and lineage-truncated: nothing reads cents
      graft.core.StateTable.unpin(cents)
      cents = next
      assigned = assign(q, cents, idCol)
    }
    assigned
  }
}
