package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze & Schmid, PAMI'11) over int8
  * codes — the memory-side of billion-scale ANN: each vector splits
  * into `m` subspaces, each subspace snaps to its nearest of `k`
  * codebook entries, and a vector compresses to `m` small code ids. A
  * query then scores the WHOLE corpus from an m×k lookup table
  * (asymmetric distance computation, ADC) — per corpus vector the
  * distance is m table lookups and adds, never a d-dimensional dot.
  *
  * Built on the [[VectorQuantization]]/[[QuantizedKMeans]] exactness
  * discipline: codebooks, encodings, and ADC distances are ALL integer
  * arithmetic on int8 codes (sub-distance = |a|²+|c|²−2·a·c of integer
  * slices), so the entire pipeline — codebook, per-vector codes, every
  * ADC score, the final ranking — is bit-reproducible cross-engine
  * (q223 replays it in SQL), which float PQ codebooks cannot offer.
  * Codebook entries come in two forms sharing one schema contract:
  * the deterministic seed discipline (the k lowest-id vectors'
  * sub-codes, the q155/q51 pattern — [[codebooks]]) and the trained
  * path ([[trainedCodebooks]], per-subspace Lloyd iterations on the
  * integer lattice; measured recall@10 vs the brute-force baseline
  * 0.43 seeded → 0.95 trained, ProductQuantizationSpec).
  *
  * Scale shape (100 TB): codebooks are m×k sub-codes (config-sized,
  * broadcast). Encoding is one corpus pass: per row, m×k integer
  * sub-distances inside a broadcast join, then ONE id-keyed aggregate
  * whose payload is m small ints — the corpus's float (or even int8)
  * vectors never shuffle. ADC probes broadcast the query table and
  * shuffle only (query, id, partial-sum) rows.
  */
object ProductQuantization {

  /** Deterministic codebooks from a [[VectorQuantization.quantizeInt8]]
    * frame `q` (`idCol`, `q8`): the `k` lowest-id vectors' sub-codes.
    * Output `(subspace, code_id, sc8, scn2)` with `code_id` dense 0..k−1
    * in id order per subspace. Dims must divide into `m` equal slices. */
  def codebooks(q: DataFrame, idCol: String, m: Int, k: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(k >= 1 && k <= (1 << 20), s"k must be in [1,2^20], got $k")
    val w = Window.orderBy(col(idCol))
    q.orderBy(col(idCol)).limit(k)
      .withColumn("code_id", (row_number().over(w) - 1).cast("long"))
      .withColumn("__dims", size(col("q8")))
      .withColumn("__sub", (col("__dims") / m).cast("int"))
      .select(col("code_id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), " +
          "s -> slice(q8, s * __sub + 1, __sub))")))
      .select(col("pos").cast("long").as("subspace"),
        col("code_id"), col("col").as("sc8"),
        VectorQuantization.int8Dot(col("col"), col("col")).as("scn2"))
  }

  /** Sub-vector long form of `q`: `(idCol, subspace, v8, vn2)` — the
    * shared first step of [[encode]], [[adcTopK]] and
    * [[trainedCodebooks]]. */
  private def subVectors(q: DataFrame, idCol: String, m: Int): DataFrame =
    q.withColumn("__sub", (size(col("q8")) / m).cast("int"))
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), " +
          "s -> slice(q8, s * __sub + 1, __sub))")))
      .select(col(idCol), col("pos").cast("long").as("subspace"),
        col("col").as("v8"),
        VectorQuantization.int8Dot(col("col"), col("col")).as("vn2"))

  /** TRAINED codebooks: `iters` Lloyd iterations per subspace over the
    * corpus's sub-vectors, seeded from [[codebooks]] — the path that
    * closes the gap between the deterministic seed discipline (exactness
    * oracles) and retrieval quality (ProductQuantizationSpec measures
    * recall@10 of ADC over trained books against the exact baseline).
    * All m subspaces train in ONE DataFrame program: assignment is the
    * packed-min integer argmin of [[QuantizedKMeans.assign]] keyed by
    * (id, subspace); the update is a map-side-combinable aggregate whose
    * key space is m×k×subdims — bounded by the model, not the corpus.
    * Updated centroids stay ON THE INTEGER LATTICE (`round(sum/n)`), so
    * the whole training run remains a pure integer-exact function of
    * the input — bit-replayable cross-engine (q225 oracles a 2-iteration
    * fit end-to-end), which float PQ training cannot offer. Empty codes
    * keep their previous entry. Output schema = [[codebooks]]'s:
    * drop-in for [[encode]] and [[adcTopK]].
    *
    * Scale shape (100 TB): per iteration one broadcast-join scoring pass
    * over the corpus's sub-vector rows (codegen'd integer dots, min on
    * ONE packed long) and one m×k×subdims-keyed aggregate; the corpus
    * never joins itself and only (id, subspace, code) rows shuffle. */
  def trainedCodebooks(
      q: DataFrame, idCol: String, m: Int, k: Int,
      iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 64,
      s"iters must be in [1,64], got $iters")
    graft.functions.GraftFunctions.register(q.sparkSession)
    val subs = subVectors(q, idCol, m).transform(graft.core.StateTable.pin)
    var books = codebooks(q, idCol, m, k).transform(graft.core.StateTable.pin)
    for (_ <- 1 to iters) {
      val packed = shiftleft(
        col("vn2") + col("scn2") -
          lit(2L) * VectorQuantization.int8DotFast(col("v8"), col("sc8")),
        20) + col("code_id")
      val assigned = subs.join(broadcast(books), Seq("subspace"))
        .select(col(idCol), col("subspace"), packed.as("__p"))
        .groupBy(col(idCol), col("subspace"))
        .agg(min(col("__p")).as("__p"))
        .select(col(idCol), col("subspace"),
          pmod(col("__p"), lit(1L << 20)).as("code_id"))
      val upd = subs.join(assigned, Seq(idCol, "subspace"))
        .select(col("subspace"), col("code_id"),
          posexplode(col("v8")).as(Seq("dim", "cv")))
        .groupBy(col("subspace"), col("code_id"), col("dim"))
        .agg(sum(col("cv")).as("s"), count(lit(1)).as("n"))
        .withColumn("cc", round(col("s") / col("n")).cast("int"))
        .groupBy(col("subspace"), col("code_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("cc")))),
          x => x.getField("cc")).as("sc8"))
        .withColumn("scn2",
          VectorQuantization.int8Dot(col("sc8"), col("sc8")))
      val next = books.select(col("subspace"), col("code_id"),
          col("sc8").as("__o8"), col("scn2").as("__on2"))
        .join(upd, Seq("subspace", "code_id"), "left")
        .select(col("subspace"), col("code_id"),
          coalesce(col("sc8"), col("__o8")).as("sc8"),
          coalesce(col("scn2"), col("__on2")).as("scn2"))
        .transform(graft.core.StateTable.pin)
      // next is eager and lineage-truncated: nothing reads books
      graft.core.StateTable.unpin(books)
      books = next
    }
    graft.core.StateTable.unpin(subs)
    books
  }

  /** Encode every vector of `q` against `codebooks`: `(idCol, codes)`
    * where `codes[s]` is subspace s's nearest codebook entry (exact
    * integer sub-L2, ties to the lowest code_id — the packed-min
    * discipline of [[QuantizedKMeans.assign]]). */
  def encode(
      q: DataFrame, books: DataFrame, idCol: String, m: Int): DataFrame = {
    graft.functions.GraftFunctions.register(q.sparkSession)
    val subs = subVectors(q, idCol, m)
    val packed = shiftleft(
      col("vn2") + col("scn2") -
        lit(2L) * VectorQuantization.int8DotFast(col("v8"), col("sc8")),
      20) + col("code_id")
    subs.join(broadcast(books), Seq("subspace"))
      .select(col(idCol), col("subspace"), packed.as("__p"))
      .groupBy(col(idCol), col("subspace"))
      .agg(min(col("__p")).as("__p"))
      .withColumn("code", pmod(col("__p"), lit(1L << 20)))
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("subspace"), col("code")))),
        s => s.getField("code")).as("codes"))
  }

  /** ADC top-k: for each query row of `queries` (same quantized schema
    * as the corpus), the `k` nearest encoded corpus vectors by the
    * summed integer sub-distance table. Output
    * `(qid, rank, idCol, adc_d2)`. The distance table (queries × m ×
    * codebook) broadcasts; corpus vectors participate only through
    * their m-code rows. */
  def adcTopK(
      queries: DataFrame, qidCol: String, books: DataFrame,
      encoded: DataFrame, idCol: String, m: Int, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    graft.functions.GraftFunctions.register(queries.sparkSession)
    val qsubs = subVectors(queries, qidCol, m)
      .withColumnRenamed(qidCol, "qid")
    // (qid, subspace, code) -> integer sub-distance: the ADC table
    val table = qsubs.join(broadcast(books), Seq("subspace"))
      .select(col("qid"), col("subspace"), col("code_id").as("code"),
        (col("vn2") + col("scn2") - lit(2L) *
          VectorQuantization.int8DotFast(col("v8"), col("sc8")))
          .as("sub_d2"))
    val corpusCodes = encoded
      .select(col(idCol), posexplode(col("codes"))
        .as(Seq("subspace", "code")))
      .select(col(idCol), col("subspace").cast("long").as("subspace"),
        col("code"))
    val wQ = Window.partitionBy(col("qid"))
      .orderBy(col("adc_d2"), col(idCol))
    corpusCodes.join(broadcast(table), Seq("subspace", "code"))
      .groupBy(col("qid"), col(idCol))
      .agg(sum(col("sub_d2")).as("adc_d2"))
      .withColumn("rank", row_number().over(wQ).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col(idCol), col("adc_d2"))
  }

  /** [[adcTopK]] restricted to a per-query candidate set
    * `cands = (qid, idCol)` — the scoring half of IVF-ADC
    * ([[IvfAdc]]): identical ADC arithmetic, but each query ranks only
    * its candidates, so the scored volume is candidates × m instead of
    * corpus × m. The broadcast distance table is unchanged; the join
    * keys on (qid, subspace, code) so a candidate row matches exactly
    * its own query's table slice. */
  def adcTopKAmong(
      queries: DataFrame, qidCol: String, books: DataFrame,
      encoded: DataFrame, idCol: String, m: Int, k: Int,
      cands: DataFrame): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    graft.functions.GraftFunctions.register(queries.sparkSession)
    val qsubs = subVectors(queries, qidCol, m)
      .withColumnRenamed(qidCol, "qid")
    val table = qsubs.join(broadcast(books), Seq("subspace"))
      .select(col("qid"), col("subspace"), col("code_id").as("code"),
        (col("vn2") + col("scn2") - lit(2L) *
          VectorQuantization.int8DotFast(col("v8"), col("sc8")))
          .as("sub_d2"))
    val corpusCodes = encoded
      .select(col(idCol), posexplode(col("codes"))
        .as(Seq("subspace", "code")))
      .select(col(idCol), col("subspace").cast("long").as("subspace"),
        col("code"))
    val wQ = Window.partitionBy(col("qid"))
      .orderBy(col("adc_d2"), col(idCol))
    cands.select(col("qid"), col(idCol))
      .join(corpusCodes, Seq(idCol))
      .join(broadcast(table), Seq("qid", "subspace", "code"))
      .groupBy(col("qid"), col(idCol))
      .agg(sum(col("sub_d2")).as("adc_d2"))
      .withColumn("rank", row_number().over(wQ).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col(idCol), col("adc_d2"))
  }
}
