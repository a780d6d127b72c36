package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.{ProductQuantization => PQ, VectorQuantization}

class ProductQuantizationSpec extends SparkSpec {
  import spark.implicits._

  // deterministic synthetic embeddings: 3 clusters separated by sign
  // PATTERN, not magnitude — int8 quantization scales per-vector by
  // max-abs, which erases magnitude-only separation
  private def vec(center: Int, j: Int, dims: Int = 8): Array[Float] =
    Array.tabulate(dims)(d =>
      ((if (d % 3 == center) 10.0 else -10.0) +
        ((j * 7 + d * 3) % 5) * 0.2).toFloat)

  // ids interleave clusters (id % 3 = cluster) so the lowest-id seed
  // codebook covers every cluster — seed-only codebooks are only as
  // good as their coverage, which is the caller's responsibility
  private def fixture = {
    val rows = for (c <- 0 until 3; j <- 0 until 6)
      yield ((j * 3 + c).toLong, vec(c, j))
    rows.toDF("vec_id", "embedding")
  }

  private def quant(df: org.apache.spark.sql.DataFrame) =
    VectorQuantization.quantizeInt8(df, "embedding")
      .select(col("vec_id"), col("q8"))

  test("m=1 with an exhaustive codebook reproduces exact integer L2 " +
    "ranking (ADC degenerates to the true distance)") {
    val q = quant(fixture)
    val corpus = q.filter(col("vec_id") >= 3)
    val queries = q.filter(col("vec_id") < 3)
    val books = PQ.codebooks(corpus, "vec_id", m = 1, k = 15)
    val enc = PQ.encode(corpus, books, "vec_id", m = 1)
    val adc = PQ.adcTopK(queries, "vec_id", books, enc, "vec_id",
        m = 1, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // exact integer L2 via the same quantized codes
    val rows = q.collect().map(r =>
      r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    def d2(a: Array[Int], b: Array[Int]) =
      a.zip(b).map { case (x, y) => (x - y).toLong * (x - y) }.sum
    for (qid <- 0L until 3L) {
      val expect = rows.keys.filter(_ >= 3).toSeq
        .map(v => (v, d2(rows(qid), rows(v))))
        .sortBy { case (v, dd) => (dd, v) }.take(4)
      val got = adc.filter(_._1 == qid).sortBy(_._2)
        .map(r => (r._3, r._4)).toSeq
      assert(got === expect, s"qid=$qid")
    }
  }

  test("planted clusters: PQ ADC top-3 stays in the query's cluster; " +
    "two runs are identical") {
    val q = quant(fixture)
    // queries = the j=0 member of each cluster; corpus = the rest
    val qids = Set(0L, 1L, 2L)
    val corpus = q.filter(!col("vec_id").isin(qids.toSeq: _*))
    val queries = q.filter(col("vec_id").isin(qids.toSeq: _*))
    val books = PQ.codebooks(corpus, "vec_id", m = 4, k = 9)
    val enc = PQ.encode(corpus, books, "vec_id", m = 4)
    def run() = PQ.adcTopK(queries, "vec_id", books, enc, "vec_id",
        m = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val a = run()
    assert(a === run(), "ADC ranking must be deterministic")
    for ((qid, _, vid, _) <- a)
      assert(vid % 3 === qid % 3,
        s"query $qid retrieved cross-cluster vector $vid")
  }

  test("trained codebooks: per-subspace Lloyd lifts ADC recall@10 over " +
    "the seed discipline when seeds miss clusters, stays integer-exact " +
    "and deterministic") {
    // 4 sign-pattern clusters, 10 members each, ids BLOCKED by cluster
    // (0-9 cluster 0, 10-19 cluster 1, …) so the k=4 lowest-id seeds all
    // land in cluster 0 — the coverage failure mode trained codebooks
    // exist to fix (seed-only books are only as good as their id spread)
    def vec4(c: Int, j: Int): Array[Float] =
      Array.tabulate(16)(d =>
        ((if ((d / 4 + c) % 4 < 2) 10.0 else -10.0) +
          ((j * 7 + d * 3) % 5) * 0.2).toFloat)
    val rows = for (c <- 0 until 4; j <- 0 until 10)
      yield ((c * 10 + j).toLong, vec4(c, j))
    val q = quant(rows.toDF("vec_id", "embedding"))
    val qids = Set(9L, 19L, 29L, 39L) // one query per cluster
    val corpus = q.filter(!col("vec_id").isin(qids.toSeq: _*))
      .transform(graft.core.StateTable.pin)
    val queries = q.filter(col("vec_id").isin(qids.toSeq: _*))
    // exact integer-L2 ground truth from the same quantized codes
    val all = q.collect().map(r =>
      r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    def d2(a: Array[Int], b: Array[Int]) =
      a.zip(b).map { case (x, y) => (x - y).toLong * (x - y) }.sum
    def exactTop10(qid: Long) = all.keys.filter(v => !qids(v)).toSeq
      .map(v => (v, d2(all(qid), all(v))))
      .sortBy { case (v, dd) => (dd, v) }.take(10).map(_._1).toSet
    def recallOf(books: org.apache.spark.sql.DataFrame): Double = {
      val enc = PQ.encode(corpus, books, "vec_id", m = 4)
      val got = PQ.adcTopK(queries, "vec_id", books, enc, "vec_id",
          m = 4, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      qids.toSeq.map(qid =>
        (got(qid) & exactTop10(qid)).size / 10.0).sum / qids.size
    }
    val seeded = recallOf(PQ.codebooks(corpus, "vec_id", m = 4, k = 4))
    val trainedBooks = PQ.trainedCodebooks(corpus, "vec_id", m = 4,
      k = 4, iters = 4)
    val trained = recallOf(trainedBooks)
    info(f"ADC recall@10: seeded $seeded%.2f trained $trained%.2f")
    assert(trained >= 0.9,
      f"trained recall floor: $trained%.2f (seeded was $seeded%.2f)")
    assert(trained > seeded,
      f"training must beat cluster-blind seeds: $trained%.2f vs $seeded%.2f")
    // integer-exactness discipline holds through training: centroids on
    // the int lattice, and two fits are identical row-for-row
    val b1 = trainedBooks.orderBy(col("subspace"), col("code_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Int](2), r.getLong(3)))
    val b2 = PQ.trainedCodebooks(corpus, "vec_id", m = 4, k = 4,
        iters = 4).orderBy(col("subspace"), col("code_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Int](2), r.getLong(3)))
    assert(b1.toSeq === b2.toSeq, "training must be a pure function")
    assert(b1.forall { case (_, _, c8, _) =>
      c8.forall(v => v >= -127 && v <= 127) }, "codes stay int8-ranged")
  }

  test("guards: bad m/k rejected") {
    val q = quant(fixture)
    intercept[IllegalArgumentException](PQ.codebooks(q, "vec_id", 0, 4))
    intercept[IllegalArgumentException](PQ.codebooks(q, "vec_id", 2, 0))
    intercept[IllegalArgumentException](
      PQ.adcTopK(q, "vec_id", q, q, "vec_id", 1, 0))
  }
}
