package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.{IvfAdc, ProductQuantization => PQ, VectorQuantization}

/** [[IvfAdc]] — pruning-free equivalence to flat ADC, cluster routing
  * at nprobe=1, determinism. Fixture discipline per the quantization
  * lessons: clusters separated by SIGN PATTERN (magnitude dies in
  * per-vector scaling) with ids INTERLEAVED across clusters so the
  * lowest-id seeds cover every cluster. */
class IvfAdcSpec extends SparkSpec {
  import spark.implicits._

  // 3 sign-pattern clusters, 12 members each, vec_id = j*3 + c
  private def vec(c: Int, j: Int): Array[Float] =
    Array.tabulate(16)(d =>
      ((if ((d + c) % 3 == 0) 10.0 else -10.0) +
        ((j * 5 + d * 7) % 4) * 0.2).toFloat)

  private lazy val quantized = {
    val rows = for (c <- 0 until 3; j <- 0 until 12)
      yield ((j * 3 + c).toLong, vec(c, j))
    VectorQuantization
      .quantizeInt8(rows.toDF("vec_id", "embedding"), "embedding")
      .select(col("vec_id"), col("q8"), col("qnorm2"))
      .transform(graft.core.StateTable.pin)
  }
  private val qids = Set(33L, 34L, 35L) // the last member of each cluster
  private def corpus = quantized.filter(!col("vec_id").isin(qids.toSeq: _*))
  private def queries = quantized.filter(col("vec_id").isin(qids.toSeq: _*))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      .sortBy(t => (t._1, t._2))

  test("nprobe = coarseK scores every list — identical rows to flat ADC") {
    val flat = {
      val books = PQ.codebooks(corpus.select(col("vec_id"), col("q8")),
        "vec_id", m = 4, k = 9)
      val enc = PQ.encode(corpus.select(col("vec_id"), col("q8")),
        books, "vec_id", m = 4)
      rows(PQ.adcTopK(queries.select(col("vec_id"), col("q8")), "vec_id",
        books, enc, "vec_id", m = 4, k = 3))
    }
    val ivf = rows(IvfAdc.topK(corpus, queries, "vec_id", "vec_id",
      coarseK = 3, nprobe = 3, m = 4, pqK = 9, k = 3))
    assert(ivf === flat)
  }

  test("nprobe = 1 routes each query to its own planted cluster; " +
    "two runs are identical") {
    val got = rows(IvfAdc.topK(corpus, queries, "vec_id", "vec_id",
      coarseK = 3, nprobe = 1, m = 4, pqK = 9, k = 3))
    assert(got === rows(IvfAdc.topK(corpus, queries, "vec_id", "vec_id",
      coarseK = 3, nprobe = 1, m = 4, pqK = 9, k = 3)),
      "IVF-ADC must be deterministic")
    assert(got.nonEmpty)
    for ((qid, _, vid, _) <- got)
      assert(vid % 3 === qid % 3,
        s"query $qid retrieved cross-cluster vector $vid from an " +
          "unprobed or mis-assigned list")
    // every query got a full k from its single probed list
    assert(got.groupBy(_._1).forall(_._2.size == 3))
  }
}
