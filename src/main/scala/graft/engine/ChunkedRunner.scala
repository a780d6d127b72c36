package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.ParquetFooters

/** Out-of-core chunked execution — the reference's pattern for datasets
  * whose intermediate state exceeds cluster memory (MLHD similarity runs
  * per user-prefix chunk 0-f, parquets each chunk's partial aggregate,
  * then combines: similarity/recording/common.py:190-213, mlhd.py:32-35).
  *
  * Given a provider whose combine() is associative (the engine's standard
  * contract), each chunk's partial is computed and persisted independently
  * — bounding the shuffle of any single job to one chunk's data — and the
  * final stats run over the union of the (much smaller) partials.
  */
object ChunkedRunner {

  /** @param chunkPredicates disjoint predicates covering the input (e.g.
    *        user-prefix ranges); each chunk is aggregated in its own job.
    *
    * Chunk jobs are independent, so they run from a small fixed pool
    * (guide §2.6: actions are only sequential because the driver calls
    * them sequentially): the next job's tasks back-fill executors freed
    * by the current job's straggler tail, where 16 hex chunks at 1/16th
    * the work each would otherwise leave most cores idle 16 times per
    * run. The pool is bounded because concurrency multiplies the peak
    * chunk state the decomposition exists to bound: one thread per
    * ~2 GiB of max heap, clamped to [1, 4], so a production-sized heap
    * overlaps a few bounded chunks while a constrained heap (the 4 GiB
    * tier) runs them one at a time, in order. */
  def run(
      spark: SparkSession,
      listens: DataFrame,
      provider: StatsProvider,
      chunkPredicates: Seq[Column],
      workDir: String): DataFrame = {
    val conc = math.max(1, math.min(chunkPredicates.size, math.min(4L,
      Runtime.getRuntime.maxMemory() / (2L * 1024 * 1024 * 1024)).toInt))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(conc)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val chunkPaths =
      try {
        val fs = chunkPredicates.zipWithIndex.map { case (pred, i) =>
          scala.concurrent.Future {
            val path = s"$workDir/chunk_$i"
            provider.aggregate(listens.filter(pred))
              .write.mode("overwrite").parquet(path)
            path
          }
        }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(fs),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    val partials = ParquetFooters.read(spark, chunkPaths: _*)
    provider.stats(provider.combine(partials))
  }
}
