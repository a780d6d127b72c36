package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.ParquetFooters

/** JDBC dimension-cache import (reference postgres/utils.py:8-17 +
  * postgres/artist.py etc.): the whole selection query is pushed down to
  * the database — Spark sees only the result cursor — and the cache is
  * persisted as parquet at a fixed path for every stats job to join
  * against.
  *
  * Untestable in this zero-egress environment (no database); the code path
  * is the production shape: `option("query", …)` pushdown, explicit
  * fetchsize, single overwrite parquet per cache.
  */
object JdbcCache {

  final case class JdbcConfig(url: String, user: String, password: String)

  /** Run `query` remotely, land the result as a parquet cache. */
  def importCache(
      spark: SparkSession, cfg: JdbcConfig, query: String,
      targetPath: String, numPartitions: Int = 1): Unit = {
    val df = spark.read.format("jdbc")
      .option("url", cfg.url)
      .option("user", cfg.user)
      .option("password", cfg.password)
      .option("query", query)
      .option("fetchsize", "10000")
      .load()
    val out = if (numPartitions == 1) df.repartition(1) else df
    out.write.mode("overwrite").parquet(targetPath)
  }

  /** Read a previously imported cache. */
  def readCache(spark: SparkSession, path: String): DataFrame =
    ParquetFooters.read(spark, path)
}
