package graft.engine

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.ParquetFooters

/** A stat family pluggable into the incremental engine.
  *
  * The three-stage contract is the signature pattern of the reference's
  * whole stats machinery (incremental_stats_engine.py:25-49):
  *   1. [[aggregate]] — listens → partial aggregate (keys…, counts)
  *   2. [[combine]]   — UNION ALL of partials → re-aggregated partial
  *   3. [[stats]]     — partial → final ranked/nested result
  *
  * The algebra must satisfy `combine(aggregate(a) ∪ aggregate(b)) ==
  * aggregate(a ∪ b)` — property-tested in StatsEngineSpec.
  */
trait StatsProvider {
  /** Columns of the partial aggregate identifying the re-computation unit
    * (e.g. user_id) for only-incremental filtering. */
  def filterKeys: Seq[String]
  def aggregate(listens: DataFrame): DataFrame
  def combine(partials: DataFrame): DataFrame
  def stats(partial: DataFrame): DataFrame
}

/** Incremental batch-stats engine: computes a partial aggregate over the
  * immutable base once, caches it, and on each run merges it with a fresh
  * aggregate of the (much smaller) incremental listens — never rescanning
  * the base (reference incremental_stats_engine.py:250-255).
  *
  * The streaming-equivalent concern of the reference is this batch
  * incremental architecture (SURVEY §2.9); a Structured Streaming surface
  * over the same providers lives in [[graft.streaming.StreamingStats]].
  */
object IncrementalStatsEngine {
  /** Pure merge logic, shared by the disk-backed runner and the verified
    * q70/q72 queries: combine an existing partial with incremental listens.
    *
    * @param onlyInc when true, restrict BOTH sides to entities touched by
    *        the incremental data (semi-join on provider.filterKeys) and
    *        produce stats only for them — the reference's recompute-skip
    *        path (engine:199-221). */
  def merge(
      provider: StatsProvider,
      existingPartial: DataFrame,
      incrementalListens: DataFrame,
      onlyInc: Boolean): DataFrame = {
    val incPartial = provider.aggregate(incrementalListens)
    val (existing, inc) =
      if (onlyInc) {
        val touched = incPartial.select(provider.filterKeys.map(col): _*)
          .distinct()
        (existingPartial.join(touched, provider.filterKeys, "left_semi"),
          incPartial)
      } else (existingPartial, incPartial)
    provider.stats(provider.combine(existing.unionByName(inc)))
  }
}

final class IncrementalStatsEngine(spark: SparkSession, val workDir: String) {

  private def partialPath(statName: String) = s"$workDir/$statName/partial"
  private def bookPath(statName: String) = s"$workDir/$statName/bookkeeping"

  private def exists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Full disk-backed run: reuse the cached partial if its bookkeeping
    * matches [from, to) and the store's [[ListenStore.partialInputs]]
    * (so a base rewrite or an imported deletion recomputes it), else
    * recompute from the store; then merge with incremental listens and
    * return final stats. */
  def run(
      statName: String,
      provider: StatsProvider,
      store: ListenStore,
      from: Timestamp,
      to: Timestamp,
      onlyInc: Boolean = false): DataFrame = {
    import spark.implicits._
    // listed before the partial is computed: a deletion landing while it
    // runs leaves the recorded inputs stale, so the next run recomputes
    val inputs = store.partialInputs
    val usable = exists(bookPath(statName)) && {
      val b = spark.read.schema(
        org.apache.spark.sql.Encoders.product[Bookkeeping].schema)
        .json(bookPath(statName)).as[Bookkeeping].collect()
      b.headOption.exists(r =>
        r.from_date == from && r.to_date == to && r.inputs == inputs)
    }
    if (!usable) {
      // recompute the base partial (base listens only — incremental is
      // aggregated fresh each run and merged); the plan reads the store's
      // base, never partialPath, so overwriting partialPath is safe
      provider.aggregate(store.baseListensRange(from, to))
        .write.mode("overwrite").parquet(partialPath(statName))
      Seq(Bookkeeping(from, to, new Timestamp(System.currentTimeMillis()),
          inputs))
        .toDS().repartition(1).write.mode("overwrite").json(bookPath(statName))
    }
    val existing = ParquetFooters.read(spark, partialPath(statName))
    val inc = store.retractDeleted(store.incrementalListens)
      .filter(col("listened_at") >= lit(from) && col("listened_at") < lit(to))
    IncrementalStatsEngine.merge(provider, existing, inc, onlyInc)
  }
}
