package graft.ingest

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.ParquetFooters
import graft.engine.ListenStore

/** Dump-import orchestration over the ListenStore primitives (reference
  * listens/dump.py:187-262):
  *
  *   - a FULL dump replaces the whole listen history: the base is
  *     rewritten partitioned, the incremental sibling and deletion side
  *     tables are discarded (the reference swaps to a brand-new listens
  *     location), and every cached stat partial is invalidated — a partial
  *     computed against the old base is silently wrong against the new
  *     one (dump.py:211-216 + the location swap in listens/metadata.py).
  *   - an INCREMENTAL dump appends its rows and advances the per-user and
  *     global `created` high-water marks (dump.py:219-251: the
  *     incremental-users frame + listens metadata update), which
  *     only-incremental stat runs use to skip untouched users.
  *   - every import is recorded in an import-metadata ledger keyed
  *     (dump_id, dump_type), replaced idempotently on re-import
  *     (dump.py:187-208).
  */
final class DumpImport(
    spark: SparkSession, store: ListenStore,
    root: String, statsWorkDir: String) {

  private val metaPath = s"$root/import-metadata"
  private val incUsersPath = s"$root/incremental-users"

  private def fs = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def delete(path: String): Unit =
    fs.delete(new org.apache.hadoop.fs.Path(path), true)

  private def exists(path: String): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(path))

  /** The import ledger: (dump_id, dump_type, imported_at). */
  def importMetadata: DataFrame =
    if (exists(metaPath)) ParquetFooters.read(spark, metaPath)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("dump_id",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("dump_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("imported_at",
          org.apache.spark.sql.types.TimestampType))))

  private def recordImport(dumpId: Int, dumpType: String): Unit = {
    import spark.implicits._
    val updated = importMetadata
      .filter(col("dump_id") =!= dumpId || col("dump_type") =!= dumpType)
      .unionByName(Seq((dumpId, dumpType,
        new Timestamp(System.currentTimeMillis())))
        .toDF("dump_id", "dump_type", "imported_at"))
      .transform(graft.core.StateTable.pin) // the ledger is rewritten in place below
    updated.repartition(1).write.mode("overwrite").parquet(metaPath)
  }

  /** Per-user incremental high-water marks: (user_id, created). */
  def incrementalHighWater: DataFrame =
    if (exists(incUsersPath)) ParquetFooters.read(spark, incUsersPath)
    else spark.emptyDataFrame

  /** Full-dump import: location swap + stats invalidation. `dumpType`
    * distinguishes ledger rows for sample imports, which share the
    * orchestration but must keep their own (dump_id, dump_type) identity
    * (dump.py:187-208). */
  def importFull(dump: DataFrame, dumpId: Int, dumpType: String = "full"): Unit = {
    store.writeBase(dump)
    store.clearSideTables()
    delete(incUsersPath)
    delete(statsWorkDir) // cached partials are stale against the new base
    recordImport(dumpId, dumpType)
  }

  /** Incremental-dump import: append + high-water bookkeeping. */
  def importIncremental(dump: DataFrame, dumpId: Int): Unit = {
    store.appendIncremental(dump)
    store.incrementalListens
      .groupBy(col("user_id"))
      .agg(max(col("created")).as("created"))
      .transform(graft.core.StateTable.pin) // reads the path about to be overwritten
      .repartition(1).write.mode("overwrite").parquet(incUsersPath)
    recordImport(dumpId, "incremental")
  }
}
