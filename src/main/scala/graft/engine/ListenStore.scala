package graft.engine

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType, TimestampType}
import graft.core.ParquetFooters

/** Physical listen storage: year/month-partitioned parquet with an
  * append-only incremental sibling and read-time deletion retraction.
  *
  * Reference behavior being reproduced (not the implementation):
  *   - base partitioned by year,month from listened_at
  *     (listens/compact.py:27-45)
  *   - incremental appended per dump (listens/dump.py:219-251)
  *   - deleted listens retracted at read time by 4-column anti join;
  *     whole-user history truncation via max_created left join
  *     (listens/data.py:67-86)
  *   - month-range partition pruning for [from, to) windows
  *     (listens/data.py:89-99) — here expressed as predicates on the
  *     partition columns, which Catalyst turns into static partition
  *     pruning; no path gymnastics needed.
  *
  * Scale: partitioning by (year, month) keeps one month's listens per
  * partition directory; a stats window of N months scans exactly N
  * directories regardless of total history size.
  *
  * Derived state (the engine's cached base partials, the user-bucketed
  * projection) is reused only while the store's data-file list it was
  * built from is unchanged ([[partialInputs]], [[userBucketed]]): one
  * staleness rule, with no clock and no directory modification time.
  */
final class ListenStore(spark: SparkSession, root: String) {
  private val basePath = s"$root/base"
  private val incPath = s"$root/incremental"
  private val deletedPath = s"$root/deleted-listens"
  private val deletedHistoryPath = s"$root/deleted-user-listen-history"
  private val feedbackPath = s"$root/recording-feedback"
  private val metadataPath = s"$root/metadata"
  private val bucketedMetaPath = s"$root/bucketed-meta"

  private val metadataSchema = StructType(Seq(
    StructField("max_listened_at", TimestampType),
    StructField("max_created", TimestampType)))

  /** Stored (max_listened_at, max_created) high-water marks, maintained at
    * WRITE time — the reference's listens-metadata singleton
    * (listens/metadata.py:18-55). Request dispatch resolves "the latest
    * listen" from this one-row JSON instead of aggregating the whole
    * store, which at 100 TB would be a full scan before every query.
    * Advance-only, like the reference: deletions never lower it. */
  def highWater: Option[(Timestamp, Timestamp)] =
    if (exists(metadataPath)) {
      spark.read.schema(metadataSchema).json(metadataPath)
        .collect().headOption
        .filter(!_.isNullAt(0))
        .map(r => (r.getTimestamp(0), r.getTimestamp(1)))
    } else None

  /** Persist high-water marks computed elsewhere — the self-healing hook
    * for stores predating the metadata file: when request dispatch falls
    * back to the legacy full scan, it writes what it computed so the scan
    * runs at most once per store. */
  def persistHighWater(maxListened: Timestamp, maxCreated: Timestamp): Unit =
    writeMetadata(maxListened, maxCreated)

  private def writeMetadata(maxListened: Timestamp, maxCreated: Timestamp): Unit = {
    import spark.implicits._
    Seq((maxListened, maxCreated, new Timestamp(System.currentTimeMillis())))
      .toDF("max_listened_at", "max_created", "updated_at")
      .repartition(1).write.mode("overwrite").json(metadataPath)
  }

  private def maxTs(a: Timestamp, b: Timestamp): Timestamp =
    if (a.after(b)) a else b

  /** One pruned 2-column pass over `df` for its high-water marks. */
  private def frameHighWater(df: DataFrame): Option[(Timestamp, Timestamp)] = {
    val r = df.agg(max(col("listened_at")), max(col("created"))).collect()(0)
    if (r.isNullAt(0)) None else Some((r.getTimestamp(0), r.getTimestamp(1)))
  }

  private def fsFor(path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(path: String): Boolean =
    fsFor(path).exists(new org.apache.hadoop.fs.Path(path))

  /** Full rewrite of the base: derive partition columns and write
    * partitioned. Overwrite is atomic-enough for the single-writer batch
    * model (the reference swaps a UUID directory; a cluster deployment
    * would do the same pointer swap). */
  def writeBase(listens: DataFrame): Unit = {
    listens
      .withColumn("year", year(col("listened_at")))
      .withColumn("month", month(col("listened_at")))
      .repartition(col("year"), col("month"))
      .write.partitionBy("year", "month").mode("overwrite").parquet(basePath)
    // a full rewrite RESETS the high-water (the reference swaps to a fresh
    // location with fresh metadata); computed from the written parquet —
    // a pruned 2-column scan, once per import, never per request. An
    // empty write leaves no readable parquet → clear the metadata.
    scala.util.Try(frameHighWater(ParquetFooters.read(spark, basePath)
      .select(col("listened_at"), col("created")))).toOption.flatten match {
      case Some((l, c)) => writeMetadata(l, c)
      case None => fsFor(metadataPath).delete(
        new org.apache.hadoop.fs.Path(metadataPath), true)
    }
  }

  /** Append an incremental dump chunk (reference dump.py:229-233) and
    * advance the high-water marks from the CHUNK alone (no store scan). */
  def appendIncremental(listens: DataFrame): Unit = {
    val chunk = listens.transform(graft.core.StateTable.pin) // scanned twice: write + high-water
    chunk.write.mode("append").parquet(incPath)
    frameHighWater(chunk).foreach { case (l, c) =>
      val (ml, mc) = highWater match {
        case Some((pl, pc)) => (maxTs(pl, l), maxTs(pc, c))
        case None => (l, c)
      }
      writeMetadata(ml, mc)
    }
  }

  /** Record listen deletions; retracted at read time, removed physically at
    * compaction. */
  def appendDeleted(deleted: DataFrame): Unit =
    deleted.write.mode("append").parquet(deletedPath)

  def writeDeletedUserHistory(history: DataFrame): Unit =
    history.repartition(1).write.mode("overwrite").parquet(deletedHistoryPath)

  /** Recording feedback cache (user_id, entity, score; score -1 = hated —
    * reference data/postgres/feedback.py:15-18), consumed by playlist
    * generation. */
  def writeFeedback(feedback: DataFrame): Unit =
    feedback.repartition(1).write.mode("overwrite").parquet(feedbackPath)

  def feedback(schema: org.apache.spark.sql.types.StructType): DataFrame =
    readOrEmpty(feedbackPath, schema)

  private def readOrEmpty(path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (exists(path)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  def baseListens: DataFrame =
    if (exists(basePath))
      ParquetFooters.read(spark, basePath).drop("year", "month")
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Listen.schema)

  def incrementalListens: DataFrame = readOrEmpty(incPath, Listen.schema)

  /** Paths, relative to the store root, of the data files under the base
    * and the two deletion trees: what a cached base partial depends on. */
  def partialInputs: Seq[String] =
    dataFiles(Seq(basePath, deletedPath, deletedHistoryPath))

  /** Paths, relative to the store root, of the data files under `trees`,
    * sorted. Every write to the store's trees, an overwrite included,
    * lands part files with a fresh per-write name, so an unchanged list
    * means unchanged listens and retractions, with no reliance on
    * modification times. */
  private def dataFiles(trees: Seq[String]): Seq[String] = {
    val rootUri = fsFor(root).makeQualified(
      new org.apache.hadoop.fs.Path(root)).toUri.getPath
    ParquetFooters.leafFiles(spark.sparkContext.hadoopConfiguration,
        trees, None)
      .map(_.getPath.toUri.getPath.stripPrefix(rootUri)).sorted
  }

  /** Base-only listens in [from, to), deletions retracted — the input to a
    * cached partial aggregate (incremental listens are aggregated
    * separately by the engine and merged, never rescanned together).
    *
    * The year/month predicates are written against the partition columns so
    * Catalyst prunes partitions statically; the listened_at range filter
    * handles the sub-month boundaries.
    */
  def baseListensRange(from: Timestamp, to: Timestamp): DataFrame = {
    val base =
      if (exists(basePath)) {
        val b = ParquetFooters.read(spark, basePath)
        val fromKey = lit(from.toLocalDateTime.getYear * 100 +
          from.toLocalDateTime.getMonthValue)
        val toKey = lit(to.toLocalDateTime.getYear * 100 +
          to.toLocalDateTime.getMonthValue)
        b.filter(col("year") * 100 + col("month") >= fromKey &&
            col("year") * 100 + col("month") <= toKey)
          .drop("year", "month")
      } else baseListens
    retractDeleted(base.filter(
      col("listened_at") >= lit(from) && col("listened_at") < lit(to)))
  }

  /** Listens in [from, to), base ∪ incremental, deletions retracted. */
  def listens(from: Timestamp, to: Timestamp): DataFrame =
    baseListensRange(from, to).unionByName(
      retractDeleted(incrementalListens).filter(
        col("listened_at") >= lit(from) && col("listened_at") < lit(to)))

  /** Read-time deletion semantics (reference listens/data.py:67-86):
    * 4-column anti join for individual deletions, then a left join to the
    * per-user history-truncation watermark keeping rows with no watermark
    * or created above it. */
  def retractDeleted(listens: DataFrame): DataFrame = {
    val afterRows =
      if (exists(deletedPath)) {
        val del = ParquetFooters.read(spark, deletedPath)
          .select(Listen.deletionKey.map(col): _*)
        listens.join(del, Listen.deletionKey, "left_anti")
      } else listens
    if (exists(deletedHistoryPath)) {
      val h = ParquetFooters.read(spark, deletedHistoryPath)
        .select(col("user_id"), col("max_created"))
      afterRows.join(h, Seq("user_id"), "left")
        .filter(col("max_created").isNull ||
          col("created") > col("max_created"))
        .drop("max_created")
    } else afterRows
  }

  /** Materialize a user-bucketed projection of the current retracted
    * base ∪ incremental — the co-location lever for the user-keyed job
    * families (per-user stats, similarity preprocessing, YIM), which ALL
    * open with groupBy(user_id) and against the time-partitioned layout
    * re-shuffle the same fact table on the same key every run. The
    * projection pays that shuffle once at write; afterwards every
    * user-keyed aggregation and every equi-join between projections
    * bucketed the same way plans with zero Exchange
    * ([[graft.core.Bucketing]]). Refresh after imports the way the engine
    * refreshes cached partials; bucket count is a layout constant.
    *
    * The projection's identity (table, path, buckets, schema) and the
    * store's data-file list it was built from are persisted next to the
    * store, so [[userBucketed]] can serve it to request dispatch — and
    * refuse to once any write changes that list. */
  def materializeUserBucketed(
      table: String, path: String, buckets: Int): DataFrame = {
    // listed before the scan, as the engine lists a partial's inputs: a
    // write landing while the projection is built leaves the record stale
    val inputs = projectionInputs
    val df = retractDeleted(baseListens.unionByName(incrementalListens))
    graft.core.Bucketing.writeBucketed(df, path, table, buckets, Seq("user_id"))
    import spark.implicits._
    Seq(BucketedProjection(table, path, buckets, df.schema.toDDL, inputs))
      .toDS().repartition(1).write.mode("overwrite").json(bucketedMetaPath)
    graft.core.Bucketing.read(spark, table)
  }

  /** What the projection is built from: every data file of the base, the
    * incremental sibling and both deletion trees. */
  private def projectionInputs: Seq[String] =
    dataFiles(Seq(basePath, incPath, deletedPath, deletedHistoryPath))

  /** The user-bucketed projection, IF one is materialized and still fresh:
    * fresh exactly when the store's data-file list equals the one recorded
    * when it was built — the rule [[IncrementalStatsEngine]] applies to its
    * cached partials. Any import, deletion, compaction or full-dump
    * rewrite lands new part files (or removes old ones), so it stales the
    * projection whatever the listens' timestamps or the directories'
    * modification times; a record with no list reads as stale. Dispatch
    * treats None as "use the normal partitioned read path" — the
    * projection is an accelerator, not a correctness dependency.
    *
    * The catalog registration does not survive a new SparkSession; the
    * persisted schema DDL lets this re-register the external bucketed
    * table on first read. */
  def userBucketed: Option[DataFrame] =
    if (!exists(bucketedMetaPath)) None
    else {
      import spark.implicits._
      val m = spark.read.schema(Encoders.product[BucketedProjection].schema)
        .json(bucketedMetaPath).as[BucketedProjection].head()
      if (m.inputs != projectionInputs) None
      else {
        if (!spark.catalog.tableExists(m.table))
          spark.sql(
            s"""CREATE TABLE ${graft.core.Bucketing.quoted(m.table)}
               |(${m.schema_ddl})
               |USING parquet
               |CLUSTERED BY (user_id) SORTED BY (user_id)
               |INTO ${m.buckets} BUCKETS
               |LOCATION '${m.path}'""".stripMargin)
        Some(graft.core.Bucketing.read(spark, m.table))
      }
    }

  /** Compaction (reference listens/compact.py:13-24): fold incremental into
    * the base, physically drop deleted rows, rewrite partitioned, clear the
    * incremental and deletion side-tables. */
  def compact(): Unit = {
    val merged = retractDeleted(baseListens.unionByName(incrementalListens))
      .transform(graft.core.StateTable.pin) // sever lineage from the paths about to be rewritten
    writeBase(merged)
    clearSideTables()
  }

  /** Drop the incremental sibling and deletion side tables — after a
    * compaction folded them in, or after a full-dump import superseded
    * them (the reference's new-listens-location swap leaves them behind in
    * the abandoned directory). */
  def clearSideTables(): Unit = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(incPath, deletedPath, deletedHistoryPath).foreach { p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
    }
  }
}
