package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.ParquetFooters

/** MLHD+ dump ingestion (reference mlhd/download.py), Spark-first.
  *
  * The source corpus is one tab-separated file PER USER, the file name
  * being the user's UUID, laid out under directories named by the id's
  * hex prefix. The reference ETLs these driver-side with pandas, one file
  * at a time (download.py:63-106), then post-processes chunk-by-chunk with
  * a pathGlobFilter over the leading hex char (download.py:30-59). Here
  * both stages are distributed:
  *
  *   - [[etl]] — ONE `spark.read.csv` over the whole tree; `user_id`
  *     derived per row from `input_file_name` (no driver loop over files),
  *     written partitioned by [[chunkOf]] so each hex chunk is a
  *     partition directory — partition pruning replaces the reference's
  *     file-name glob.
  *   - [[postProcess]] — per chunk: epoch → timestamp, comma-separated
  *     mbids → array (the download.py:36-44 query), appended chunk by
  *     chunk so one chunk's working set bounds executor memory, never the
  *     whole 27B-listen corpus.
  *
  * The user id stays a STRING throughout — the real corpus keys users by
  * UUID; nothing here assumes integer ids.
  */
object MlhdImport {

  /** Hex-prefix chunk labels (mlhd/download.py:24-27). */
  val Chunks: Seq[String] = "0123456789abcdef".map(_.toString)

  /** A user id's chunk: the lower-cased leading character of its string
    * form — the hex-prefix chunking of the real UUID-keyed corpus;
    * integer ids degrade to their leading digit. */
  def chunkOf(userId: Column): Column =
    lower(substring(userId.cast("string"), 1, 1))

  /** Disjoint AND COVERING chunk predicates over a chunk-valued column:
    * the 16 hex-prefix equalities plus one catch-all for every row whose
    * chunk is outside [0-9a-f] (non-hex leading characters, null ids).
    * [[ChunkedRunner]]-style chunked aggregation is exact only when the
    * predicates PARTITION the input — the hex set alone silently drops
    * rows the real corpus never produces but an arbitrary import can
    * (import.dump.mlhd writes whatever payload it is handed, partitioned
    * by [[chunkOf]]); the catch-all turns that silent undercount into an
    * ordinary 17th (normally empty) chunk job. On a partition column the
    * catch-all still prunes: `NOT chunk IN (…)` selects only the non-hex
    * partition directories. */
  def chunkPredicates(chunkCol: Column): Seq[Column] =
    Chunks.map(c => chunkCol === c) :+
      coalesce(!chunkCol.isin(Chunks: _*), lit(true))

  /** Raw per-user TSV columns (download.py:85-91: headerless, tab-sep). */
  val rawSchema: StructType = StructType(Seq(
    StructField("listened_at", LongType),
    StructField("artist_credit_mbids", StringType),
    StructField("release_mbid", StringType),
    StructField("recording_mbid", StringType)))

  /** Distributed TSV-tree → raw parquet. `srcGlob` globs the per-user
    * files (a two-level star glob over prefix dirs and .txt names);
    * compressed `.txt.zst` sources read identically after
    * [[ZstdJniCodec.install]] (pure-JVM zstd — no native hadoop build
    * needed; the native ZStandardCodec also works where present). */
  def etl(spark: SparkSession, srcGlob: String, rawDir: String): Unit =
    spark.read
      .schema(rawSchema)
      .option("sep", "\t")
      .option("header", "false")
      .csv(srcGlob)
      // the user id is the source file's base name (download.py:82-83)
      .withColumn("user_id", regexp_extract(input_file_name(),
        "([^/]+?)\\.txt", 1))
      .withColumn("chunk", chunkOf(col("user_id")))
      .repartition(col("chunk"))
      .write.partitionBy("chunk").mode("overwrite").parquet(rawDir)

  /** Post-process raw chunks into the final listen shape, one hex chunk
    * at a time (download.py:30-59). */
  def postProcess(spark: SparkSession, rawDir: String, outDir: String): Unit =
    Chunks.foreach { c =>
      val raw = ParquetFooters.read(spark, rawDir).filter(col("chunk") === c)
      raw.select(
          col("user_id"),
          timestamp_seconds(col("listened_at")).as("listened_at"),
          split(col("artist_credit_mbids"), ",").as("artist_credit_mbids"),
          col("release_mbid"),
          col("recording_mbid"),
          col("chunk"))
        .write.mode("append").partitionBy("chunk").parquet(outDir)
    }
}
