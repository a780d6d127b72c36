package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.input_file_name
import org.apache.spark.sql.types.StructType
import graft.core.ParquetFooters

/** File-based ingestion surfaces beyond plain parquet:
  *
  *   - [[csvToParquet]] — delimited-text ETL (the reference's MLHD
  *     tsv.zst → parquet conversion, mlhd/download.py:63-106, done with
  *     pandas on the driver there; here a distributed Spark read with the
  *     source file recorded per row via input_file_name).
  *   - [[globScan]] — pathGlobFilter-restricted scans (the reference reads
  *     MLHD user-prefix chunk files this way, mlhd/download.py:45-52).
  */
object FileIngest {

  /** Distributed CSV/TSV → parquet with provenance column. */
  def csvToParquet(
      spark: SparkSession, sourceDir: String, targetPath: String,
      schema: StructType, sep: String = "\t", header: Boolean = false): Unit =
    spark.read
      .schema(schema)
      .option("sep", sep)
      .option("header", header.toString)
      .csv(sourceDir)
      .withColumn("source_file", input_file_name())
      .write.mode("overwrite").parquet(targetPath)

  /** Parquet scan restricted to files matching a glob (chunked-dataset
    * processing: one user-prefix chunk at a time bounds shuffle size — the
    * reference's out-of-core pattern for its 27B-listen dataset). */
  def globScan(spark: SparkSession, dir: String, glob: String): DataFrame =
    ParquetFooters.readWith(
      spark, spark.sessionState.conf, Some(glob), Seq(dir))
}
