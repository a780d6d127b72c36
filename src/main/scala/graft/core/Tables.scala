package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided synthetic tables (TESTDATA.md).
  *
  * Each table is a single parquet file under the scale-factor dir. At 100 TB
  * these would be partitioned directories; reads stay identical
  * ([[ParquetFooters.read]] handles both), and every query keeps filters and
  * projections declarative so Catalyst pushes them into the scan.
  *
  * A load's schema is read on the driver from the table's footer by
  * [[ParquetFooters]], the only module that opens footers, so loading a
  * table launches no Spark job; the frame has exactly the schema
  * `spark.read.parquet` would infer.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame =
    ParquetFooters.read(spark, s"$sfDir/$table.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` has shipped under two physical parquet encodings:
    * TIMESTAMP(NANOS) (read as a nanos long via the legacy flag, then
    * floor-divided to micros — the truncation DuckDB applies) and plain
    * `timestamp[us]` (read as TIMESTAMP_NTZ under Spark 4's NTZ
    * inference). Branch on the resolved type so either file loads into
    * the same session-TZ TimestampType; with the UTC session timezone
    * every engine sees identical event-time values.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // The common encodings need no flag. Only a PARQUET_TYPE_ILLEGAL
    // nanos failure retries, converting the footer under a CLONE of the
    // session conf with the legacy nanos flag on: the session conf is
    // never written, so a concurrent request on the same session cannot
    // see the flag. The frame carries the converted schema (`ts: bigint`),
    // so its later lazy scans need no flag either.
    val df =
      try load(s, d, "events")
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("TIMESTAMP(NANOS") =>
          val nanos = s.sessionState.conf.clone()
          nanos.setConfString("spark.sql.legacy.parquet.nanosAsLong", "true")
          ParquetFooters.readWith(s, nanos, None, Seq(s"$d/events.parquet"))
      }
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case _                => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
