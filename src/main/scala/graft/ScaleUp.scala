package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.ParquetFooters

/** Scale-factor multiplier for BENCHMARKING ONLY (never for oracle runs):
  * replicates each driver-provided table `factor`× with key spaces shifted
  * per copy so referential integrity holds and per-key cardinalities stay
  * realistic (10× the users, not 10× the listens per user).
  *
  * Content-bearing columns are perturbed per copy so the similarity
  * families scale HONESTLY: replicated-identical documents/vectors would
  * make near-duplicate pair counts grow quadratically in the factor, which
  * benchmarks the blow-up, not the operator. Token rotation (documents)
  * and circular shifts (embeddings) keep lengths, vocabularies, and norms
  * while making cross-copy similarity low, so output sizes scale ~linearly
  * like a real corpus.
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <dstDir> <factor>
  */
object ScaleUp {

  /** Explode each row into `factor` copies, tagged 0..factor-1. */
  private def copies(df: DataFrame, factor: Int): DataFrame =
    df.withColumn("copy", explode(lit((0L until factor.toLong).toArray)))

  /** Shift an integral key into its copy's disjoint key space. */
  private def shift(keyCol: String, span: Long): Column =
    col(keyCol) + col("copy") * lit(span)

  private def span(df: DataFrame, keyCol: String): Long =
    df.agg(max(col(keyCol))).collect()(0).getLong(0) + 1L

  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args
    val factor = factorS.toInt
    val spark = GraftSession.fromEnv()
    // legacy-format sources (TIMESTAMP(NANOS) events.ts) read as a raw
    // nanos long and re-write as INT64 — either way the scaled dir stays
    // drop-in compatible with Tables.events, which branches on the
    // resolved ts type
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(t: String): DataFrame =
      ParquetFooters.read(spark, s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.drop("copy").write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // dims stay as-is: nation/region key spaces are part of the schema
    write(read("region"), "region")
    write(read("nation"), "nation")

    val custSpan = span(read("customer"), "c_custkey")
    val ordSpan = span(read("orders"), "o_orderkey")
    val partSpan = span(read("part"), "p_partkey")
    val suppSpan = span(read("supplier"), "s_suppkey")

    // re-derive c_name from the SHIFTED key: replicated-identical names
    // would make fuzzy-match pair counts grow quadratically in the
    // factor (the same blow-up the documents token rotation avoids) —
    // a real 30× customer base has 30× the names, not 30 copies of each
    write(copies(read("customer"), factor)
      .withColumn("c_custkey", shift("c_custkey", custSpan))
      // format_string pads WITHOUT truncating (lpad truncates to len, which
      // would collapse 10+-digit shifted keys to identical names and
      // reintroduce the quadratic fuzzy-match blow-up at very large factors)
      .withColumn("c_name",
        format_string("Customer#%09d", col("c_custkey"))), "customer")
    write(copies(read("supplier"), factor)
      .withColumn("s_suppkey", shift("s_suppkey", suppSpan)), "supplier")
    write(copies(read("part"), factor)
      .withColumn("p_partkey", shift("p_partkey", partSpan)), "part")
    write(copies(read("orders"), factor)
      .withColumn("o_orderkey", shift("o_orderkey", ordSpan))
      .withColumn("o_custkey", shift("o_custkey", custSpan)), "orders")
    write(copies(read("lineitem"), factor)
      .withColumn("l_orderkey", shift("l_orderkey", ordSpan))
      .withColumn("l_partkey", shift("l_partkey", partSpan))
      .withColumn("l_suppkey", shift("l_suppkey", suppSpan)), "lineitem")

    val ev = read("events")
    val evIdSpan = span(ev, "event_id")
    val evUserSpan = span(ev, "user_id")
    write(copies(ev, factor)
      .withColumn("event_id", shift("event_id", evIdSpan))
      .withColumn("user_id", shift("user_id", evUserSpan)), "events")

    // documents: rotate the token sequence by a copy-dependent offset —
    // same length/vocab, near-disjoint shingle sets across copies
    val docs = read("documents")
    val docSpan = span(docs, "doc_id")
    write(copies(docs, factor)
      .withColumn("doc_id", shift("doc_id", docSpan))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("off", (col("copy") * 7 % greatest(size(col("toks")), lit(1)))
        .cast("int"))
      .withColumn("text", concat_ws(" ", concat(
        slice(col("toks"), col("off") + 1, size(col("toks"))),
        slice(col("toks"), lit(1), col("off")))))
      .drop("toks", "off"), "documents")

    // embeddings: circular-shift the vector per copy — norms preserved,
    // cross-copy cosine decorrelated
    val emb = read("embeddings")
    val vecSpan = span(emb, "vec_id")
    write(copies(emb, factor)
      .withColumn("vec_id", shift("vec_id", vecSpan))
      .withColumn("n", size(col("embedding")))
      .withColumn("off", (col("copy") % greatest(col("n"), lit(1))).cast("int"))
      .withColumn("embedding", concat(
        slice(col("embedding"), col("off") + 1, col("n")),
        slice(col("embedding"), lit(1), col("off"))))
      .drop("n", "off"), "embeddings")

    println(s"scaled $src -> $dst x$factor")
    spark.stop()
  }
}
