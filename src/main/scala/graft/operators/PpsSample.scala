package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic probability-proportional-to-size (PPS) systematic
  * sampling — the auditor's weighted sample: lay the population out
  * on a weight line in the engine's seeded md5 order, drop m evenly
  * spaced selection points, and take every item whose weight interval
  * contains a point. Heavy items can be hit more than once
  * (`multiplicity` — the with-replacement convention that keeps the
  * Horvitz–Thompson estimator `Σ multiplicity·(W/m)·f(item)/w`
  * unbiased), and the multiplicities ALWAYS sum to exactly m.
  *
  * Determinism discipline: selection points are the integer midpoints
  * `p_k = (W·(2k+1)) div (2m)`; an item covering `[cum−w, cum)` is
  * hit `c(cum) − c(cum−w)` times where
  * `c(x) = clamp(⌈(2m·x − W)/(2W)⌉, 0, m)` counts the points below
  * `x` — pure integer algebra off ONE global running total, no float
  * and no per-item uniform anywhere (the [[SequencePack]] layout
  * discipline applied to sampling). Integer envelope: `2m·W` must
  * stay under 2⁶³ — 10⁶ samples over a 10¹² total weight is safe.
  *
  * Scale shape (100 TB population): one [[PrefixSum.runningTotal]]
  * range exchange over the (md5, id)-ordered weights, then a map-only
  * multiplicity formula — never a sort of the corpus, never a driver
  * loop, and the sample size is EXACT by construction (Poisson-style
  * samplers only hit m in expectation).
  */
object PpsSample {

  /** `(id, w, cum, multiplicity)` for the hit items only
    * (multiplicity ≥ 1). Zero/negative weights never sample.
    *
    * Oracle family: the weight line is ordered by a 32-char md5 hex
    * string so DuckDB can replay the draw verbatim (q265). Production
    * jobs should prefer [[sampleFast]] — same integer selection algebra
    * over an 8-byte xxhash64 order key (~4× narrower range-sort rows;
    * the md5 string sort was the dominant constant of the 30× probe).
    *
    * @param m sample size (with multiplicity), >= 1
    */
  def sample(
      df: DataFrame, id: Column, weight: Column, m: Long,
      salt: String = "pps"): DataFrame =
    selectByOrder(
      prepared(df, id, weight).withColumn("ord",
        md5(concat(col("id").cast("string"), lit(s":$salt")))), m)

  /** Production ordering family (the q218/q268 two-family precedent):
    * identical selection algebra to [[sample]], but the weight line is
    * ordered by `xxhash64(id || ':' || salt)` — one codegen'd 8-byte
    * hash instead of an md5 digest rendered to a 32-char string, so the
    * range exchange ships longs, not strings. xxhash64 is not
    * replayable in DuckDB, so the driver gate is the q278 envelope
    * (exact-m, multiplicity, id-domain and Horvitz–Thompson booleans);
    * PpsSampleSpec pins draw-level equivalence properties. */
  def sampleFast(
      df: DataFrame, id: Column, weight: Column, m: Long,
      salt: String = "pps"): DataFrame =
    selectByOrder(
      prepared(df, id, weight).withColumn("ord",
        xxhash64(concat(col("id").cast("string"), lit(s":$salt")))), m)

  private def prepared(df: DataFrame, id: Column, weight: Column): DataFrame =
    df.select(id.as("id"), weight.cast("long").as("w"))
      .filter(col("w") > 0L)

  private def selectByOrder(d: DataFrame, m: Long): DataFrame = {
    require(m >= 1L, s"m must be >= 1, got $m")
    val cum = PrefixSum.runningTotal(d,
      Seq(col("ord"), col("id")), col("w"), out = "cum")
      .transform(graft.core.StateTable.pin) // total + output pass
    val totals = cum.agg(max(col("cum")).as("big_w"))
    cum.crossJoin(broadcast(totals))
      .withColumn("num_hi", lit(2L * m) * col("cum") - col("big_w"))
      .withColumn("num_lo",
        lit(2L * m) * (col("cum") - col("w")) - col("big_w"))
      .withColumn("den2", lit(2L) * col("big_w"))
      // c(x) = clamp(ceil(num/den2), 0, m); ceil via (num+den2-1) div
      // den2 — integer `div`, never the double-rounding `/`
      .withColumn("c_hi", greatest(lit(0L), least(lit(m),
        expr("CASE WHEN num_hi <= 0 THEN 0 " +
          "ELSE (num_hi + den2 - 1) div den2 END"))))
      .withColumn("c_lo", greatest(lit(0L), least(lit(m),
        expr("CASE WHEN num_lo <= 0 THEN 0 " +
          "ELSE (num_lo + den2 - 1) div den2 END"))))
      .withColumn("multiplicity", col("c_hi") - col("c_lo"))
      .filter(col("multiplicity") >= 1L)
      .select(col("id"), col("w"), col("cum"), col("multiplicity"))
  }
}
