package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection, fully declarative:
  *
  *   shingle → per-permutation min-hash → band → bucket-join → verify.
  *
  * Permutations are the standard universal-hash family `(a·x + b) mod p`
  * over a base 64-bit content hash (`xxhash64`), so the whole signature is
  * computed by codegen'd built-in expressions — no UDFs, no RDDs.
  *
  * Scale: the only join is on (band index, band hash) — candidate pairs are
  * generated per bucket, never all-pairs. Bucket skew (a degenerate shingle
  * shared by everything) is bounded by `maxBucketSize`: oversized buckets
  * are dropped, the standard LSH guardrail at corpus scale.
  *
  * The reference has no dedup operators; this is part of the
  * training-data-pipeline surface this engine adds (builder brief), with
  * the banding scheme from Broder's MinHash and the LSH chapter of Mining
  * of Massive Datasets (public).
  */
object MinHash {
  private val Prime = 2147483647L // 2^31 - 1, Mersenne

  /** Deterministic permutation parameters derived from the permutation
    * index — reproducible across runs and engines. The base hash is first
    * reduced into the 31-bit prime field so every product stays far below
    * Long.MaxValue (Spark 4 runs ANSI mode: a silent-overflow formulation
    * would throw ARITHMETIC_OVERFLOW). */
  private def permuted(h: Column, i: Int): Column = {
    val a = 2L * i + 1
    val b = 1013904223L + 31L * i
    pmod(pmod(h, lit(Prime)) * lit(a) + lit(b), lit(Prime))
  }

  private def pmod(e: Column, m: Column): Column = ((e % m) + m) % m

  /** Word shingles of length `k` per document: (id, shingle) distinct —
    * the standard n-k+1 sliding windows; documents shorter than `k` tokens
    * yield none. Join-free: one transform over positions per row. */
  def shingles(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = docs.select(col(idCol),
      filter(split(col(textCol), " "), t => t =!= "").as("toks"))
    val n = size(col("toks"))
    toks.select(col(idCol),
        explode(when(n >= k, transform(
            sequence(lit(0), n - k),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(k)))))
          .otherwise(array().cast("array<string>"))).as("shingle"))
      .filter(col("shingle") =!= "")
      .distinct()
  }

  /** MinHash signature: for each of `numPerms` permutations, the min over
    * the document's shingle hashes. One hash aggregation, `numPerms`
    * codegen'd min-columns — no shuffle per permutation. */
  def signatures(sh: DataFrame, idCol: String, numPerms: Int): DataFrame = {
    val h = xxhash64(col("shingle"))
    val mins = (0 until numPerms).map(i => min(permuted(h, i)).as(s"mh_$i"))
    sh.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** Band buckets of a signature frame: (idCol, band, bh) — one row per
    * (document, band). These rows ARE the persistable LSH index: write
    * them once per corpus and the incremental path joins new batches
    * against them without ever recomputing corpus signatures. */
  def buckets(
      sigs: DataFrame, idCol: String, numPerms: Int, bands: Int): DataFrame = {
    val rowsPerBand = numPerms / bands
    require(rowsPerBand * bands == numPerms, "bands must divide numPerms")
    val bandHashes = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col(s"mh_$i"))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("bh"))
    }
    sigs
      .select(col(idCol), explode(array(bandHashes: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  private def capBuckets(buckets: DataFrame, maxBucketSize: Int): DataFrame =
    buckets
      .withColumn("bucket_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bh"))))
      .filter(col("bucket_n") <= maxBucketSize)

  /** Candidate pairs via banded LSH: signature split into `bands` bands of
    * `numPerms / bands` rows; documents sharing any band hash are
    * candidates. */
  def candidates(
      sigs: DataFrame, idCol: String, numPerms: Int, bands: Int,
      maxBucketSize: Int = 1000): DataFrame = {
    val bounded = capBuckets(
      buckets(sigs, idCol, numPerms, bands), maxBucketSize)
    val a = bounded.select(col(idCol).as("id_a"), col("band"), col("bh"))
    val b = bounded.select(col(idCol).as("id_b"), col("band"), col("bh"))
    a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Incremental candidate pairs: only pairs TOUCHING the new batch —
    * (new × corpus) ∪ (new × new) — via an equi-join of the new batch's
    * buckets against the persisted corpus bucket index. Corpus × corpus
    * pairs are never regenerated, and corpus signatures are never
    * recomputed; the bucket cap applies to the COMBINED population, the
    * same skew guarantee as the batch path. */
  def incrementalCandidates(
      newBuckets: DataFrame, corpusBuckets: DataFrame, idCol: String,
      maxBucketSize: Int = 1000): DataFrame = {
    val bounded = capBuckets(
      newBuckets.withColumn("is_new", lit(true)).unionByName(
        corpusBuckets.withColumn("is_new", lit(false))), maxBucketSize)
    val a = bounded.filter(col("is_new"))
      .select(col(idCol).as("id_n"), col("band"), col("bh"))
    val b = bounded.select(col(idCol).as("id_o"), col("band"), col("bh"))
    a.join(b, Seq("band", "bh"))
      .filter(col("id_n") =!= col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"))
      .distinct()
  }

  /** Exact Jaccard verification of candidate pairs (intersection via
    * shingle equi-join restricted to candidates — still never all-pairs). */
  def verify(cands: DataFrame, sh: DataFrame, idCol: String): DataFrame = {
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val inter = cands
      .join(sh.select(col(idCol).as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard", col("i") / (col("sz_a") + col("sz_b") - col("i")))
  }

  /** End-to-end near-dup pipeline: returns (id_a, id_b, jaccard) for
    * verified pairs with jaccard >= threshold. */
  def nearDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numPerms: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    // The batch path gets the SAME treatment the incremental path earned
    // at 30×/100× (see incrementalNearDuplicates): the round-10 100×
    // probe killed this path with "Not enough memory to build and
    // broadcast" — the static planner guessed the pair-driven verify
    // sides small and hard-coded broadcast builds. Materialize the two
    // frames with multiple consumers (shingles feed signatures + all
    // three verify positions; candidates feed the width measurement +
    // verify), hint both verify sides to a spillable sort-merge join,
    // and scope the verify width from the MEASURED candidate ×
    // avg-shingle volume.
    //
    // Placement is the size gate (StateTable.pinOrStage): below the
    // session's gate both frames block-pin exactly as before; at or
    // above, they stay local-disk parquet stages — the corpus-sized
    // shingle pin was the q46 4 GiB-tier storage-budget OOM (SCALE.md
    // round 12), and the verify consumers shuffle on their own keys
    // either way, so the disk form gives up no exchange.
    val spark = docs.sparkSession
    val sh = graft.core.StateTable.pinOrStage(
      shingles(docs, idCol, textCol, shingleLen), Seq(col(idCol)),
      "mh_shingles")
    val sigs = signatures(sh.df, idCol, numPerms)
    val cands = graft.core.StateTable.pinOrStage(
      candidates(sigs, idCol, numPerms, bands),
      Seq(col("id_a"), col("id_b")), "mh_cands")
    // widths from the placements' own measured counts (Placed.rows) —
    // the three width inputs used to be three more count jobs
    val nCands = cands.rows
    val nDocs = math.max(1L, docs.count())
    val avgSh = math.max(1L, sh.rows / nDocs)
    val width = graft.core.StateTable.measuredWidth(
      spark, nCands * avgSh, 2000000L)
    val out = graft.core.ScopedConf.withShufflePartitions(spark, width) {
      verify(cands.df.hint("merge"), sh.df.hint("merge"), idCol)
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .transform(graft.core.StateTable.pin)
    }
    // the result pin is eager and lineage-truncated, so the input state
    // has no remaining consumer — release it (the KCore discipline:
    // unpin the pinned form, delete the staged tree) or a multi-query
    // session accumulates superseded shingle/candidate state
    sh.release()
    cands.release()
    out
  }

  /** Incremental end-to-end: near-dup pairs TOUCHING `newDocs`, against a
    * corpus whose bucket index ([[buckets]] rows) was built once and
    * persisted. What gets recomputed per batch, by cost tier:
    *   - new-batch shingles + signatures: O(batch) — the only text scan
    *   - candidate join: new buckets vs the index — an equi-join whose
    *     left side is batch-sized
    *   - verification shingles: recomputed ONLY for documents that appear
    *     in some candidate pair (semi-join on the union corpus ∪ batch) —
    *     candidate-sized, not corpus-sized
    * This is the 100 TB ingest shape: a daily batch dedups against a
    * 27B-document corpus without touching the corpus text or signatures.
    */
  def incrementalNearDuplicates(
      newDocs: DataFrame, corpusDocs: DataFrame, corpusBuckets: DataFrame,
      idCol: String, textCol: String,
      shingleLen: Int = 3, numPerms: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucketSize: Int = 1000): DataFrame = {
    val newSh = shingles(newDocs, idCol, textCol, shingleLen)
    val newBuckets = buckets(
      signatures(newSh, idCol, numPerms), idCol, numPerms, bands)
    // cands feeds `touched` AND the verify join; candSh feeds verify's
    // size aggregate and BOTH pair-side joins — materialize both so the
    // recompute (corpus scan + shingle explode ×3) is paid once.
    // Size-gated placement, same rationale as nearDuplicates: both
    // frames are candidate-volume-sized, which on a dup-heavy batch is
    // corpus-proportional (q139 grew ~100× with the corpus).
    val cands0 = graft.core.StateTable.pinOrStage(
      incrementalCandidates(
        newBuckets, corpusBuckets, idCol, maxBucketSize),
      Seq(col("id_a"), col("id_b")), "mh_inc_cands")
    val cands = cands0.df
    val touched = cands.select(col("id_a").as(idCol))
      .unionByName(cands.select(col("id_b").as(idCol))).distinct()
    // batch shingles are already in hand (newSh) — only candidate-touched
    // CORPUS docs get re-shingled, keeping the batch text scan single.
    // The `merge` hint is the memory-safety decision the 4 GiB probe
    // forced: both verify-side frames are PAIR-DRIVEN — their true size
    // is a function of candidate volume the static planner cannot see
    // (it guessed small and hard-coded broadcast builds that died at 30×
    // under a production-sized heap; the pin does not help because
    // localCheckpoint carries the ORIGINAL static estimate over). A
    // sort-merge join spills instead of building driver-side hash
    // tables, which is the only plan that survives every scale.
    val candSh0 = graft.core.StateTable.pinOrStage(
      shingles(
        corpusDocs.join(touched, Seq(idCol), "left_semi"),
        idCol, textCol, shingleLen)
        .unionByName(newSh.join(touched, Seq(idCol), "left_semi")),
      Seq(col(idCol)), "mh_inc_sh")
    val candSh = candSh0.df
    // Scope the verify width from the MEASURED pair volume (all three
    // counts are cached scans over the pins): the inter join streams
    // ≈ candidates × per-doc shingle rows, and a fixed session width
    // puts that whole stream's sort frames on a handful of tasks — the
    // 100× probe OOM'd an 8 GiB heap exactly there. Same discipline as
    // LabelPropagation/TemporalBfs: width = measured rows / rows per task,
    // AQE coalesces the small post-aggregate sides back down.
    val spark = newDocs.sparkSession
    val nCands = cands0.rows // placement-measured — no re-count job
    val nTouched = math.max(1L, touched.count())
    val avgSh = math.max(1L, candSh0.rows / nTouched)
    val width = graft.core.StateTable.measuredWidth(
      spark, nCands * avgSh, 2000000L)
    val out = graft.core.ScopedConf.withShufflePartitions(spark, width) {
      verify(cands.hint("merge"), candSh.hint("merge"), idCol)
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .transform(graft.core.StateTable.pin)
    }
    // same release discipline as the batch path above
    cands0.release()
    candSh0.release()
    out
  }
}
