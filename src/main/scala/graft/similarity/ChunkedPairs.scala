package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.ParquetFooters

/** Out-of-core shared-item pair aggregation — the reference's MLHD
  * chunking (similarity/recording/common.py:190-213: aggregate per
  * user-prefix chunk, parquet each partial, combine) applied to the
  * co-listen pair stage that dominates every user-similarity job.
  *
  * The exact pair aggregate Σ c1·c2 over users sharing an item is ONE
  * item-keyed join + ONE (u1, u2) aggregate — correct at any scale, but
  * its hash state is the full pair space of the corpus, the largest
  * single working set the engine materializes (the 4 GiB heap probe:
  * q100/q101 OOM at the production per-executor share while every
  * smaller stage survives). Chunking on u1 splits that one job into
  * `chunks` independent jobs — chunk i aggregates only pairs whose u1
  * routes to i, writes its (complete, disjoint) partial to parquet, and
  * the union of partials IS the answer: no combine arithmetic, because
  * a (u1, u2) key lives in exactly one chunk. Peak state per job drops
  * by ~chunks; the join's build side (the full counts frame) is read
  * from the caller's pin each time, not recomputed.
  *
  * This mirrors how the reference survives the 27B-listen MLHD corpus
  * on fixed executors, and it is the 100 TB shape: the pair space never
  * has to fit one job's memory — `chunks` scales it down arbitrarily,
  * trading sequential jobs for peak footprint.
  */
object ChunkedPairs {

  /** Sentinel chunk count: measure, don't guess — [[dots]] resolves it
    * via [[autoChunks]], so small corpora run the direct single-job
    * plan (zero chunk-job latency) and large ones get exactly the
    * out-of-core split their pair volume requires. */
  val Auto: Int = 0

  /** Chunk count sized from the MEASURED pair-term volume
    * Σ_it d_it·(d_it−1)/2 — the exact number of (u1 < u2) join-output
    * rows the pair aggregate must absorb, computed with one cheap
    * item-degree aggregate over `counts` (pinned by every caller, so
    * this is a cached scan). One chunk per `targetPairTerms` terms,
    * clamped to [1, 256]; the default target is sized so the chunk
    * that passed the 4 GiB local[4] probe at 30× (≈35M terms) sits
    * comfortably inside it. */
  def autoChunks(
      counts: DataFrame, itCol: String,
      targetPairTerms: Long = 40L * 1000 * 1000): Int = {
    val r = counts.groupBy(col(itCol)).agg(count(lit(1)).as("d"))
      .agg(sum((col("d") * (col("d") - lit(1)) / lit(2)).cast("long")))
      .collect()(0)
    val terms = if (r.isNullAt(0)) 0L else r.getAs[Number](0).longValue()
    math.min(256, math.max(1,
      math.ceil(terms.toDouble / targetPairTerms).toInt))
  }

  /** `(u1, u2, dot)` with u1 < u2 and `dot = Σ_items c1·c2` over
    * `counts` rows `(uCol, itCol, cCol)`. `chunks <= 1` runs the single
    * direct job; `chunks = n` runs n chunk jobs persisting parquet
    * partials under a fresh [[graft.core.TempWork]] dir (pass `workDir`
    * to persist elsewhere). Exact either way — chunk routing is a pure
    * function of u1, so partials are disjoint and complete.
    *
    * `post` runs INSIDE each chunk job on its complete pair aggregate
    * (and once on the direct result when unchunked) — the hook that
    * turns "persist the pair space" into "persist a per-chunk
    * reduction of it": a consumer that only needs per-user top-k (the
    * q101 shape) reduces each chunk to k rows per user before anything
    * is written, so the full pair set exists only transiently inside
    * one chunk job's shuffle. Each (u1, u2) group is complete within
    * its chunk, so any per-group or per-pair reduction is exact. */
  def dots(
      counts: DataFrame, uCol: String, itCol: String, cCol: String,
      chunks0: Int = Auto, workDir: Option[String] = None,
      post: DataFrame => DataFrame = identity): DataFrame = {
    require(chunks0 >= 0 && chunks0 <= 4096,
      s"chunks must be in [1,4096] (or Auto = 0 to measure), got $chunks0")
    val chunks =
      if (chunks0 == Auto) autoChunks(counts, itCol) else chunks0
    val a = counts.select(col(uCol).as("u1"), col(itCol).as("it"),
      col(cCol).as("c1"))
    val b = counts.select(col(uCol).as("u2"), col(itCol).as("it"),
      col(cCol).as("c2"))
    def aggOf(aSide: DataFrame) = post(aSide.join(b, Seq("it"))
      .filter(col("u1") < col("u2"))
      .groupBy(col("u1"), col("u2"))
      .agg(sum(col("c1") * col("c2")).as("dot")))
    if (chunks <= 1) aggOf(a)
    else {
      // Bucket counts by ITEM once, then every chunk job's join is
      // exchange-free on both sides (the u1-route filter preserves the
      // bucket layout): without this, each of the n chunk jobs would
      // re-shuffle the FULL b side — n× the single-job shuffle volume,
      // measured 6 s → 26 s on q101 at sf0.1 before bucketing. With it,
      // total shuffle ≈ one bucket write + the (1/n-sized) pair
      // aggregates, and the chunked run pays only per-job latency.
      val spark = counts.sparkSession
      val dir = workDir.getOrElse(graft.core.TempWork.dir("pair-chunks"))
      // one file per bucket, sorted, so the scan's sortBy metadata stands
      // in for the SMJ sort (multi-file buckets force Spark to re-sort
      // both sides in every chunk job)
      val bucketed = graft.core.StateTable.Regime(tabled = true,
          width = spark.conf.get("spark.sql.shuffle.partitions").toInt)
        .laidOut(counts.select(col(uCol).as("u"), col(itCol).as("it"),
          col(cCol).as("c")), "it", "pair_counts")
      val ab = bucketed.df.select(col("u").as("u1"), col("it"),
        col("c").as("c1"))
      val bb = bucketed.df.select(col("u").as("u2"), col("it"),
        col("c").as("c2"))
      // merge hint: the planner otherwise broadcasts the (small-looking)
      // b side and REBUILDS that broadcast in every chunk job — n hash
      // builds of the full counts frame; the bucketed sort-merge join is
      // exchange-free and sort-free by layout, so it streams instead
      def aggBk(aSide: DataFrame) = post(aSide.join(bb.hint("merge"),
          Seq("it"))
        .filter(col("u1") < col("u2"))
        .groupBy(col("u1"), col("u2"))
        .agg(sum(col("c1") * col("c2")).as("dot")))
      val route = pmod(xxhash64(col("u1")), lit(chunks))
      // partials are plain parquet; the bucketed table serves only the
      // (eager) chunk jobs, so it is released once they have landed
      val paths = try (0 until chunks).map { i =>
        val path = s"$dir/chunk_$i"
        aggBk(ab.filter(route === i))
          .write.mode("overwrite").parquet(path)
        path
      } finally bucketed.release()
      ParquetFooters.read(spark, paths: _*)
    }
  }
}
