package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.ParquetFooters

/** Bucket-partitioned, segment-logged co-occurrence pair state — the
  * storage layout that makes [[Cooccurrence]]'s incremental maintenance
  * BATCH-bounded instead of state-bounded.
  *
  * [[Cooccurrence.updateCounts]] is exact but its merge re-aggregates
  * the FULL prior pair state per increment (one exchange over every
  * stored pair): measured 38 s at 30× → 235 s at 100× for the SAME
  * batch shape, tracking the 375M→1.26B prior-pair rows (SCALE.md
  * round 10) — at the reference's 27B-listen MLHD scale that turns a
  * nightly job into a rebuild. This class is the production layout
  * (the partial-aggregate reuse contract of the reference's
  * incremental engine, incremental_stats_engine.py:86-142, applied to
  * the pair table):
  *
  *   - `base/` — the merged pair counts, parquet DIRECTORY-PARTITIONED
  *     by `pk = pmod(xxhash64(item_a, item_b), buckets)` with bounded
  *     16 MB row groups (the state-table discipline).
  *   - `seg/<n>/` — one pk-partitioned DELTA segment per applied
  *     batch: exactly the pair-count increments that batch created,
  *     O(batch × affected-user degree) rows, written without ever
  *     shuffling the base.
  *   - reads ([[pairs]]) merge base ∪ segments with one aggregate —
  *     segment volume is threshold-bounded, so the read-side merge
  *     overhead is a bounded fraction of the base scan.
  *   - [[compact]] folds segments into the base REWRITING ONLY TOUCHED
  *     pk PARTITIONS (Spark dynamic partition overwrite): a key-local
  *     batch stream rewrites only its key range; a spraying batch
  *     stream still pays the full fold, but only once the accumulated
  *     segment volume crosses `compactFraction` of the base — i.e. the
  *     fold cost is AMORTIZED over ~(compactFraction × base/batch)
  *     increments, so the per-increment cost is O(batch) either way.
  *
  * The presence table (`presence/`, distinct (item, user)) is appended
  * per batch; the batch's new-row anti-join and the d1 user join scan
  * it once per increment — presence is ~√(pairs) in practice (55M rows
  * where pairs are 1.26B at the 100× probe), so those scans are not
  * the scaling term the pair merge was.
  *
  * Everything here is exact bigint arithmetic; feeding
  * ([[pairs]], [[presence]]) to [[Cooccurrence.scoreCounts]] equals a
  * full [[Cooccurrence.pmi]] recompute bit-for-bit (q230's oracle
  * states exactly that, across two batches and a forced compaction).
  *
  * ==Crash-recovery contract==
  *
  * [[compact]] is crash-safe: the fold lands in a scratch dir, a
  * `compact-marker` file (written atomically via rename) then records
  * the touched pks and the consumed segment dirs, and only then are
  * base partitions swapped — each via rename-ASIDE (`pk=k` →
  * `pk=k.old`, staged `pk=k` in, aside dropped), every rename checked
  * and fatal on failure so a silent `false` from
  * `FileSystem.rename` can never drop a partition. While the marker
  * exists the staged fold output + aside copies are authoritative for
  * the listed pks; [[open]] (and a re-entered [[compact]]) finishes
  * the swap from the on-disk evidence alone — including deleting
  * exactly the CONSUMED segments named in the marker, so a re-run can
  * never re-fold them into an already-folded base. Without a marker,
  * `base` + the segment dirs + `presence` are authoritative and
  * `compact-tmp` is scratch.
  *
  * [[applyBatch]] is NOT crash-atomic (segment write → presence
  * append → meta write, matching the reference's single-driver batch
  * bookkeeping). After a crash inside it, recover manually with this
  * rule: compare the summed row count of the segment dirs against
  * `meta.segRows`. If they match, the crash preceded the segment
  * write — state is consistent, re-apply the batch. If the segments
  * hold MORE rows than meta records, the newest segment is
  * uncommitted; re-run the batch's presence anti-join — if it yields
  * new rows the presence append never ran, so delete the newest
  * segment and re-apply the batch; if it yields none the presence
  * append committed, so keep the segment and rewrite `meta.segRows`
  * to the measured total. A segment dir without a `_SUCCESS` marker
  * is a torn write: always delete it first.
  */
final class PairState private (
    spark: SparkSession, path: String, val buckets: Int) {
  import PairState._

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  private def pkOf = pmod(xxhash64(col("item_a"), col("item_b")),
    lit(buckets.toLong))

  private def segDirs(): Seq[String] = {
    val seg = hp(s"$path/seg")
    if (!fs.exists(seg)) Seq.empty
    else fs.listStatus(seg).filter(_.isDirectory)
      .map(_.getPath.toString).sorted.toSeq
  }

  /** One frame over N segment dirs. Each dir is read separately and
    * unioned: a single multi-path read trips partition discovery's
    * CONFLICTING_DIRECTORY_STRUCTURES on sibling pk-partitioned roots
    * (found by the 20-batch endurance spec — every pre-round-12 path
    * held at most ONE outstanding segment when it read them). The
    * union width is bounded by the compaction interval. */
  private def readSegs(segs: Seq[String]): DataFrame =
    segs.map(ParquetFooters.read(spark, _)).reduce(_ unionByName _)

  /** Merged pair counts `(item_a, item_b, users_both)`. With no
    * outstanding segments this is the base scan itself (no aggregate);
    * with segments it is base ∪ segments through one key-partitioned
    * sum — segment volume is bounded by the compaction threshold. */
  def pairs(): DataFrame = {
    val base = ParquetFooters.read(spark, s"$path/base").drop("pk")
    val segs = segDirs()
    if (segs.isEmpty) base
    else base.unionByName(readSegs(segs).drop("pk"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(sum(col("users_both")).as("users_both"))
  }

  /** The distinct (item, user) presence set backing the counts. */
  def presence(): DataFrame = ParquetFooters.read(spark, s"$path/presence")

  /** Row count of the compacted base (from the metadata file — no
    * scan). Excludes outstanding segment rows. */
  def baseRows: Long = readMeta().baseRows

  /** Apply one listen batch: compute the exact pair delta (the
    * [[Cooccurrence.updateCounts]] d1 ∪ d2 derivation — idempotent
    * under replayed (item, user) rows), land it as one pk-partitioned
    * segment, append the new presence rows, and fold segments into the
    * base only when their accumulated volume crosses `compactFraction`
    * of the base. Per-increment cost: O(batch × affected-user degree)
    * for the delta + an O(presence) scan for the anti-join/d1 — the
    * base pair state is NEVER shuffled on the non-compacting path.
    * Returns the segment's row count. */
  def applyBatch(
      batch: DataFrame, userCol: String, itemCol: String,
      compactFraction: Double = 0.25): Long = {
    require(compactFraction > 0, "compactFraction must be > 0")
    val bp = batch
      .select(col(itemCol).as("item"), col(userCol).as("user")).distinct()
    val pres = presence()
    val newPres = bp.join(pres, Seq("item", "user"), "left_anti")
      .transform(graft.core.StateTable.pin)
    // (n.item, user) is new and (o.item, user) is prior state, so the
    // two items can never coincide — no self-pair filter needed
    val d1 = newPres.alias("n")
      .join(pres.alias("o"), col("n.user") === col("o.user"))
      .select(least(col("n.item"), col("o.item")).as("item_a"),
        greatest(col("n.item"), col("o.item")).as("item_b"))
    val d2 = newPres.alias("x")
      .join(newPres.alias("y"),
        col("x.user") === col("y.user") && col("x.item") < col("y.item"))
      .select(col("x.item").as("item_a"), col("y.item").as("item_b"))
    val delta = d1.unionByName(d2)
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).cast("long").as("users_both"))
      .withColumn("pk", pkOf)
    // The delta is NOT pinned: its one expensive consumer is the
    // segment write, and the row count comes from the landed parquet
    // afterwards. A session-width pin here is the giant-block re-read
    // hazard StateTable.pinAt documents — at 30× the pinned delta's
    // 32 ~195 MB blocks OOMed the segment write's sort when
    // BlockManager re-cached them as whole ByteBuffers concurrently.
    val segPath = s"$path/seg/s${segDirs().size}"
    delta.write.option("parquet.block.size", RowGroupBytes)
      .partitionBy("pk").parquet(segPath)
    // explicit schema: a no-pair batch lands only a _SUCCESS marker,
    // which schema inference rejects. A distributed count, NOT driver
    // footers: the segment is a tasks×pk-dirs dynamic-partition tree
    // (driver footer opens measured ~4.5 ms each in round 14; the count
    // job reads the same footers 32-way parallel)
    val nSeg = spark.read.schema(delta.schema).parquet(segPath).count()
    // a fully-replayed batch creates no pairs — drop the segment (an
    // empty partitioned write leaves a file-less dir that poisons
    // later multi-dir reads)
    if (nSeg == 0) fs.delete(hp(segPath), true)
    // presence rows appended only AFTER every delta job has run (the
    // pinned delta above was the last action reading the old scan)
    newPres.write.mode("append")
      .option("parquet.block.size", RowGroupBytes)
      .parquet(s"$path/presence")
    graft.core.StateTable.unpin(newPres)
    val m = readMeta()
    val segRows = m.segRows + nSeg
    writeMeta(m.copy(segRows = segRows))
    if (segRows > compactFraction * math.max(1L, m.baseRows)) compact()
    nSeg
  }

  /** Fold all outstanding segments into the base, rewriting ONLY the
    * pk partitions the segments touch (untouched base partitions are
    * never read, shuffled, or rewritten), then drop the consumed
    * segments. Crash-safe per the class-doc contract: marker →
    * checked rename-aside swaps → marker drop. No-op with no
    * segments. */
  def compact(): Unit = {
    repair() // finish any half-done prior swap before folding anew
    val segs = segDirs()
    if (segs.isEmpty) return
    // ONE pin at a BYTES-measured width: pinOrStage's generous fixed
    // stage width (≥256 tasks) exists for frames whose size is unknown
    // before materialization, but a segment log IS parquet — its file
    // bytes are free from the driver's listing — so the width can be
    // exact up front. bytes/2 MB is the CONSERVATIVE expansion factor
    // (ADVICE r13): round 13 used bytes/8 MB assuming pinned serialized
    // rows run 3-5× the columnar bytes, but a segment of sorted longs
    // can dictionary/delta-encode well past 5×, putting pinned blocks
    // back in the 100+ MB giant-block re-read territory; at /2 MB even
    // a 16× expansion stays ≤ 32 MB per block, and the cost of
    // over-width is a few extra small tasks. (Exact footer ROWS were
    // tried first — driver footer opens are ~4.5 ms/file, a +2.3 s
    // driver stall per compact on a 512-file segment tree, strictly
    // worse than the width imprecision.) This keeps a 512-task exchange,
    // a count job and a conditional re-pin all dropped (measured ~5-8 s
    // of the q230 lifecycle on the round-13 box — OPTIMIZATION_r13.md).
    // Round-robin: hashing on pk alone would fold the pin into
    // ≤buckets non-empty blocks.
    val segBytes = segs
      .map(p => fs.getContentSummary(hp(p)).getLength).sum
    val segWidth = graft.core.StateTable.measuredWidth(
      spark, segBytes, 2L * 1024 * 1024)
    val segDf = graft.core.StateTable.pin(readSegs(segs).repartition(segWidth))
    val touched = segDf.select(col("pk")).distinct()
      .collect().map(_.getAs[Number](0).longValue()).sorted
    // the driver-side collect above is bounded by construction — pk is
    // pmod(…, buckets) — make the bound machine-checked (VERDICT r13)
    require(touched.length <= buckets,
      s"compact: ${touched.length} touched pks exceed buckets=$buckets")
    val m = readMeta()
    // width from the measured volume the fold actually carries: the
    // touched share of the base plus the segment rows. It rides an
    // EXPLICIT repartition on the group keys (the updateCounts
    // discipline): AQE coalesces a plain groupBy's shuffle back toward
    // the 64 MB advisory target no matter what shuffle.partitions
    // says, and a user-specified repartition is exempt.
    val carried =
      m.baseRows * touched.length / math.max(1, buckets) + m.segRows
    val width = graft.core.StateTable.measuredWidth(
      spark, carried, 2000000L)
    val basePath = s"$path/base"
    val touchedBase = ParquetFooters.read(spark, basePath)
      .filter(col("pk").isin(touched.map(Long.box): _*))
    // The fold STREAMS into a scratch dir — the base stays read-only
    // for the whole job, so nothing needs pinning (a pinned fold of a
    // 375M-row touched share is 20+ GB of Java-serialized blocks; this
    // exact site OOMed the 30× probe twice before landing here), and
    // the touched pk partition dirs are swapped in afterwards — the
    // same staging dynamic partition overwrite does internally, minus
    // the self-read conflict that forced the one-job form to pin.
    val tmp = s"$path/compact-tmp"
    fs.delete(hp(tmp), true)
    touchedBase.unionByName(segDf)
      .repartition(width, col("item_a"), col("item_b"), col("pk"))
      .groupBy(col("item_a"), col("item_b"), col("pk"))
      .agg(sum(col("users_both")).as("users_both"))
      .write.option("parquet.block.size", RowGroupBytes)
      .partitionBy("pk").parquet(tmp)
    graft.core.StateTable.unpin(segDf)
    // commit point: once the marker is durable, the staged fold output
    // is authoritative for the listed pks and the listed segments are
    // consumed — finishSwap (here or from a post-crash open) completes
    writeMarker(touched, segs)
    finishSwap(touched, segs)
  }

  private def markerPath = hp(s"$path/compact-marker")

  private def writeMarker(touched: Seq[Long], segs: Seq[String]): Unit = {
    val p = new java.util.Properties()
    p.setProperty("touched", touched.mkString(","))
    p.setProperty("segs", segs.mkString(","))
    val tmp = hp(s"$path/compact-marker.tmp")
    val out = fs.create(tmp, true)
    try p.store(out, null) finally out.close()
    renameOrThrow(tmp, markerPath)
  }

  private def renameOrThrow(
      src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Unit =
    // LocalFileSystem (and HDFS) report most rename failures as a
    // bare `false`, not an exception — unchecked, a failed swap here
    // would silently drop a base partition and then delete the only
    // other copy (the segment log)
    if (!fs.rename(src, dst)) throw new java.io.IOException(
      s"PairState compaction: rename $src -> $dst failed; " +
        "staged fold output and segments left intact for retry")

  /** Complete a marker-recorded swap. Idempotent — every touched pk is
    * finishable from on-disk evidence alone: staged output still
    * present → (re)do aside+install; aside present without an
    * installed dir → install; staged output gone → swap done, drop any
    * lingering aside. Then the consumed segments are dropped, meta is
    * recomputed, and the marker + scratch dir are removed (in that
    * order, so a crash anywhere re-enters here). */
  private def finishSwap(touched: Seq[Long], consumed: Seq[String]): Unit = {
    val basePath = s"$path/base"
    val tmp = s"$path/compact-tmp"
    touched.foreach { k =>
      val src = hp(s"$tmp/pk=$k")
      val dst = hp(s"$basePath/pk=$k")
      val old = hp(s"$basePath/pk=$k.old")
      if (fs.exists(src)) {
        if (fs.exists(dst) && fs.exists(old)) throw new java.io.IOException(
          s"PairState compaction: pk=$k has staged, installed and aside " +
            "dirs all present — unreachable under the swap protocol; " +
            "refusing to guess which is authoritative")
        if (fs.exists(dst)) renameOrThrow(dst, old)
        renameOrThrow(src, dst)
      }
      if (fs.exists(old)) fs.delete(old, true)
    }
    consumed.foreach(s => fs.delete(hp(s), true))
    // any segment NOT consumed by this fold (none under today's
    // all-segments compaction, but the marker format permits it) stays
    // counted in segRows
    // distributed counts, not driver footers: base and segments are
    // wide dynamic-partition trees (ParquetFooters scaladoc)
    val remaining = segDirs()
    val segRows = if (remaining.isEmpty) 0L
      else readSegs(remaining).count()
    writeMeta(Meta(buckets,
      baseRows = ParquetFooters.read(spark, basePath).count(),
      segRows = segRows))
    fs.delete(markerPath, false)
    fs.delete(hp(tmp), true)
  }

  /** Finish a half-done compaction swap if a marker is present (crash
    * between the marker write and the marker drop); no-op otherwise. */
  private[similarity] def repair(): Unit = {
    if (!fs.exists(markerPath)) return
    val in = fs.open(markerPath)
    val p = new java.util.Properties()
    try p.load(in) finally in.close()
    val touched = p.getProperty("touched", "").split(",")
      .filter(_.nonEmpty).map(_.toLong).toSeq
    val consumed = p.getProperty("segs", "").split(",")
      .filter(_.nonEmpty).toSeq
    finishSwap(touched, consumed)
  }

  private[similarity] def readMeta(): Meta = {
    // write protocol is tmp → delete meta → rename tmp onto meta, so a
    // crash can leave only the tmp — it then holds the newest state
    val live = hp(s"$path/meta")
    val src = if (fs.exists(live)) live else hp(s"$path/meta.tmp")
    val in = fs.open(src)
    val p = new java.util.Properties()
    try p.load(in) finally in.close()
    Meta(p.getProperty("buckets").toInt, p.getProperty("baseRows").toLong,
      p.getProperty("segRows").toLong)
  }

  private[similarity] def writeMeta(m: Meta): Unit = {
    val p = new java.util.Properties()
    p.setProperty("buckets", m.buckets.toString)
    p.setProperty("baseRows", m.baseRows.toString)
    p.setProperty("segRows", m.segRows.toString)
    // never truncate-in-place: a crash mid-store would corrupt the one
    // file the whole bookkeeping hangs off
    val tmp = hp(s"$path/meta.tmp")
    val out = fs.create(tmp, true)
    try p.store(out, null) finally out.close()
    fs.delete(hp(s"$path/meta"), false)
    renameOrThrow(tmp, hp(s"$path/meta"))
  }
}

object PairState {
  private val RowGroupBytes = 16L * 1024 * 1024

  private[similarity] final case class Meta(
      buckets: Int, baseRows: Long, segRows: Long)

  /** Build a fresh state at `path` from a listen corpus: the presence
    * set, the full pair base via the out-of-core [[ChunkedPairs]]
    * stage, both landed with bounded row groups; the base
    * pk-partitioned for [[PairState.compact]]'s partial rewrites.
    * Requires a corpus with at least one co-occurring pair (a state
    * has to hold a base to partition). */
  def create(
      spark: SparkSession, path: String,
      events: DataFrame, userCol: String, itemCol: String,
      buckets: Int = 64,
      pairChunks: Int = ChunkedPairs.Auto): PairState = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val pres = events
      .select(col(itemCol).as("item"), col(userCol).as("user"))
      .distinct().transform(graft.core.StateTable.pin)
    pres.write.option("parquet.block.size", RowGroupBytes)
      .parquet(s"$path/presence")
    val st = new PairState(spark, path, buckets)
    ChunkedPairs.dots(
        pres.select(col("item"), col("user"), lit(1L).as("c")),
        "item", "user", "c", pairChunks)
      .select(col("u1").as("item_a"), col("u2").as("item_b"),
        col("dot").as("users_both"))
      .withColumn("pk", st.pkOf)
      .write.option("parquet.block.size", RowGroupBytes)
      .partitionBy("pk").parquet(s"$path/base")
    graft.core.StateTable.unpin(pres)
    val baseRows = ParquetFooters.read(spark, s"$path/base").count()
    require(baseRows > 0,
      "PairState.create needs a corpus with at least one co-present pair")
    st.writeMeta(Meta(buckets, baseRows, 0L))
    st
  }

  /** Open an existing state (created by [[create]]) at `path`,
    * finishing any half-done compaction swap first (the crash-recovery
    * contract in the class doc). */
  def open(spark: SparkSession, path: String): PairState = {
    val probe = new PairState(spark, path, 1)
    val st = new PairState(spark, path, probe.readMeta().buckets)
    st.repair()
    st
  }
}
