package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.ParquetFooters

/** Distributed triangle counting — the density diagnostic for the
  * dedup/similarity pair graphs this engine produces (a near-dup
  * component full of triangles is a genuine cluster; a triangle-free
  * straggly one is chained false positives — the adversarial case the
  * large-star/small-star fallback in [[graft.dedup.Clusters]] exists
  * for), and the classic market-basket co-occurrence metric.
  *
  * Algorithm: degree orientation (Schank's node-iterator++, the
  * standard shared-nothing formulation — e.g. Suri & Vassilvitskii,
  * WWW'11): orient every undirected edge from its LOWER-degree
  * endpoint to the higher (ties by id), enumerate wedges only from
  * out-neighbor pairs, and close each wedge against the oriented edge
  * set. Every triangle is counted exactly once, and the wedge count is
  * Σ d_out(v)² with d_out ≤ O(√m) on any graph — the orientation
  * flattens power-law hubs, turning the quadratic-in-degree blowup a
  * naive wedge join pays on its hottest node into a √m bound. Wedge
  * generation and the closing join are both equi-joins on edge keys —
  * two shuffles, no theta join, no per-node memory assumption beyond
  * the out-neighborhood.
  */
object Triangles {

  /** Canonicalize an edge list to distinct undirected edges `(a, b)`
    * with `a < b`, self-loops dropped. */
  def canonical(edges: DataFrame, src: String, dst: String): DataFrame =
    edges.filter(col(src) =!= col(dst))
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .distinct()

  /** Orient canonical edges low-degree → high-degree (ties by id):
    * `(u, v)` with `(deg, id)` of `u` < of `v` lexicographically. */
  def orient(canonicalEdges: DataFrame): DataFrame = {
    val deg = canonicalEdges.select(col("a").as("n"))
      .unionAll(canonicalEdges.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    canonicalEdges
      .join(deg.select(col("n").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("v"))
  }

  /** Per-node triangle participation counts `(node, n_triangles)` —
    * every node of each triangle credited once; triangle-free nodes
    * absent. */
  def perNode(edges: DataFrame, src: String, dst: String): DataFrame =
    triangles(edges, src, dst)
      // explode, not 3 unions: one pass over the triangle set
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))

  /** Materialize the canonical edge set ONCE for one-or-more counting
    * passes ([[trianglesOfCanonical]] consumes it in five plan
    * positions; q217 runs the exact count AND the sampled estimate over
    * the same frame). Placement is the size gate
    * ([[graft.core.StateTable.pinOrStage]]): below the session's gate
    * the set block-pins at the measured width (the fastest re-scan);
    * at or above, it stays a local-disk parquet stage — a corpus-sized
    * block pin is a cluster-storage budget with an unrecoverable
    * failure mode (the round-12 q191/q217 4 GiB-tier OOM class;
    * SCALE.md round 12), and none of the consumers join or group on a
    * layout the pin could preserve, so the disk form gives up no
    * exchange. Exactly one execution of the (often pair-join-derived,
    * expensive) upstream plan either way. */
  def materializeCanonical(
      edges: DataFrame, src: String, dst: String)
      : graft.core.StateTable.Placed =
    graft.core.StateTable.pinOrStage(
      canonical(edges, src, dst), Seq(col("a"), col("b")), "tri_canon")

  /** DOULION edge-sampled triangle estimate (Tsourakakis, Kang &
    * Faloutsos, KDD'09) — the 100 TB regime's answer when even the
    * degree-oriented exact count is wedge-bound (q191 measured 18× at
    * 30×: Σ d_out² grows with density): keep each canonical edge
    * independently with probability `keepHex/16`, count triangles
    * EXACTLY on the sampled graph (the machinery above, bloom prune
    * included), and scale by (16/keepHex)³ — every surviving triangle
    * needed all three of its edges kept, so the estimator is unbiased
    * with concentration bounds from the paper. Sampling cuts the edge
    * set by p, the wedge volume by ~p², and the dominant close shuffle
    * by ~p³.
    *
    * The coin is DETERMINISTIC — first md5 hex char of "a:b:salt" below
    * `keepHex` — the engine's seeded-sampling discipline (q79), so two
    * runs or two ENGINES sample the identical edge set and the whole
    * estimate is hash-reproducible (q217 replays it in SQL).
    * `keepHex` must divide 16 so the scale factor stays an exact
    * integer. Output one row: (sampled_triangles, doulion_estimate). */
  def doulion(
      edges: DataFrame, src: String, dst: String,
      keepHex: Int = 8, salt: String = "doulion",
      maxBloomEdges: Long = 4000000L): DataFrame = {
    require(Set(1, 2, 4, 8, 16).contains(keepHex),
      s"keepHex must divide 16 for an integer-exact estimator, got $keepHex")
    val c = canonical(edges, src, dst)
    val coin = substring(md5(concat_ws(":",
      col("a").cast("string"), col("b").cast("string"), lit(salt))), 1, 1)
    val keep = "0123456789abcdef".take(keepHex).map(_.toString)
    val f = 16L / keepHex
    // the sampled set is already canonical — skip the redundant
    // distinct exchange a re-canonicalization would pay. Placement is
    // the same size gate as [[materializeCanonical]] (the sampled set
    // is keepHex/16 of the corpus — still corpus-proportional, still
    // the q217 4 GiB-tier pin class).
    val sampled = graft.core.StateTable.pinOrStage(
      c.filter(coin.isin(keep: _*)), Seq(col("a"), col("b")),
      "tri_doulion")
    trianglesOfCanonical(sampled.df, sampled.rows, maxBloomEdges)
      .agg(count(lit(1)).as("sampled_triangles"))
      .select(col("sampled_triangles"),
        (col("sampled_triangles") * lit(f * f * f))
          .as("doulion_estimate"))
  }

  /** All triangles `(x, y, z)` with `x < y < z`, each exactly once.
    * Wedge step: out-neighbor pairs of each oriented center; close
    * step: semi-check the third edge against the oriented edge set. */
  def triangles(
      edges: DataFrame, src: String, dst: String,
      maxBloomEdges: Long = 4000000L): DataFrame = {
    // the edge set feeds FIVE plan positions (degrees twice, both wedge
    // sides, the close); materialize canonical once instead of
    // re-deriving the upstream pair join per consumer — size-gated
    // placement (pin below the gate, local-disk stage above; see
    // materializeCanonical)
    val cP = materializeCanonical(edges, src, dst)
    trianglesOfCanonical(cP.df, cP.rows, maxBloomEdges)
  }

  /** [[triangles]] over an ALREADY-canonical, already-placed `(a, b)`
    * edge set of `m` rows (the placement's `rows`) — the entry point
    * for callers that run several counting passes over the same graph
    * (q217 computes the exact count AND the sampled estimate side by
    * side): re-pinning the canonical set per pass would hold one extra
    * materialized edge copy per consumer, which at 30× is the difference
    * between fitting the default probe heap and not.
    *
    * EAGER in the chunked regime: when the measured wedge volume
    * exceeds the per-job budget, this call runs the whole out-of-core
    * close AT CALL TIME (oriented scratch + one bounded job per chunk)
    * and returns a scan over the landed partials — a deliberate
    * departure from lazy DataFrame semantics (the ChunkedPairs
    * contract). Callers must build the frame ONCE and reuse it;
    * constructing it twice redoes and double-stores the full close. */
  def trianglesOfCanonical(
      c: DataFrame, m: Long, maxBloomEdges: Long = 4000000L): DataFrame = {
    val spark = c.sparkSession
    // measured widths (the Bfs/LabelPropagation discipline, applied here
    // after the round-10 100× probe OOM'd the fixed session width on the
    // wedge join): edge-scale exchanges size from the placed edge count
    // `m`; the wedge join + close size from the measured wedge volume
    // Σ d_out·(d_out−1)/2 over the ORIENTED degrees — the same number
    // ChunkedPairs budgets by, computed from one cheap aggregate.
    // The oriented set is materialized ONCE, size-gated: its two
    // consumers (the wedge-terms aggregate and the wedge self-join)
    // each re-ran orient's two joins + degree aggregate when it stayed
    // lazy. Round 10's finding — pinning a second edge-sized copy
    // beside the pinned canonical set starved execution memory at
    // 100× (spill storm → FD exhaustion) — is exactly what the size
    // gate answers: below the gate the pin is bounded and safe, at or
    // above the set stays a local-disk stage (executor storage holds
    // nothing — the StateTable contract), and both consumers stream
    // the staged scan instead of recomputing the joins. The row bound
    // is EXACT, not an estimate: orientation is a 1:1 map of the
    // canonical set, so |oriented| = m — below the gate the placement
    // pins directly with no stage round-trip (pinOrStage
    // upperBoundRows contract).
    val oP = graft.core.StateTable.pinOrStage(
      orient(c), Seq(col("u")), "tri_oriented", upperBoundRows = m)
    val o = oP.df
    val wedgeTerms = {
      val r = o.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .agg(sum((col("d") * (col("d") - lit(1)) / lit(2)).cast("long")))
        .head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val wedgeWidth =
      graft.core.StateTable.measuredWidth(spark, math.max(m, wedgeTerms))
    // Out-of-core regime (round-10 100×, measured 4.1B wedges over
    // 119.6M edges): ONE exchange carrying the whole wedge volume is
    // tens of GB of shuffle write plus an equal sort on the read side —
    // at a probe-sized disk/heap that run died three different ways
    // (fixed-width spill storm → FD exhaustion at the 20k sandbox cap;
    // giant pinned-block re-cache OOM; disk full). The survivable shape
    // is the ChunkedPairs discipline: split the wedge volume into
    // center-keyed chunks (pmod(u, K) — even under hubs, max measured
    // d_out 97), run one bounded close job per chunk against the pinned
    // canonical set, land each partial as parquet, and return the scan
    // of the partials. Peak state = one chunk's exchange, disk = one
    // chunk's shuffle + the partials. The oriented set is materialized
    // ONCE as a ck-partitioned scratch table (16 MB row groups, the
    // state-table discipline) so chunk i reads only its partition.
    val ChunkTermsBudget = 500000000L
    val nChunks =
      math.min(64L, (wedgeTerms + ChunkTermsBudget - 1) /
        math.max(1L, ChunkTermsBudget)).toInt
    if (nChunks <= 1)
      trianglesWedgeClose(c, o, m, maxBloomEdges, wedgeWidth)
    else {
      val dir = graft.core.TempWork.dir("graft-triangles")
      o.withColumn("ck", pmod(col("u"), lit(nChunks)))
        .write.option("parquet.block.size", 16L * 1024 * 1024)
        .partitionBy("ck").mode("overwrite").parquet(s"$dir/oriented")
      // the ck-partitioned scratch is now the oriented set's only
      // surviving form — release the placement (at this size a stage;
      // deleting it halves the chunked regime's peak disk footprint)
      oP.release()
      val oAll = ParquetFooters.read(spark, s"$dir/oriented")
      val chunkWidth =
        graft.core.StateTable.measuredWidth(spark, wedgeTerms / nChunks)
      (0 until nChunks).foreach { i =>
        trianglesWedgeClose(
            c, oAll.filter(col("ck") === i).drop("ck"),
            m, maxBloomEdges, chunkWidth)
          .write.mode("overwrite").parquet(s"$dir/t$i")
      }
      // every partial has landed — the oriented scratch table has no
      // remaining reader; deleting it now halves the operator's peak
      // disk footprint (partials are triangle-sized, oriented is
      // edge-sized)
      graft.core.TempWork.delete(s"$dir/oriented")
      ParquetFooters.read(spark, (0 until nChunks).map(i => s"$dir/t$i"): _*)
    }
  }

  private def trianglesWedgeClose(
      c: DataFrame, o: DataFrame, m: Long,
      maxBloomEdges: Long, wedgeWidth: Int): DataFrame = {
    // the wedge self-join ALSO runs at the measured width (explicit
    // repartition on the join key — AQE reuses the one exchange for
    // both aliases): at the session width each task would sort
    // edge-rows/width input but STREAM wedgeTerms/width output into the
    // next shuffle's writer, and with storage pins squeezing execution
    // memory that degenerates into hundreds of tiny sorted spills per
    // task — the 100× probe died on file descriptors (ExternalSorter's
    // merge opens every spill at once; the sandbox cap is 20k) before
    // it could OOM. Bounding per-task volume bounds the spill count.
    val oW = o.repartition(wedgeWidth, col("u"))
    // wedges centered at u: out-neighbor pairs stated once as
    // (v1 < v2 by id); in the acyclic degree orientation each triangle
    // has exactly ONE node with two out-edges, so each triangle is one
    // wedge — closed against the CANONICAL (a < b) edge set, keeping
    // the close a pure two-key equi-join (no OR condition, which would
    // plan as a nested loop)
    val w = oW.select(col("u"), col("v").as("v1"))
      .join(oW.select(col("u"), col("v").as("v2")), Seq("u"))
      .filter(col("v1") < col("v2"))
    // Bloom-prune wedges BEFORE the close exchange when the edge set is
    // small enough for the filter to stay cache-resident: wedge volume
    // is Σ d_out² while triangles are typically a small fraction of it,
    // so probing each wedge's (v1, v2) against a bloom over the edge
    // set (8-byte xxhash64 keys, the q178 recipe) keeps
    // ~(1 − density − fpp) of the wedges out of the close shuffle,
    // map-side and codegen'd. The cutoff is EMPIRICAL, not cosmetic:
    // measured at 34M edges the ~40 MB filter turns every probe into a
    // last-level-cache miss and the "optimization" DOUBLES the runtime
    // (289 s vs 146 s at 30× sf0.1), while at 1.2M edges (~1.4 MB,
    // cache-resident) it cuts 20%. False positives are removed by the
    // exact join below either way — the filter is never a correctness
    // gate, so skipping it is always sound. (A bloom SURVIVAL regime
    // for huge graphs was tried and rejected in round 10:
    // `stat.bloomFilter` sizes every task's PARTIAL for the full
    // expected count — at 119.6M keys that is a 143 MB allocation per
    // aggregate task, a worse bomb than the exchange it would prune.
    // The out-of-core answer is the chunked close above.)
    val wp = if (m <= maxBloomEdges) {
      val bytes = BloomPrune.bloomBytesLong(
        c.select(xxhash64(col("a"), col("b")).as("__graft_ek")),
        "__graft_ek", expectedItems = m, fpp = 0.01)
      graft.functions.GraftFunctions.register(c.sparkSession)
      w.filter(graft.functions.GraftFunctions.bloomContains(
        xxhash64(col("v1"), col("v2")), lit(bytes)))
    } else w
    // the close exchange carries the WEDGE volume (Σ d_out² ≫ m on
    // dense graphs) — repartition on the join keys at the measured
    // width; the join's left distribution is then already satisfied,
    // so this is the exchange, not an extra one
    wp.repartition(wedgeWidth, col("v1"), col("v2"))
      .join(c, col("v1") === col("a") && col("v2") === col("b"))
      .select(least(col("u"), col("v1"), col("v2")).as("x"),
        when(col("u") =!= least(col("u"), col("v1"), col("v2")) &&
          col("u") =!= greatest(col("u"), col("v1"), col("v2")), col("u"))
          .when(col("v1") =!= least(col("u"), col("v1"), col("v2")) &&
            col("v1") =!= greatest(col("u"), col("v1"), col("v2")),
            col("v1"))
          .otherwise(col("v2")).as("y"),
        greatest(col("u"), col("v1"), col("v2")).as("z"))
  }
}
