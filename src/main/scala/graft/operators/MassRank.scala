package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank-style influence propagation in EXACT integer arithmetic —
  * graph centrality for source-authority weighting, influence-aware
  * sampling, or spam-site down-weighting over a link/similarity graph.
  * Each node starts with `initMass` integer mass units; per iteration a
  * damped fraction (`dampNum/dampDen`, integer division) flows out in
  * equal integer shares along out-edges, the division remainder and the
  * undamped fraction stay put, and dangling nodes keep everything. Total
  * mass is conserved EXACTLY (kept + distributed = mass, an integer
  * identity), so the result is bit-reproducible on any engine with
  * integer div/mod — float PageRank's accumulation-order ambiguity never
  * appears, and convergence is observable as literal fixed-point mass.
  *
  * Scale shape (100 TB): per iteration ONE shuffle join (mass ⋈ edges on
  * src) and ONE map-side-combinable sum by dst — the q145 label-
  * propagation shape; the edge list is materialized once with
  * SIZE-GATED placement ([[graft.core.StateTable]]: block pin below the
  * gate, local-disk parquet stage above — a corpus-sized pin is a
  * cluster-storage budget) and iterations are a fixed constant.
  * Out-degrees are computed once.
  */
object MassRank {

  /** `iters` propagation rounds over `edges`; returns `(node, mass)` for
    * every node appearing as src or dst. Multi-edges weight the flow
    * (each parallel edge carries one share). */
  def rank(
      edges: DataFrame, srcCol: String, dstCol: String,
      initMass: Long = 1000000L, dampNum: Int = 85, dampDen: Int = 100,
      iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"damping must satisfy 0 <= num <= den, got $dampNum/$dampDen")
    require(initMass > 0, s"initMass must be positive, got $initMass")

    // The edge list is the corpus-sized state every iteration re-reads —
    // size-gated placement (StateTable.pinOrStage: block pin below the
    // gate, local-disk parquet stage above; a corpus-sized pin is the
    // round-12 cluster-storage-budget failure class). The pin branch
    // lays the blocks out on src, which the per-iteration share join
    // also clusters on; out-degrees and per-round mass are node-sized
    // (the frontier class) and keep their pins in both regimes.
    val eP = graft.core.StateTable.pinOrStage(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")),
      Seq(col("src")), "massrank_e")
    val e = eP.df
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("od"))
      .transform(graft.core.StateTable.pin)
    var mass = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .withColumn("mass", lit(initMass))
      .transform(graft.core.StateTable.pin)

    for (_ <- 1 to iters) {
      val staged = mass.join(outdeg, col("node") === col("src"), "left")
        .withColumn("out_mass", when(col("od").isNull, lit(0L))
          .otherwise(expr(s"(mass * $dampNum) div $dampDen")))
        .withColumn("share",
          when(col("od").isNull, lit(null).cast("long"))
            .otherwise(expr("out_mass div od")))
      val received = e.join(
          staged.select(col("src").as("__s"), col("share")),
          col("src") === col("__s"))
        .groupBy(col("dst")).agg(sum(col("share")).as("recv"))
      val next = staged
        .join(received, col("node") === col("dst"), "left")
        .select(col("node"),
          (col("mass") - col("out_mass") +
            when(col("od").isNull, lit(0L))
              .otherwise(pmod(col("out_mass"), col("od"))) +
            coalesce(col("recv"), lit(0L))).as("mass"))
        .transform(graft.core.StateTable.pin)
      // next is materialized with truncated lineage — release the
      // superseded round's mass pin NOW (the KCore round discipline)
      graft.core.StateTable.unpin(mass)
      mass = next
    }
    // the answer reads only the last mass pin
    eP.release()
    graft.core.StateTable.unpin(outdeg)
    mass
  }
}
