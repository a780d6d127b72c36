package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: near-dup detection (MinHash / SimHash /
  * embedding cosine) emits PAIRS, but a dedup pass over a corpus needs
  * CLUSTERS — the transitive closure of the pair relation — plus one
  * canonical keeper per cluster (reference keeps one row per duplicate
  * group, e.g. the dedup step in listenbrainz_spark's incremental listen
  * import; the graph-closure form is the standard corpus-dedup shape).
  *
  * Connected components by iterative min-label propagation:
  * every node starts labeled with its own id; each round, every node
  * takes the min label over itself and its neighbors; fixpoint = each
  * node holds the min id of its component. Per round the plan is one
  * shuffle join (edges × labels) plus one hash aggregation — both keyed
  * on node id, so AQE coalesces them onto the same partitioning — and
  * `localCheckpoint` truncates lineage so the plan stays O(1) across
  * rounds instead of growing exponentially (the classic iterative-Spark
  * trap; on a real cluster use `spark.sparkContext.setCheckpointDir` +
  * reliable checkpoints instead of local ones).
  *
  * Rounds needed = component diameter. Near-dup clusters are shallow
  * (near-cliques of boilerplate variants), so this converges in 2–4
  * rounds on real corpora; for adversarially long chains,
  * [[connectedComponentsStar]] implements the large-star/small-star
  * algorithm (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", 2014) — O(log² n) rounds regardless of diameter, same
  * join/agg primitives, identical output contract. Convergence
  * detection reads ONE scalar per round (`limit(1).count`) — no data
  * is collected to the driver.
  */
object Clusters {

  private def requireFree(df: DataFrame, who: String, names: String*): Unit =
    names.foreach(n => require(!df.columns.contains(n),
      s"$who writes a `$n` column — rename the input's existing `$n` first"))

  /** (id, component) for every node appearing in `edges`, where
    * `component` is the minimum node id of the node's connected
    * component. Orientation of the input pairs does not matter.
    * `maxIter` bounds label-UPDATE rounds (≥ component diameter);
    * certifying the fixpoint costs one additional zero-change round on
    * top. */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    // materialize the symmetrized edge set ONCE: `edges` is typically an
    // expensive subtree (a near-dup pipeline), and the loop below would
    // otherwise re-execute it every round for the join AND the
    // convergence probe
    val sym = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .transform(graft.core.StateTable.pin)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .transform(graft.core.StateTable.pin)
    var iter = 0
    var converged = false
    // `<=`: the final certification round performs no update, so maxIter
    // genuinely bounds the update rounds, not updates-plus-certification
    while (iter <= maxIter && !converged) {
      val neigh = sym.join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("comp"))
      val next = labels.union(neigh)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
        .transform(graft.core.StateTable.pin)
      val changed = next.as("n")
        .join(labels.as("o"), "id")
        .filter(col("n.comp") < col("o.comp"))
        .limit(1).count()
      converged = changed == 0L
      // next is materialized with truncated lineage and the probe has
      // run — the superseded labels have no reader (the KCore round
      // discipline; StateTable.unpin: the q220 100× failure)
      graft.core.StateTable.unpin(labels)
      labels = next
      iter += 1
    }
    // the returned labels are lineage-truncated — nothing reads sym
    graft.core.StateTable.unpin(sym)
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — " +
        "component diameter exceeds the bound; raise maxIter or switch " +
        "to connectedComponentsStar (large-star/small-star)")
    labels
  }

  /** Large-star/small-star connected components (Kiveris et al. 2014) —
    * the adversarial-chain fallback to [[connectedComponents]]: where
    * min-label propagation needs diameter-many rounds (a 10⁶-long chain
    * of pairwise near-dups needs 10⁶ rounds), the alternating star
    * operations converge in O(log² n) rounds on ANY topology, so
    * `maxIter` is a small constant regardless of how pathological the
    * pair graph is.
    *
    * Each round is two steps over a canonical edge set (kept as
    * `hi > lo` pairs):
    *   - LARGE-STAR: every node u, over its full neighborhood, connects
    *     each LARGER neighbor v to m = min(N(u) ∪ {u}) — long chains
    *     collapse toward local minima in parallel.
    *   - SMALL-STAR: every node u, over its SMALLER neighbors, connects
    *     itself and each such neighbor to their collective minimum —
    *     partial stars flatten onto their centers.
    * Both steps are one hash aggregation (per-center min) plus one join
    * (neighbor × center-min) — the same shuffle primitives as label
    * propagation, both keyed on node id, with `localCheckpoint` lineage
    * truncation per round (reliable checkpoints on a real cluster).
    * Fixpoint = the edge set is a union of stars centered at component
    * minima; convergence is detected by a two-sided `exceptAll` probe
    * reading one scalar per direction.
    *
    * Output contract is identical to [[connectedComponents]]:
    * (id, comp) for every node appearing in `edges`, comp = the
    * component's minimum node id (ids need only be orderable — longs
    * and strings both work). Prefer the default label propagation for
    * near-dup graphs (shallow components converge in 2–4 rounds with
    * one shuffle per round, not two); switch here when diameter is
    * unknown or adversarial — see SCALE.md. */
  def connectedComponentsStar(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 30): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val raw = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") =!= col("b"))
    var e = raw.select(
        greatest(col("a"), col("b")).as("hi"),
        least(col("a"), col("b")).as("lo"))
      .distinct()
      .transform(graft.core.StateTable.pin)
    // single-node components cannot appear in an edge list, but a node
    // can momentarily lose all edges only if its component collapsed —
    // track the full node set once so the final labeling covers everyone
    val nodes = e.select(col("hi").as("id"))
      .union(e.select(col("lo").as("id")))
      .distinct()
      .transform(graft.core.StateTable.pin)
    var iter = 0
    var converged = e.isEmpty
    while (iter < maxIter && !converged) {
      // large-star over the symmetrized neighborhoods
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val bigMin = sym.groupBy(col("u"))
        .agg(least(col("u"), min(col("v"))).as("m"))
      val afterLarge = sym.join(bigMin, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct()
      // small-star over the smaller-neighbor lists (edges are canonical,
      // so the center IS `hi` and its smaller neighbors are `lo`)
      val smallMin = afterLarge.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val next = afterLarge.join(smallMin, Seq("hi"))
        .filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .unionByName(smallMin.select(col("hi"), col("m").as("lo")))
        .filter(col("hi") =!= col("lo"))
        .distinct()
        .transform(graft.core.StateTable.pin)
      val grew = next.exceptAll(e).limit(1).count() > 0
      val shrank = if (grew) true else e.exceptAll(next).limit(1).count() > 0
      converged = !grew && !shrank
      // next is materialized and both probes have run — the superseded
      // edge set has no reader
      graft.core.StateTable.unpin(e)
      e = next
      iter += 1
    }
    require(converged,
      s"connectedComponentsStar did not converge in $maxIter rounds " +
        "(expected O(log² n)) — raise maxIter")
    // fixpoint edges are stars (leaf hi → center lo = component min);
    // the defensive groupBy-min also covers any node left edge-less by
    // a fully collapsed component
    nodes.join(
        e.select(col("hi").as("id"), col("lo").as("c")), Seq("id"), "left")
      .groupBy(col("id"))
      .agg(min(col("c")).as("c"))
      .select(col("id"), coalesce(col("c"), col("id")).as("comp"))
  }

  /** Per-document cluster assignment over a full corpus: every doc gets
    * its component id (its own id when it is in no near-dup pair), the
    * cluster size, and a keeper flag (the minimum id of each cluster is
    * canonical). `docs` must contain `idCol`; `pairs` is any near-dup
    * pair frame (id_a, id_b) whose ids come from `docs` — when pairs may
    * reference ids OUTSIDE docs (a batch deduped against a wider corpus,
    * q139-style), `is_keeper` can be false for every present member; use
    * [[keepCanonical]]/[[keepBest]], which rank among present members
    * only. */
  def assign(
      docs: DataFrame, idCol: String,
      pairs: DataFrame, idACol: String = "id_a", idBCol: String = "id_b",
      maxIter: Int = 25, useStar: Boolean = false): DataFrame = {
    requireFree(docs, "assign", "component", "cluster_size", "is_keeper")
    val cc = (if (useStar) connectedComponentsStar(pairs, idACol, idBCol)
              else connectedComponents(pairs, idACol, idBCol, maxIter))
      .withColumnRenamed("id", idCol)
    docs.select(col(idCol))
      .join(cc, Seq(idCol), "left")
      .withColumn("component", coalesce(col("comp"), col(idCol)))
      .drop("comp")
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .withColumn("is_keeper", col(idCol) === col("component"))
  }

  /** Shared keep-one-per-cluster pass: rank each component's PRESENT
    * members by `order`, keep rank 1, pass unpaired rows through — so a
    * cluster whose top-ranked graph member is absent from `docs` (pairs
    * computed over a wider set) still keeps exactly one representative
    * instead of silently losing the whole cluster. The rank window only
    * ever sees the near-dup subset, never the corpus. */
  private def keepRanked(
      docs: DataFrame, idCol: String, order: Seq[Column],
      pairs: DataFrame, idACol: String, idBCol: String,
      maxIter: Int): DataFrame = {
    requireFree(docs, "cluster dedup", "comp", "rn")
    val cc = connectedComponents(pairs, idACol, idBCol, maxIter)
      .withColumnRenamed("id", idCol)
    val clustered = docs.join(cc, Seq(idCol))
    val best = clustered
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("comp")).orderBy(order: _*)))
      .filter(col("rn") === 1)
      .select(col(idCol))
    val unpaired = docs.join(cc.select(col(idCol)), Seq(idCol), "left_anti")
      .select(col(idCol))
    docs.join(best.unionByName(unpaired), Seq(idCol), "left_semi")
  }

  /** The dedup pass itself: keep one row per cluster (the minimum-id
    * PRESENT member) plus every unpaired row — the corpus that ships to
    * training. */
  def keepCanonical(
      docs: DataFrame, idCol: String,
      pairs: DataFrame, idACol: String = "id_a", idBCol: String = "id_b",
      maxIter: Int = 25): DataFrame =
    keepRanked(docs, idCol, Seq(col(idCol)), pairs, idACol, idBCol, maxIter)

  /** Quality-ranked variant of [[keepCanonical]]: per cluster, keep the
    * member with the HIGHEST `scoreCol` (id ascending as the
    * deterministic tiebreak) — the curation policy when duplicates
    * differ in quality (longest extraction, least boilerplate). */
  def keepBest(
      docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame, idACol: String = "id_a", idBCol: String = "id_b",
      maxIter: Int = 25): DataFrame =
    keepRanked(docs, idCol, Seq(col(scoreCol).desc, col(idCol)),
      pairs, idACol, idBCol, maxIter)
}
