package graft.queries

import graft.SparkSpec
import graft.operators.LabelPropagation

/** [[LabelPropagation]] vs an in-memory reference model (synchronous
  * frequent-label update, smallest-label ties), plus the planted-
  * community recovery the operator exists for. */
class LabelPropagationSpec extends SparkSpec {

  /** Reference model: one synchronous round. */
  private def step(
      adj: Map[Long, Seq[Long]], labels: Map[Long, Long]): Map[Long, Long] =
    adj.map { case (n, nbrs) =>
      val freq = nbrs.groupBy(labels).view.mapValues(_.size)
      n -> freq.toSeq.maxBy { case (l, c) => (c, -l) }._1
    }

  private def reference(
      edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val simple = edges.map { case (x, y) => (math.min(x, y), math.max(x, y)) }
      .filter { case (x, y) => x != y }.distinct
    val adj = (simple ++ simple.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels = adj.keys.map(n => n -> n).toMap
    (1 to rounds).foreach(_ => labels = step(adj, labels))
    labels
  }

  private def run(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    import spark.implicits._
    LabelPropagation.communities(
        edges.toDF("src", "dst"), "src", "dst", rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("differential vs the reference model on a random graph, " +
    "rounds 1..3; duplicate/reversed/self edges normalized") {
    val rnd = new scala.util.Random(5)
    val edges = Seq.fill(120)(
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)) ++
      Seq((3L, 3L), (7L, 4L), (4L, 7L)) // self-loop + reversed dup
    for (r <- 1 to 3)
      assert(run(edges, r) === reference(edges, r), s"rounds=$r")
  }

  test("measured shuffle width changes the plan, never the answer: " +
    "a session width of 50 (forcing a wide per-round exchange) ≡ " +
    "default") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val edges = Seq.fill(200)(
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    // the measured width is at least the session width
    val wide = graft.core.ScopedConf.withShufflePartitions(spark, 50) {
      LabelPropagation.communities(
          edges.toDF("src", "dst"), "src", "dst", rounds = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(wide === reference(edges, 2))
    // and the session width is restored after the scoped rounds
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
  }

  test("two planted cliques with one bridge resolve to two communities") {
    val cliqueA = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val cliqueB = for (i <- 11L to 15L; j <- (i + 1) to 15L) yield (i, j)
    val got = run(cliqueA ++ cliqueB ++ Seq((5L, 11L)), rounds = 3)
    val aLabels = (1L to 5L).map(got).toSet
    val bLabels = (11L to 15L).map(got).toSet
    assert(aLabels.size === 1, s"clique A split: $got")
    assert(bLabels.size === 1, s"clique B split: $got")
    assert(aLabels != bLabels, s"bridge merged the cliques: $got")
  }

  test("tabled regime (bucketed adjacency + per-round dirs) is " +
    "output-identical to the pinned regime and the reference model") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val edges = Seq.fill(150)(
      (rnd.nextInt(35).toLong, rnd.nextInt(35).toLong))
    for (r <- 1 to 3) {
      val tabled = withGate(1L)(LabelPropagation.communities(
          edges.toDF("src", "dst"), "src", "dst", rounds = r))
        .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
      assert(tabled === reference(edges, r), s"rounds=$r")
      assert(tabled === run(edges, r), s"rounds=$r vs pinned")
    }
  }
}
