package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.MassRank

/** Integer-mass propagation: exact known values, mass conservation,
  * dangling retention, remainder accounting, guards. */
class MassRankSpec extends SparkSpec {

  private def edges(rows: (String, String)*) = {
    import spark.implicits._
    rows.toDF("src", "dst")
  }

  private def masses(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("one a->b round moves exactly the damped integer share") {
    val got = masses(MassRank.rank(edges("a" -> "b"), "src", "dst",
      initMass = 1000000L, iters = 1))
    // a: od=1, out = 850000, keeps 150000; b dangles, keeps 1000000 + recv
    assert(got == Map("a" -> 150000L, "b" -> 1850000L))
  }

  test("total mass is conserved exactly across iterations") {
    val e = edges("a" -> "b", "a" -> "c", "b" -> "c", "c" -> "a",
      "d" -> "a", "a" -> "d")
    val nodes = 4L
    (1 to 4).foreach { it =>
      val total = MassRank.rank(e, "src", "dst", iters = it)
        .agg(sum(col("mass"))).collect()(0).getLong(0)
      assert(total == nodes * 1000000L,
        s"iter $it: mass leaked, total $total")
    }
  }

  test("remainders stay with the sender when od does not divide") {
    // od(a)=3: out = 850000, share = 283333, distributed 849999, rem 1
    val got = masses(MassRank.rank(
      edges("a" -> "b", "a" -> "c", "a" -> "d"), "src", "dst", iters = 1))
    assert(got("a") == 1000000L - 850000L + 1L)
    assert(got("b") == 1000000L + 283333L)
    assert(got("c") == got("b") && got("d") == got("b"))
  }

  test("a sink accumulates; damping bounds the drain; guards") {
    val star = edges("h1" -> "sink", "h2" -> "sink", "h3" -> "sink")
    val got = masses(MassRank.rank(star, "src", "dst", iters = 3))
    assert(got("sink") > 3000000L, "sink must gain mass")
    assert(got("h1") == got("h2") && got("h2") == got("h3"))
    // after each round a leaf keeps 15% of what it had
    assert(got("h1") == {
      var m = 1000000L
      (1 to 3).foreach(_ => m = m - (m * 85) / 100)
      m
    })
    intercept[IllegalArgumentException](
      MassRank.rank(star, "src", "dst", iters = 0))
    intercept[IllegalArgumentException](
      MassRank.rank(star, "src", "dst", dampNum = 101))
    intercept[IllegalArgumentException](
      MassRank.rank(star, "src", "dst", initMass = 0))
  }

  test("tabled regime (staged edge state) is output-identical to the " +
    "pinned regime") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val e = Seq.fill(180)(
        (s"n${rnd.nextInt(30)}", s"n${rnd.nextInt(30)}"))
      .toDF("src", "dst")
    val pinned = masses(MassRank.rank(e, "src", "dst", iters = 3))
    val tabled =
      masses(withGate(1L)(MassRank.rank(e, "src", "dst", iters = 3)))
    assert(tabled === pinned)
    assert(pinned.values.sum === pinned.size * 1000000L,
      "mass conserved in both regimes")
  }
}
