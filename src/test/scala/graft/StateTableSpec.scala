package graft

import org.apache.spark.sql.functions._
import graft.core.StateTable

/** [[graft.core.StateTable]] — the size-gated placement primitive the
  * graph/dedup operators share (round-13 port of the RandomWalks tabled
  * gate): pin-below / stage-above semantics, release lifecycles, and
  * session-unique bucketed-table naming. The bucketed table is reached
  * through its gate, a tabled [[StateTable.Regime]]'s `laidOut`. */
class StateTableSpec extends SparkSpec {
  import spark.implicits._

  private val tabled4 = StateTable.Regime(tabled = true, width = 4)

  test("pinOrStage below the gate pins (no surviving stage files) and " +
    "release unpins") {
    val df = (1L to 100L).map(i => (i, i % 7)).toDF("k", "v")
    val placed = withGate(1000L)(
      StateTable.pinOrStage(df, Seq(col("k")), "sts_small"))
    // pinned form: lineage-truncated LogicalRDD, rows intact
    assert(placed.df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    assert(placed.df.count() === 100L)
    assert(placed.df.agg(sum(col("v"))).head.getLong(0) ===
      (1L to 100L).map(_ % 7).sum)
    placed.release() // unpin — must not throw
  }

  test("pinOrStage at/above the gate stages to parquet (scan, not pin) " +
    "and release deletes the tree") {
    val df = (1L to 100L).map(i => (i, s"x$i")).toDF("k", "s")
    val placed = withGate(10L)(
      StateTable.pinOrStage(df, Seq(col("k")), "sts_big"))
    assert(!placed.df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    val got = placed.df.as[(Long, String)].collect().toSet
    assert(got === (1L to 100L).map(i => (i, s"x$i")).toSet)
    // the staged scan reads real files; release removes them
    val files = placed.df.inputFiles
    assert(files.nonEmpty)
    placed.release()
    assert(!files.exists(f =>
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(f.stripPrefix("file:")))))
  }

  test("pinOrStage executes the upstream plan exactly once") {
    val counter = spark.sparkContext.longAccumulator("sts_once")
    val df = (1L to 50L).toDF("k")
      .filter(udfTouch(counter)(col("k")))
    // staged branch: one write job over the plan, counts from metadata
    val placed = withGate(1L)(StateTable.pinOrStage(df, Nil, "sts_once"))
    assert(placed.df.count() === 50L)
    assert(placed.df.count() === 50L) // second consumer: scan, no recompute
    assert(counter.value === 50L,
      s"upstream executed ${counter.value / 50} times, want exactly 1")
    placed.release()
  }

  test("pinOrStage reports the placement's measured row count in both " +
    "regimes") {
    val df = (1L to 80L).map(i => (i, i % 3)).toDF("k", "v")
    val pinned = withGate(1000L)(
      StateTable.pinOrStage(df, Seq(col("k")), "sts_rows_p"))
    assert(pinned.rows === 80L)
    pinned.release()
    val staged = withGate(10L)(
      StateTable.pinOrStage(df, Seq(col("k")), "sts_rows_s"))
    assert(staged.rows === 80L)
    staged.release()
  }

  test("pinOrStage with a sound below-gate upper bound pins directly — " +
    "no stage round-trip, one upstream execution, exact rows") {
    val counter = spark.sparkContext.longAccumulator("sts_bound")
    val df = (1L to 60L).toDF("k").filter(udfTouch(counter)(col("k")))
    val placed = withGate(1000L)(StateTable.pinOrStage(
      df, Seq(col("k")), "sts_bound", upperBoundRows = 100L))
    // direct pin: lineage-truncated, no staged parquet scan behind it
    assert(placed.df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    assert(placed.rows === 60L)
    assert(placed.df.count() === 60L)
    assert(counter.value === 60L,
      s"upstream executed ${counter.value / 60} times, want exactly 1")
    placed.release()
  }

  test("pinOrStage ignores an at/above-gate upper bound and stages") {
    val df = (1L to 50L).map(i => (i, s"y$i")).toDF("k", "s")
    val placed = withGate(10L)(StateTable.pinOrStage(
      df, Seq(col("k")), "sts_bound_big", upperBoundRows = 50L))
    assert(!placed.df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    assert(placed.rows === 50L)
    placed.release()
  }

  test("bucketed tables get session-unique names, scan exchange-free " +
    "on the bucket key, and drop() removes catalog entry + files") {
    val df = (1L to 200L).map(i => (i % 20, i)).toDF("g", "v")
    val before = graftTables
    val t1 = tabled4.laidOut(df, "g", "sts_tbl")
    val t2 = tabled4.laidOut(df, "g", "sts_tbl")
    val made = graftTables -- before
    assert(made.size === 2, "two materializations must not collide")
    val app = spark.sparkContext.applicationId
      .replaceAll("[^A-Za-z0-9]", "_").toLowerCase
    assert(made.forall(_.toLowerCase.contains(app)),
      "table name must carry the application id")
    // a groupBy on the bucket key plans with zero shuffle exchanges
    val agg = t1.df.groupBy(col("g")).agg(sum(col("v")).as("s"))
    assert(graft.core.Bucketing.isExchangeFree(agg),
      "bucket-key aggregate must be exchange-free")
    assert(agg.collect().length === 20)
    val files = t1.df.inputFiles
    t1.release()
    t2.release()
    assert(graftTables === before)
    assert(!files.exists(f =>
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(f.stripPrefix("file:")))))
  }

  test("pinOrStage's bound path runs the jobs of a bare repartition and " +
    "pin: its row count costs no job") {
    val df = (1L to 60L).map(i => (i, i % 5)).toDF("k", "v")
    // gate 1000, bound 100: measuredWidth is the session width, 4
    val bare = jobsDuring(
      StateTable.unpin(StateTable.pin(df.repartition(4, col("k")))))
    var placed: StateTable.Placed = null
    val bound = jobsDuring {
      placed = withGate(1000L)(StateTable.pinOrStage(
        df, Seq(col("k")), "sts_jobs", upperBoundRows = 100L))
    }
    assert(bound === bare)
    assert(placed.rows === 60L)
    placed.release()
  }

  test("an empty input places with rows == 0 and reads back empty: " +
    "pinned, staged and bucketed") {
    val base = spark.range(1L, 31L)
      .select(col("id").as("k"), (col("id") % 4L).as("v"))
    val empties = Seq(
      Seq.empty[(Long, Long)].toDF("k", "v"),
      // empty only at run time: AQE replaces the join with an empty relation
      base.join(base.filter(col("v") > 10L).select(col("k")), Seq("k")))
    empties.foreach { df =>
      val pinned = withGate(1000L)(
        StateTable.pinOrStage(df, Seq(col("k")), "sts_empty_p"))
      val staged = withGate(0L)(
        StateTable.pinOrStage(df, Seq(col("k")), "sts_empty_s"))
      assert(!staged.df.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
      val tabled = tabled4.laidOut(df, "k", "sts_empty_t")
      assert(Seq(pinned.rows, staged.rows, tabled.rows) === Seq(0L, 0L, 0L))
      assert(pinned.df.collect().isEmpty)
      assert(staged.df.collect().isEmpty)
      assert(tabled.df.collect().isEmpty)
      pinned.release()
      staged.release()
      tabled.release()
    }
  }

  test("bucketedAtWidth reports the table's row count") {
    val df = (1L to 200L).map(i => (i % 20, i)).toDF("g", "v")
      .filter(col("v") % 3 =!= 0L)
    val t = tabled4.laidOut(df, "g", "sts_tbl_rows")
    assert(t.rows === df.count())
    assert(t.df.count() === t.rows)
    t.release()
  }

  test("regime: one count sets the gate and the width, both regimes " +
    "count what they place, and the tabled join side is bucketed") {
    // gate 1000, 500k rows per task: 100 rows pin at the session
    // width, 5M rows table at ten buckets
    val (pinned, tabled) = withGate(1000L)(
      (StateTable.regime(spark, 100L), StateTable.regime(spark, 5000000L)))
    assert(!pinned.tabled && pinned.width === 4)
    assert(tabled.tabled && tabled.width === 10)
    val df = (1L to 200L).map(i => (i % 20, i)).toDF("g", "v")
    Seq(pinned, tabled).foreach { r =>
      val side = r.laidOut(df, "g", "sts_regime")
      val step = r.round(df.filter(col("v") > 150L), "sts_regime")
      assert(side.rows === 200L && step.rows === 50L)
      assert(side.df.as[(Long, Long)].collect().toSet ===
        df.as[(Long, Long)].collect().toSet)
      if (r.tabled) assert(graft.core.Bucketing.isExchangeFree(
        side.df.groupBy(col("g")).agg(sum(col("v")))))
      side.release()
      step.release()
    }
  }

  test("a negative or non-numeric gate fails the placement, naming the " +
    "setting") {
    val df = (1L to 5L).toDF("k")
    for (bad <- Seq("-1", "16M")) {
      spark.conf.set(StateTable.GateRowsKey, bad)
      try {
        val e = intercept[IllegalArgumentException](
          StateTable.pinOrStage(df, Nil, "sts_bad_gate"))
        assert(e.getMessage.contains(StateTable.GateRowsKey), bad)
        intercept[IllegalArgumentException](StateTable.regime(spark, 5L))
      } finally spark.conf.unset(StateTable.GateRowsKey)
    }
  }

  private def udfTouch(acc: org.apache.spark.util.LongAccumulator) =
    udf { (_: Long) => acc.add(1L); true }
}
