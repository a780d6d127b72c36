package graft

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Listen

/** Shared test harness: one local session per suite + listen fixtures.
  * The session is the library's own ([[GraftSession.builder]]), so every
  * spec runs with the graft extensions and AQE settings users get. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/sf0.001"

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Build a listen with fixture-friendly defaults. */
  def listen(
      user: Int, artist: String, at: String,
      mbids: Option[Seq[String]] = None,
      recording: String = "rec",
      msid: String = "msid-1",
      created: String = "2024-02-01 00:00:00"): Listen =
    Listen(
      listened_at = ts(at), created = ts(created), user_id = user,
      recording_msid = msid, artist_name = artist,
      artist_credit_id = Some(1L), release_name = None, release_mbid = None,
      recording_name = recording, recording_mbid = Some("rmbid"),
      artist_credit_mbids = mbids)

  def listensDf(ls: Seq[Listen]): DataFrame = {
    import spark.implicits._
    spark.createDataset(ls).toDF()
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The frame `call` returns, the ids of the RDDs the call left
    * persisted, and the ids of the pinned RDDs the frame reads — the two
    * sets are equal when the call released every pin its answer does
    * not need. */
  def pinsLeft(call: => DataFrame): (DataFrame, Set[Int], Set[Int]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = call
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    val read = df.queryExecution.analyzed.collect {
      case l: LogicalRDD => l.rdd.id
    }.toSet
    (df, left, read)
  }

  /** Names of the `graft_*` catalog tables the session holds now: equal
    * before and after a call that released every table it placed. */
  def graftTables: Set[String] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_")).toSet

  /** `body` run with the session's placement gate
    * ([[graft.core.StateTable.GateRowsKey]]) at `rows` — 0 forces the
    * tabled regime — and the previous setting restored afterwards. */
  def withGate[T](rows: Long)(body: => T): T = {
    val key = graft.core.StateTable.GateRowsKey
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, rows)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Jobs started by `body` on this thread. A marker job follows it: the
    * listener bus delivers events in order, so once the marker's start is
    * seen, every job `body` started has been seen too. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    val group = s"jobs-${java.util.UUID.randomUUID}"
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains(s"$group-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(s"$group-marker"), "marker job never seen")
      groups.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(cores = 4).master("local[4]")
      .appName("graft-test")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
