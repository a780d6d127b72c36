package graft

import org.apache.spark.sql.DataFrame
import graft.core.{ParquetFooters, Tables}
import graft.engine.{IncrementalStatsEngine, ListenStore, TopEntityStats}

/** `ParquetFooters.read` must be `spark.read.parquet` minus its schema
  * inference job: the same schema, the same rows, and no Spark job. */
class ParquetFootersSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertSameAsSpark(paths: String*): Unit = {
    val ours = ParquetFooters.read(spark, paths: _*)
    val spark0 = spark.read.parquet(paths: _*)
    assert(ours.schema === spark0.schema, paths.mkString(","))
    assert(rows(ours) === rows(spark0), paths.mkString(","))
  }

  test("every sf0.001 table reads with the schema and rows spark infers") {
    Tables.names.foreach(t => assertSameAsSpark(s"${sf("")}/$t.parquet"))
  }

  test("a flat tree the engine wrote reads like spark.read.parquet") {
    val store = new ListenStore(spark, tmpDir("footers-store"))
    store.writeBase(listensDf(Seq(
      listen(1, "A", "2024-01-05 10:00:00", mbids = Some(Seq("a1", "a2"))),
      listen(2, "B", "2024-02-10 10:00:00"))))
    val engine = new IncrementalStatsEngine(spark, tmpDir("footers-engine"))
    engine.run("top_artists", TopEntityStats("user_id", Seq("artist_name"), 5),
      store, ts("2024-01-01 00:00:00"), ts("2024-03-01 00:00:00")).collect()
    assertSameAsSpark(s"${engine.workDir}/top_artists/partial")
  }

  test("a year/month tree keeps its partition columns from the paths") {
    val root = tmpDir("footers-base")
    new ListenStore(spark, root).writeBase(listensDf(Seq(
      listen(1, "A", "2023-12-31 23:00:00"),
      listen(1, "A", "2024-01-05 10:00:00", msid = "m2"),
      listen(2, "B", "2024-02-10 10:00:00", msid = "m3"))))
    assertSameAsSpark(s"$root/base")
    val df = ParquetFooters.read(spark, s"$root/base")
    assert(df.schema.fieldNames.takeRight(2).toSeq === Seq("year", "month"))
  }

  test("the schema comes from the file spark's inference picks") {
    // by full path, p=a-b/… sorts before p=a/… ('-' < '/'), though the
    // directory name p=a sorts before p=a-b
    val root = tmpDir("footers-order")
    spark.range(3).selectExpr("id AS plain").write.parquet(s"$root/p=a")
    spark.range(3).selectExpr("id AS dash").write.parquet(s"$root/p=a-b")
    assertSameAsSpark(root)
    assert(ParquetFooters.read(spark, root).columns.toSeq === Seq("dash", "p"))
  }

  test("paths with no data file fail with spark's own error") {
    def errorClass(read: => DataFrame): Option[String] =
      Option(intercept[org.apache.spark.sql.AnalysisException](read).getCondition)
    Seq(tmpDir("footers-empty"), s"${tmpDir("footers-missing")}/nothing")
      .foreach { p =>
        assert(errorClass(ParquetFooters.read(spark, p)) ===
          errorClass(spark.read.parquet(p)))
      }
  }

  test("Tables.load launches no Spark job") {
    assert(jobsDuring(Tables.load(spark, sf(""), "orders")) === 0)
    // the measurement sees the job spark.read.parquet's inference runs
    assert(jobsDuring(spark.read.parquet(s"${sf("")}/orders.parquet")) === 1)
  }
}
