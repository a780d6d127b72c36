package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic tables with the schema and value shapes of the
  * engine's scale-factor test data: a TPC-H-like star schema plus
  * `events`, `documents` and `embeddings`. Every value is a hash of the
  * row id and a column salt, so the output depends only on `sf`, never on
  * partitioning or the benchmark seed. Each table is written as one
  * `<table>.parquet` file, the layout `graft.core.Tables` and DuckDB
  * both read. Timestamps are written without time zone, as in the test
  * data. */
object Data {
  private val two53 = 1L << 53

  /** Uniform in [0, 1), a pure function of (id, salt). */
  private def u(id: Column, salt: Column*): Column =
    pmod(xxhash64((id +: salt): _*), lit(two53)).cast("double") /
      lit(two53.toDouble)
  private def u(id: Column, salt: Int): Column = u(id, lit(salt))

  private def below(id: Column, salt: Int, n: Long): Column =
    floor(u(id, salt) * n).cast("long")

  private def pick(id: Column, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (below(id, salt, values.size.toLong) + 1).cast("int"))

  /** cents in [lo, hi] as a two-decimal double */
  private def money(id: Column, salt: Int, lo: Long, hi: Long): Column =
    ((lit(lo) + below(id, salt, hi - lo + 1)) / 100.0).cast("double")

  private def dayNtz(start: String, days: Column): Column =
    date_add(lit(start).cast("date"), days.cast("int"))
      .cast("timestamp_ntz")

  val vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")

  final case class Sizes(sf: Double) {
    private def n(base: Double, floor: Long = 1L) =
      math.max(floor, math.round(base * sf))
    val customers: Long = n(150000)
    val suppliers: Long = n(10000)
    val parts: Long = n(200000)
    val orders: Long = n(1500000)
    val lineitems: Long = n(6000000)
    val events: Long = n(1000000)
    val users: Long = n(15000)
    val documents: Long = n(50000, 500)
    val embeddings: Long = n(20000, 500)
  }

  /** Epoch micros of 2024-01-01T00:00:00Z; events span 30 days from it. */
  val eventsStartMicros: Long = 1704067200000000L
  val eventsDays: Int = 30

  def events(spark: SparkSession, sz: Sizes): DataFrame = {
    val id = col("id")
    val spanMicros = eventsDays.toLong * 86400L * 1000000L
    spark.range(sz.events).select(
      id.as("event_id"),
      timestamp_micros(lit(eventsStartMicros) +
        floor((id.cast("double") + u(id, 1)) * (spanMicros.toDouble /
          sz.events)).cast("long")).cast("timestamp_ntz").as("ts"),
      below(id, 2, sz.users).as("user_id"),
      pick(id, 3, Seq("click", "view", "purchase", "signup", "error"))
        .as("event_type"),
      (round(-log1p(-u(id, 4)) * 5000.0) / 100.0).as("value"),
      concat(lit("{\"k\": "), below(id, 5, 100).cast("string"), lit("}"))
        .as("props"))
  }

  private def docText(id: Column): Column = {
    val words = lit(10) + below(id, 20, 91)
    concat_ws(" ", transform(sequence(lit(0), words - 1), j =>
      element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(id, j, lit(21)), lit(vocab.size.toLong)) + 1)
          .cast("int"))))
  }

  def tables(spark: SparkSession, sz: Sizes): Seq[(String, DataFrame)] = {
    val id = col("id")
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val segments =
      Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    def rows(n: Long) = spark.range(0, n, 1, 4)
    // 5 % of documents repeat an earlier document's text plus " dup" —
    // the near-duplicate families the dedup operators look for
    val src = floor(u(id, 23) * id).cast("long")
    val isDup = id > 0 && u(id, 22) < 0.05
    Seq(
      "region" -> rows(regions.size).select(id.cast("int").as("r_regionkey"),
        element_at(array(regions.map(lit): _*), (id + 1).cast("int"))
          .as("r_name")),
      "nation" -> rows(25).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id.cast("string")).as("n_name"),
        pmod(id, lit(5L)).cast("int").as("n_regionkey")),
      "customer" -> rows(sz.customers).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        below(id, 30, 25).cast("int").as("c_nationkey"),
        money(id, 31, -99999, 999999).as("c_acctbal"),
        pick(id, 32, segments).as("c_mktsegment")),
      "supplier" -> rows(sz.suppliers).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        below(id, 40, 25).cast("int").as("s_nationkey"),
        money(id, 41, -99999, 999999).as("s_acctbal")),
      "part" -> rows(sz.parts).select(id.as("p_partkey"),
        concat_ws(" ",
          pick(id, 50, Seq("small", "large", "red", "blue", "hot", "cold",
            "new", "old")),
          pick(id, 51, Seq("ring", "widget", "bolt", "rod", "plate", "gear",
            "gizmo", "anvil"))).as("p_name"),
        concat(lit("Brand#"), (below(id, 52, 25) + 1).cast("string"))
          .as("p_brand"),
        pick(id, 53, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
          "STANDARD")).as("p_type"),
        (below(id, 54, 50) + 1).cast("int").as("p_size"),
        ((lit(9000L) + pmod(id, lit(1000L))) / 10.0).as("p_retailprice")),
      "orders" -> rows(sz.orders).select(id.as("o_orderkey"),
        below(id, 60, sz.customers).as("o_custkey"),
        pick(id, 61, Seq("F", "O", "P")).as("o_orderstatus"),
        money(id, 62, 100000, 50000000).as("o_totalprice"),
        dayNtz("1995-01-01", below(id, 63, 2404)).as("o_orderdate"),
        pick(id, 64, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW")).as("o_orderpriority")),
      "lineitem" -> rows(sz.lineitems).select(
        below(id, 70, sz.orders).as("l_orderkey"),
        below(id, 71, sz.parts).as("l_partkey"),
        below(id, 72, sz.suppliers).as("l_suppkey"),
        (below(id, 73, 7) + 1).cast("int").as("l_linenumber"),
        (below(id, 74, 50) + 1).cast("double").as("l_quantity"),
        money(id, 75, 90000, 10500000).as("l_extendedprice"),
        (below(id, 76, 11) / 100.0).as("l_discount"),
        (below(id, 77, 9) / 100.0).as("l_tax"),
        pick(id, 78, Seq("A", "N", "R")).as("l_returnflag"),
        pick(id, 79, Seq("F", "O")).as("l_linestatus"),
        dayNtz("1995-01-02", below(id, 80, 2498)).as("l_shipdate")),
      "events" -> events(spark, sz),
      "documents" -> rows(sz.documents)
        .withColumn("text",
          when(isDup, concat(docText(src), lit(" dup"))).otherwise(docText(id)))
        .select(id.as("doc_id"), col("text"),
          when(u(id, 24) < 0.44, "en")
            .otherwise(pick(id, 25, Seq("es", "zh", "de", "fr"))).as("lang"),
          concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"),
          length(col("text")).cast("long").as("n_chars")),
      "embeddings" -> rows(sz.embeddings).select(id.as("vec_id"),
        transform(sequence(lit(0), lit(63)), j => {
          // Box-Muller: N(0, 0.125) per component
          val u1 = (pmod(xxhash64(id, j, lit(90)), lit(two53)) + 1)
            .cast("double") / (two53.toDouble + 1)
          val u2 = u(id, j, lit(91))
          (sqrt(log(u1) * -2.0) * cos(u2 * (2 * math.Pi)) * 0.125)
            .cast("float")
        }).as("embedding"),
        below(id, 92, 10).cast("int").as("label")))
  }

  /** Writes `frame` as the single file `<dir>/<name>.parquet`. */
  def writeOne(frame: DataFrame, dir: String, name: String): Unit = {
    val tmp = s"$dir/.$name.tmp"
    frame.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter { p =>
      val f = p.getFileName.toString
      f.startsWith("part-") && f.endsWith(".parquet")
    }.findFirst().get()
    Files.move(part, Paths.get(dir, s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(Paths.get(dir, s".$name.parquet.crc"))
    Fs.deleteTree(Paths.get(tmp))
  }

  def generate(spark: SparkSession, dir: String, sf: Double,
      only: Set[String] = Set.empty): Unit = {
    Files.createDirectories(Paths.get(dir))
    // tables are independent: write them as concurrent Spark jobs
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(tables(spark, Sizes(sf))
      .filter { case (n, _) => only.isEmpty || only(n) }
      .map { case (n, df) => Future(writeOne(df, dir, n)) }), Duration.Inf)
  }
}

/** Small file-tree helpers for fixtures, snapshots and residue. */
object Fs {
  def walk(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try { val b = Seq.newBuilder[Path]; s.forEach(p => b += p); b.result() }
      finally s.close()
    }

  def files(root: Path): Seq[Path] = walk(root).filter(Files.isRegularFile(_))

  def bytes(root: Path): Long = files(root).map(Files.size).sum

  /** Every regular file under `root` with its size, skipping files that
    * another thread deletes during the walk. */
  def sizes(root: Path): Seq[(Path, Long)] = {
    val b = Seq.newBuilder[(Path, Long)]
    if (Files.exists(root)) Files.walkFileTree(root,
      new java.nio.file.SimpleFileVisitor[Path] {
        override def visitFile(p: Path,
            a: java.nio.file.attribute.BasicFileAttributes) = {
          if (a.isRegularFile) b += p -> a.size
          java.nio.file.FileVisitResult.CONTINUE
        }
        override def visitFileFailed(p: Path, e: java.io.IOException) =
          java.nio.file.FileVisitResult.CONTINUE
        override def postVisitDirectory(p: Path, e: java.io.IOException) =
          java.nio.file.FileVisitResult.CONTINUE
      })
    b.result()
  }

  def deleteTree(root: Path): Unit =
    walk(root).reverse.foreach(p => Files.deleteIfExists(p))

  def copyTree(from: Path, to: Path): Unit =
    walk(from).foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    }

  /** SHA-256 over every file's relative path and bytes, in path order. */
  def digest(root: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files(root).map(p => root.relativize(p).toString -> p).sortBy(_._1)
      .foreach { case (rel, p) =>
        md.update(rel.getBytes("UTF-8")); md.update(Files.readAllBytes(p))
      }
    md.digest().map("%02x".format(_)).mkString
  }
}
