package graft.queries

import org.apache.spark.sql.SparkSession
import graft.SparkSpec

/** The session-extensions deployment path: a session built with the
  * [[graft.functions.GraftExtensions]] injector resolves the graft
  * functions in plain SQL with no registration call. `withExtensions`
  * exercises the same injector as `spark.sql.extensions=...` — the conf
  * form is read from the SparkContext's conf at context creation, so it
  * can't be demonstrated against this suite's pre-existing shared context.
  * The shared SparkContext is reused (sessions are cheap; contexts are
  * not); the suite clears the active/default session to force a real
  * new-session build, then restores them.
  */
class ExtensionsSpec extends SparkSpec {

  test("session extensions inject graft functions into a fresh session") {
    val prev = spark // force shared session (and its context) to exist
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val injected = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      assert(injected ne prev, "builder must create a NEW session")

      val dot = injected.sql(
        """SELECT graft_vec_dot(
          |  array(cast(1.0 as float), cast(2.0 as float)),
          |  array(cast(3.0 as float), cast(4.0 as float))) AS d""".stripMargin)
        .head().getDouble(0)
      assert(dot == 11.0)

      val h = injected.sql("SELECT graft_poly_hash62('abc') AS h")
        .head().getLong(0)
      assert(h == graft.functions.StringPolyHash62.hash("abc"))

      // injected functions are session-scoped: a session built without
      // the extension needs explicit registration, proving no
      // cross-session registry leakage
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val plain = SparkSession.builder().getOrCreate()
      assert(plain ne injected)
      intercept[org.apache.spark.sql.AnalysisException](
        plain.sql("SELECT graft_poly_hash62('abc')").collect())
      graft.functions.GraftFunctions.register(plain)
      assert(plain.sql("SELECT graft_poly_hash62('abc')").head().getLong(0) == h)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("levenshtein threshold rewrite: plan rewritten, semantics identical") {
    import org.apache.spark.sql.catalyst.expressions.Levenshtein
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder().master("local[4]")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      import s.implicits._
      val df = Seq(("kitten", "sitten"), ("kitten", "sittin"),
        ("abc", "abc"), (null.asInstanceOf[String], "x"))
        .toDF("a", "b").createOrReplaceTempView("lv")

      def thresholds(q: String): Seq[Option[_]] = {
        val b = Seq.newBuilder[Option[_]]
        s.sql(q).queryExecution.optimizedPlan.transformAllExpressions {
          case l: Levenshtein => b += l.threshold; l
        }
        b.result()
      }
      // <= k and mirrored k >= become thresholded; > k stays exact
      assert(thresholds("SELECT * FROM lv WHERE levenshtein(a, b) <= 1")
        .forall(_.isDefined))
      assert(thresholds("SELECT * FROM lv WHERE 2 > levenshtein(a, b)")
        .forall(_.isDefined))
      assert(thresholds("SELECT * FROM lv WHERE levenshtein(a, b) > 1")
        .forall(_.isEmpty))
      // semantics: distance-1 pair kept, distance-2 dropped, null dropped
      val kept = s.sql(
        "SELECT a, b FROM lv WHERE levenshtein(a, b) <= 1")
        .as[(String, String)].collect().toSet
      assert(kept == Set(("kitten", "sitten"), ("abc", "abc")))
      val strict = s.sql(
        "SELECT a, b FROM lv WHERE levenshtein(a, b) < 1")
        .as[(String, String)].collect().toSet
      assert(strict == Set(("abc", "abc")))
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("GraftSession.builder wires confs and functions in one call") {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = graft.GraftSession.builder(cores = 4)
        .master("local[4]").getOrCreate()
      assert(s ne prev)
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
      assert(s.sql("SELECT graft_poly_hash62('x')").head().getLong(0) ==
        graft.functions.StringPolyHash62.hash("x"))

      // wrong arity surfaces as a descriptive error from the builder, not
      // an IndexOutOfBoundsException inside the analyzer
      val e = intercept[Exception] {
        s.sql("SELECT graft_vec_dot(array(cast(1.0 as float)))").collect()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("expects 2 arguments")),
        s"unexpected: $e")
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("fromEnv resolves master, cores and width from one env map") {
    import graft.GraftSession.{Settings, settings}
    val n = Runtime.getRuntime.availableProcessors()
    assert(settings(Map.empty) == Settings(s"local[$n]", n, n))
    assert(settings(Map("SPARK_GRAFT_CPUS" -> "8")) == Settings("local[8]", 8, 8))
    assert(settings(Map("SPARK_GRAFT_CPUS" -> "8", "SPARK_GRAFT_WIDTH" -> "32",
      "SPARK_GRAFT_MASTER" -> "local[2]")) == Settings("local[2]", 8, 32))
  }

  test("a fromEnv session runs the graft functions and the levenshtein rewrite") {
    import org.apache.spark.sql.catalyst.expressions.{Levenshtein, Literal}
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = graft.GraftSession.fromEnv(Map("SPARK_GRAFT_WIDTH" -> "3"))
      assert(s ne prev)
      assert(s.conf.get("spark.sql.shuffle.partitions") == "3")
      assert(s.sql("SELECT graft_poly_hash62('x')").head().getLong(0) ==
        graft.functions.StringPolyHash62.hash("x"))
      val levs = s.range(3)
        .selectExpr("cast(id AS string) AS a", "concat('k', id) AS b")
        .where("levenshtein(a, b) <= 2")
        .queryExecution.optimizedPlan.flatMap(_.expressions)
        .flatMap(_.collect { case l: Levenshtein => l })
      assert(levs.nonEmpty && levs.forall(_.threshold.contains(Literal(2))),
        s"not rewritten: $levs")
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }
}
