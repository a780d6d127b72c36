package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.api.Dispatch
import graft.engine.{IncrementalStatsEngine, Listen, ListenStore}

/** A registry-query workload: its query names, the scale factor of the
  * tables it runs on, the tables it reads (empty: all of them) and the
  * untimed passes it runs after the output check, before timing. */
final case class LibrarySpec(name: String, sf: Double, queries: Seq[String],
    tables: Set[String] = Set.empty, warmupPasses: Int = 0)

object Workloads {
  /** Registry queries that took under 1 s each in the committed
    * `bench-latest.json` (sf0.1), every tenth name in name order. They are
    * dominated by fixed costs: planning, scheduling and driver gaps. */
  val shortMix: Seq[String] = Seq(
    "q109_dense_ids", "q126_stats_envelope", "q140_pii_redact",
    "q159_temperature_mix", "q171_histogram", "q18_capped_least",
    "q208_group_trend", "q224_linear_attribution", "q242_frequency_subsample",
    "q260_trend_ols", "q27_lead_skip", "q36_timerange_densify", "q4_case_when",
    "q74_top_listeners", "q88_periodic_jams")

  /** Operators behind the placement layer: triangle counting and
    * incremental near-duplicates place state with `StateTable.pinOrStage`;
    * DIMSUM similar users loops over `Pin.apply`. A pass runs about 90
    * short Spark jobs, so executor work and per-job fixed costs both show. */
  val placementHeavy: Seq[String] = Seq(
    "q191_triangles", "q139_incremental_neardup", "q281_similar_users_dimsum")

  val specs: Map[String, LibrarySpec] = Seq(
    // short-mix's pass times settle only on the third run of its queries
    LibrarySpec("short-mix", 0.01, shortMix, Set("events", "documents",
      "lineitem", "orders", "part", "nation", "region"), warmupPasses = 2),
    LibrarySpec("placement-heavy", 0.005, placementHeavy,
      Set("lineitem", "orders", "documents")))
    .map(s => s.name -> s).toMap

  def library(name: String): Option[LibrarySpec] = specs.get(name)
}

/** Runs registry queries over generated tables; the seed permutes their
  * order within each pass. The warm-up pass is the output check: it
  * fingerprints every result and compares it with the certified
  * fingerprint in the expected-fingerprints file. */
final class Library(h: Harness, spec: LibrarySpec) extends Workload {
  val name: String = spec.name
  private val spark = h.spark
  private val dataDir = s"${h.o.dir}/data"
  private var checks = Seq.empty[(String, Option[String])]

  private def runQuery(q: String): DataFrame =
    graft.queries.Registry.byName(q).run(spark, dataDir)

  def setup(): Seq[(String, Double)] = {
    val t0 = System.nanoTime()
    Data.generate(spark, dataDir, spec.sf, spec.tables)
    val gen = h.secs(t0)
    val t1 = System.nanoTime()
    checks = fingerprints()
    val check = h.secs(t1)
    val t2 = System.nanoTime()
    (1 to spec.warmupPasses).foreach(i => pass(-1 - i))
    Seq("data_s" -> gen, "warmup_check_s" -> check, "warmup_s" -> h.secs(t2))
  }

  def pass(i: Int): Seq[(Op, Residue)] =
    h.order(spec.queries, i).map(q => h.op(q, "query", runQuery(q)))

  def check(): Seq[(String, Option[String])] = checks

  private def fingerprints(): Seq[(String, Option[String])] = {
    val expected = Expected.load(h.o.expected).getOrElse(name, Map.empty)
    val got = h.order(spec.queries, -1).map { q =>
      var fp = ""
      val (op, _) = h.op(s"check:$q", "check", {
        fp = Fingerprint.of(runQuery(q)); spark.emptyDataFrame })
      q -> op.error.map(e => s"fingerprint failed: $e").toLeft(fp)
    }
    got.map {
      case (q, Left(e)) => s"check:$q" -> Some(e)
      case (q, Right(fp)) => s"check:$q" -> (expected.get(q) match {
        case Some(`fp`) => None
        case Some(want) => Some(s"fingerprint $fp, expected $want")
        case None => Some(s"no expected fingerprint (got $fp)")
      })
    }
  }
}

/** The daily production cycle through `api.Dispatch`: one incremental
  * dump import (a seeded day), one deleted-listens import (a seeded
  * sample), then every `stats.*` request for `week` and `all_time` in a
  * seeded order. The store, stats work directory and dump ledger are
  * restored to their post-set-up bytes before every pass. */
final class StatsDaily(h: Harness) extends Workload {
  val name = "stats-daily"
  val sf = 0.01
  private val spark = h.spark
  private val root = Paths.get(h.o.dir, "stats-daily")
  private val dataDir = root.resolve("data").toString
  private val live = root.resolve("live")
  private val snap = root.resolve("snapshot")
  private var snapDigest = ""

  /** Stats names answered by `IncrementalStatsEngine.run` from a cached
    * partial when its window still matches, one per provider shape:
    * per-user top entities, a metadata-cache-joined chain and per-entity
    * listeners. */
  private val engineNames = Set("stats.user.entity", "stats.user.era_activity",
    "stats.entity.listeners")
  private val columnEntity =
    Set("stats.user.entity", "stats.sitewide.entity", "stats.entity.listeners")
  private val statsRequests: Seq[(String, String)] = for {
    n <- Dispatch.names.filter(engineNames)
    r <- Seq("week", "all_time")
  } yield (n, r)

  // The events span 2024-01-01 (a Monday) to 2024-01-30. The store holds
  // every listen before 2024-01-24, a Wednesday; the seed picks the
  // imported day among Wednesday..Sunday of that week, so every seed
  // moves the all_time window and none moves the week window.
  private val cutoff = Timestamp.valueOf("2024-01-24 00:00:00")
  private val day = cutoff.toLocalDateTime.plusDays(h.o.seed.abs % 5)
  private val dayFrom = Timestamp.valueOf(day)
  private val dayTo = Timestamp.valueOf(day.plusDays(1))
  private val DeletionSample = 25

  private lazy val listens: DataFrame = {
    val ev = graft.core.Tables.events(spark, dataDir)
    ev.select(
      col("ts").as("listened_at"), col("ts").as("created"),
      col("user_id").cast("int").as("user_id"),
      concat(lit("m"), col("event_id")).as("recording_msid"),
      col("event_type").as("artist_name"),
      pmod(col("event_id"), lit(97)).as("artist_credit_id"),
      concat(lit("Release "), pmod(col("event_id"), lit(199))).as("release_name"),
      concat(lit("rel"), pmod(col("event_id"), lit(199))).as("release_mbid"),
      concat(lit("Track "), pmod(col("event_id"), lit(997))).as("recording_name"),
      concat(lit("r"), pmod(col("event_id"), lit(997))).as("recording_mbid"),
      array(concat(lit("am"), pmod(col("event_id"), lit(97))))
        .as("artist_credit_mbids"))
  }
  private def base = listens.filter(col("listened_at") < lit(cutoff))
  private def daySlice = listens.filter(
    col("listened_at") >= lit(dayFrom) && col("listened_at") < lit(dayTo))
  private def deletions =
    spark.read.parquet(root.resolve("deletions").toString)

  /** Metadata caches keyed like the listens above. */
  private lazy val caches: Dispatch.Caches = {
    def mk(prefix: String, n: Int): DataFrame =
      spark.range(n).select(concat(lit(prefix), col("id")).as("k"))
    val genreNames = Seq("rock", "jazz", "pop", "folk", "metal")
    def genre(salt: Int) = element_at(array(genreNames.map(lit): _*),
      (pmod(xxhash64(col("k"), lit(salt)), lit(5)) + 1).cast("int"))
    def count9(salt: Int) = pmod(xxhash64(col("k"), lit(salt)), lit(9)) + 1
    val recs = mk("r", 997)
    def tagged(tag: String, count: String, salt: Int) =
      recs.select(col("k").as("recording_mbid"),
        concat(lit("tag"), pmod(xxhash64(col("k"), lit(salt)), lit(50))).as(tag),
        count9(salt + 1).as(count))
    def genred(salt: Int) = recs.select(col("k").as("recording_mbid"),
      genre(salt).as("genre"), count9(salt + 1).as("genre_count"))
    val year = (lit(1980) + pmod(xxhash64(col("k")), lit(45)).cast("int"))
      .as("first_release_date_year")
    Dispatch.Caches(
      genres = recs.select(col("k").as("recording_mbid"), genre(0).as("genre")),
      releases = mk("rel", 199).select(col("k").as("release_mbid"),
        concat(lit("rg"), pmod(xxhash64(col("k")), lit(97))).as("release_group_mbid")),
      releaseGroups = mk("rg", 97).select(col("k").as("release_group_mbid"), year),
      releaseYears = mk("rel", 199).select(col("k").as("release_mbid"), year),
      recordingLengths = recs.select(col("k").as("recording_mbid"),
        (lit(120000L) + pmod(xxhash64(col("k")), lit(180000L))).as("length")),
      recordingArtists = recs.select(col("k").as("recording_mbid"),
        array(concat(lit("am"), pmod(xxhash64(col("k")), lit(97)))).as("artist_mbids")),
      artistCountries = mk("am", 97).select(col("k").as("artist_mbid"),
        element_at(array(lit("IS"), lit("GB"), lit("DE"), lit("BR")),
          (pmod(xxhash64(col("k")), lit(4)) + 1).cast("int")).as("country_code")),
      recordingGenres = genred(1),
      releaseGroupGenres = genred(3),
      artistGenres = genred(5),
      recordingTags = tagged("tag", "tag_count", 7),
      artistTags = tagged("tag", "tag_count", 9),
      releaseGroupTags = tagged("tag", "tag_count", 11))
  }

  private final class Env(dir: Path) {
    val store = new ListenStore(spark, dir.resolve("store").toString)
    val statsDir: Path = dir.resolve("stats")
    val engine = new IncrementalStatsEngine(spark, statsDir.toString)
    val dispatch = new Dispatch(spark, store, engine, caches,
      workDir = dir.resolve("wd").toString)

    def request(n: String, range: String): dispatch.StatRequest =
      dispatch.StatRequest(n,
        entity = if (columnEntity(n)) "artist_name" else "artists",
        statsRange = range, dumpId = 2,
        data = n match {
          case "import.dump.incremental" => Some(daySlice)
          case "import.deleted_listens" => Some(deletions)
          case _ => None
        })

    /** Partial directories with their files' names and modification times. */
    def partials(): Map[String, Seq[(String, Long)]] =
      Fs.walk(statsDir).filter(p => Files.isDirectory(p) &&
          p.getFileName.toString == "partial")
        .map(p => statsDir.relativize(p).toString -> Fs.files(p).map(f =>
          f.getFileName.toString -> Files.getLastModifiedTime(f).toMillis))
        .toMap
  }

  private lazy val a = new Env(live)

  private val imports = Seq("import.dump.incremental", "import.deleted_listens")

  /** The operations of one pass, in order. */
  private def plan(i: Int): Seq[(String, String)] =
    imports.map(_ -> "") ++ h.order(statsRequests, i)

  private def kind(n: String): String =
    if (n.startsWith("import.")) "import" else "stats"

  private def restore(): Unit = {
    Fs.deleteTree(live)
    Fs.copyTree(snap, live)
    val d = Fs.digest(live)
    if (d != snapDigest) sys.error(s"restored state digest $d != snapshot $snapDigest")
  }

  private var cachedAnswers = Seq.empty[(String, Either[String, String])]

  private def answers(env: Env): Seq[(String, Either[String, String])] =
    plan(-1).map { case (n, r) =>
      var fp = ""
      val label = if (r.isEmpty) n else s"$n@$r"
      val (op, _) = h.op(s"check:$label", "check", {
        fp = Fingerprint.of(env.dispatch.handle(env.request(n, r)))
        spark.emptyDataFrame
      })
      label -> op.error.toLeft(fp)
    }

  def setup(): Seq[(String, Double)] = {
    val t0 = System.nanoTime()
    Data.generate(spark, dataDir, sf, only = Set("events"))
    // the seeded deletion sample, drawn from every listen the store will
    // hold after the day's import
    listens.filter(col("listened_at") < lit(dayTo))
      .orderBy(xxhash64(col("recording_msid"), lit(h.o.seed)))
      .limit(DeletionSample).select(Listen.deletionKey.map(col): _*)
      .coalesce(1).write.parquet(root.resolve("deletions").toString)
    a.store.writeBase(base)
    val gen = h.secs(t0)
    // yesterday's stats run: leaves the cached partials a daily cycle
    // starts from
    val t1 = System.nanoTime()
    statsRequests.foreach { case (n, r) =>
      h.op(s"$n@$r", kind(n), a.dispatch.handle(a.request(n, r))) }
    val prime = h.secs(t1)
    Fs.copyTree(live, snap)
    snapDigest = Fs.digest(snap)
    // warm-up: the check's first half, one pass answered from the cached
    // partials
    val t2 = System.nanoTime()
    restore()
    cachedAnswers = answers(a)
    Seq("data_s" -> gen, "prime_s" -> prime, "warmup_check_s" -> h.secs(t2))
  }

  def pass(i: Int): Seq[(Op, Residue)] = {
    restore()
    plan(i).map { case (n, r) =>
      h.op(if (r.isEmpty) n else s"$n@$r", kind(n),
        a.dispatch.handle(a.request(n, r)), () => a.partials())
    }
  }

  override def storeBytes: Long = Fs.bytes(live.resolve("store"))

  /** Compares the warm-up's answers with the same requests answered by a
    * second Dispatch over a store built fresh from the same listens, with
    * no cached partials. */
  def check(): Seq[(String, Option[String])] = {
    val b = new Env(root.resolve("fresh"))
    b.store.writeBase(base)
    val want = answers(b).toMap
    cachedAnswers.map { case (label, res) =>
      s"check:$label" -> ((res, want(label)) match {
        case (Left(e), _) => Some(s"cached store failed: $e")
        case (_, Left(e)) => Some(s"fresh store failed: $e")
        case (Right(x), Right(y)) if x == y => None
        case (Right(x), Right(y)) => Some(s"fingerprint $x, fresh store $y")
      })
    }
  }
}

/** The certified fingerprints, one JSON object per workload:
  * `{"short-mix": {"q109_dense_ids": "rows:hash:schema", ...}, ...}`. */
object Expected {
  def load(path: String): Map[String, Map[String, String]] = {
    import scala.jdk.CollectionConverters._
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else new com.fasterxml.jackson.databind.ObjectMapper().readValue(f,
        classOf[java.util.Map[String, java.util.Map[String, String]]])
      .asScala.map { case (w, m) => w -> m.asScala.toMap }.toMap
  }
}
