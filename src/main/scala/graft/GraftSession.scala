package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a session builder pre-wired with the defaults
  * every graft deployment wants, so `GraftSession.builder().master(...)
  * .getOrCreate()` is the one-liner path to a correctly configured
  * session.
  *
  *   - AQE on, with skew-join splitting and partition coalescing — the
  *     runtime re-plan layer the engine's static shapes assume
  *     (SCALE.md: "AQE handles join skew").
  *   - UTC session timezone — the timezone discipline the reference
  *     lacks and this engine pins everywhere (SURVEY §7.4).
  *   - shuffle parallelism sized to the given core count rather than
  *     Spark's default 200 — on a real cluster pass executors × cores.
  *   - the graft Catalyst expressions injected, so `graft_vec_dot` /
  *     `graft_poly_hash62` resolve in plain SQL, and the
  *     [[graft.functions.LevenshteinRewrite]] optimizer rule.
  *
  * Every setting remains overridable with further `.config(...)` calls.
  *
  * Every main starts its session with [[fromEnv]], which reads three
  * environment variables and nothing else:
  *
  *   - `SPARK_GRAFT_CPUS` — cores, the master's `local[n]` and the
  *     default width. Default: the cores the JVM sees, as in [[builder]].
  *     Constrained-heap probes set it low on purpose: 32 threads in a 4g
  *     heap leave each task ~70 MB of execution memory, a shape no
  *     production executor has.
  *   - `SPARK_GRAFT_MASTER` — replaces `local[$SPARK_GRAFT_CPUS]`. The
  *     `local-cluster[workers,cores,mem]` tier runs real executor JVMs
  *     (closure serialization, torrent broadcast, off-heap exchange);
  *     pair it with `spark.executor.extraClassPath=target/scala-2.13/classes`.
  *   - `SPARK_GRAFT_WIDTH` — `spark.sql.shuffle.partitions`, default the
  *     cores. Width is a data-volume setting (it sets per-task bytes, and
  *     with them the size of every session-width pinned block), cores a
  *     throughput one: on `local-cluster[2,4,4096]`, width 8 (its cores)
  *     fused 30× pinned frames into ~135 MB blocks whose re-read ran 4 GiB
  *     executors out of memory, where width 32 passed.
  */
object GraftSession {

  def builder(
      cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .withExtensions(new graft.functions.GraftExtensions)

  /** The master, cores and shuffle width [[fromEnv]] resolves. */
  private[graft] final case class Settings(master: String, cores: Int, width: Int)

  private[graft] def settings(env: Map[String, String]): Settings = {
    val cores = env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors())(_.toInt)
    Settings(env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"), cores,
      env.get("SPARK_GRAFT_WIDTH").fold(cores)(_.toInt))
  }

  /** The session every main runs: [[builder]] at the [[settings]] `env`
    * resolves, UI off, log level WARN. */
  def fromEnv(env: Map[String, String] = sys.env): SparkSession = {
    val s = settings(env)
    val spark = builder(s.width).master(s.master) // the shuffle width
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
