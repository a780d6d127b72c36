package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness JVM. One run = set-up, warm-up, timed passes for
  * `--seconds`, then one untimed output check. It writes its metric lines
  * and the result object to `--out` as JSON; `perfbench/run.py` prints
  * them. See `perfbench/README.md` for the workloads and metrics.
  *
  * Timed sections hold only calls into the engine's public entry points:
  * `Q.run` plus the result's `noop` write for registry queries,
  * `Dispatch.handle` plus the `noop` write for requests. Residue cleanup,
  * state restores and fingerprints run between them, untimed. */
object Main {
  val Cores = 4

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, dir: String, out: String, expected: String,
      commit: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Opts(m("--workload"), m("--seed").toLong, m("--seconds").toDouble,
      m("--trace") == "1", m("--dir"), m("--out"), m("--expected"),
      m.getOrElse("--commit", "unknown"))
  }

  def session(dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    // certification helpers for perfbench/certify.py:
    //   --generate <workload> <dataDir> <workDir>: write every table at
    //     the workload's scale, print its query names
    //   --fingerprint <workload> <verifyOutDir> <workDir>: fingerprint
    //     `graft.Verify`'s parquet output of each of its queries
    if (args.headOption.exists(Set("--generate", "--fingerprint"))) {
      val spark = session(args(3))
      val spec = Workloads.library(args(1)).get
      if (args(0) == "--generate") {
        Data.generate(spark, args(2), spec.sf)
        println(spec.queries.mkString(" "))
      } else spec.queries.foreach(q => println(
        s"$q ${Fingerprint.of(spark.read.parquet(s"${args(2)}/$q"))}"))
      spark.stop()
      return
    }
    val o = parse(args)
    val jvmStart =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o.dir)
    val h = new Harness(spark, o)
    val w: Workload = o.workload match {
      case "stats-daily" => new StatsDaily(h)
      case name => new Library(h, Workloads.library(name).getOrElse(
        sys.error(s"unknown workload $name")))
    }
    val setupParts = w.setup()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val steal0 = stealSeconds()
    val passes = h.measure(w)
    val steal = stealSeconds() - steal0
    val rssMb = peakRssMb()
    val t0 = System.nanoTime()
    val checks = w.check()
    h.writeResult(w, passes, setupS, setupParts :+ ("check_s" -> h.secs(t0)),
      rssMb, steal, checks)
    spark.stop()
  }

  /** CPU time the hypervisor withheld from the host's CPUs (steal, summed
    * over all of them), from /proc/stat; reported so a slow run can be
    * told apart from a slow program. */
  def stealSeconds(): Double = {
    val cpu = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+")
    if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** One timed call: `build` is the entry point (`Q.run`/`Dispatch.handle`),
  * `materialize` the result's `noop` write. */
final case class Op(name: String, kind: String, buildS: Double,
    materializeS: Double, error: Option[String]) {
  def totalS: Double = buildS + materializeS
}

/** What one operation created in the session. `scratchFiles` and
  * `scratchBytes` count every scratch file seen while it ran (sampled
  * in traced passes, else only those left at its end); `leftScratchBytes`
  * is what was still there at its end. */
final case class Residue(pins: Int, leftPins: Int, pinnedBytes: Long,
    tables: Int, leftTables: Int, leftStreams: Int, scratchFiles: Int,
    scratchBytes: Long, leftScratchBytes: Long, partialRewrites: Int) {
  def left: Boolean = leftPins + leftTables + leftStreams > 0 ||
    leftScratchBytes > 0
}

/** Samples a scratch tree from a background thread while `during` runs,
  * so files an operation writes and deletes before it returns are counted
  * too. Returns each new file's largest seen size. Files under a
  * `_temporary` directory are skipped: a committed write shows them again
  * under their final names. */
object ScratchWatch {
  val IntervalMs = 5L

  def during[T](root: Path, before: Set[Path])(body: => T): (T, Map[Path, Long]) = {
    val seen = new java.util.concurrent.ConcurrentHashMap[Path, java.lang.Long]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    def sample(): Unit = Fs.sizes(root).foreach { case (p, n) =>
      if (!before(p) && !p.toString.contains("/_temporary/"))
        seen.merge(p, java.lang.Long.valueOf(n), (a: java.lang.Long, b: java.lang.Long) =>
          java.lang.Long.valueOf(math.max(a.longValue, b.longValue)))
    }
    val t = new Thread(() =>
      while (!stop.get) { sample(); Thread.sleep(IntervalMs) },
      "perfbench-scratch-watch")
    t.setDaemon(true)
    t.start()
    val r = try body finally { stop.set(true); t.join() }
    sample()
    import scala.jdk.CollectionConverters._
    (r, seen.asScala.map { case (p, n) => p -> n.longValue }.toMap)
  }
}

final case class Pass(ops: Seq[(Op, Residue)], traced: Boolean,
    layer: Map[String, Double]) {
  def seconds: Double = ops.map(_._1.totalS).sum
}

trait Workload {
  def name: String
  /** Builds fixtures and warms up with the output check's first half;
    * returns named set-up phase times. */
  def setup(): Seq[(String, Double)]
  /** Runs one pass; `i` numbers the pass within the run. */
  def pass(i: Int): Seq[(Op, Residue)]
  /** Finishes the untimed output check: (operation, error if wrong). */
  def check(): Seq[(String, Option[String])]
  /** Bytes of the listen store the requests read, if there is one. */
  def storeBytes: Long = 0L
}

final class Harness(val spark: SparkSession, val o: Main.Opts) {
  private val sc = spark.sparkContext
  val trace = new Trace
  private var tracing = false
  private var reqSeq = 0
  val scratchRoot: Path = Paths.get(o.dir, "scratch")

  def startTrace(): Unit = {
    sc.addSparkListener(trace); spark.listenerManager.register(trace)
    tracing = true
  }
  def stopTrace(): Unit = {
    drain(); sc.removeSparkListener(trace)
    spark.listenerManager.unregister(trace); tracing = false
  }
  def drain(): Unit = org.apache.spark.PerfbenchInternals.drain(sc)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Seeded shuffle, distinct per pass. */
  def order[T](xs: Seq[T], pass: Int): Seq[T] =
    new scala.util.Random(o.seed * 1000003L + pass).shuffle(xs)

  private def graftTables(): Set[(String, Boolean)] =
    org.apache.spark.PerfbenchInternals.graftTables(spark)

  private def scratchFiles(): Map[Path, Long] = Fs.sizes(scratchRoot).toMap

  /** Runs one operation with `build` and `materialize` timed, then
    * observes and removes what it left in the session: new pinned RDDs,
    * `graft_*` tables, streams and scratch trees. `partials` lists the
    * stats partial directories' contents, to count rewrites. */
  def op(name: String, kind: String, build: => DataFrame,
      partials: () => Map[String, Seq[(String, Long)]] = () => Map.empty)
      : (Op, Residue) = {
    val pinsBefore = sc.getPersistentRDDs.keySet.toSet
    val tablesBefore = graftTables()
    val streamsBefore = spark.streams.active.map(_.id).toSet
    val scratchBefore = graft.core.TempWork.snapshot()
    val filesBefore = scratchFiles().keySet
    val partialsBefore = partials()
    if (tracing) { drain(); trace.unpersisted.clear(); trace.createdTables.clear() }
    reqSeq += 1
    val req = s"req-$reqSeq"
    sc.setJobGroup(req, name)
    var buildS = 0.0
    var totalS = 0.0
    def timed(): Option[String] = {
      val t0 = System.nanoTime()
      val error = try {
        val df = build
        buildS = secs(t0)
        df.write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).linesIterator.toSeq.headOption
              .getOrElse("").take(200))
      }
      totalS = secs(t0)
      error
    }
    val (error, seenFiles) =
      if (tracing) ScratchWatch.during(scratchRoot, filesBefore)(timed())
      else (timed(), Map.empty[Path, Long])
    val end = System.currentTimeMillis()
    sc.clearJobGroup()
    if (tracing) trace.synchronized {
      trace.spans += Span("request", req, "", req, name,
        end - (totalS * 1000).toLong, end)
    }
    // ---- untimed: observe, then clean up
    val newPins = sc.getPersistentRDDs.filter { case (id, _) => !pinsBefore(id) }
    val pinnedBytes = sc.getRDDStorageInfo.filter(i => newPins.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    val newTables = graftTables() -- tablesBefore
    val newStreams = spark.streams.active.filterNot(q => streamsBefore(q.id))
    val newFiles = scratchFiles().filter { case (p, _) => !filesBefore(p) }
    val created = newFiles ++ seenFiles.map { case (p, n) =>
      p -> math.max(n, newFiles.getOrElse(p, 0L)) }
    val partialsAfter = partials()
    val rewrites = partialsAfter.count { case (k, v) => !partialsBefore.get(k).contains(v) }
    val (pins, tables) =
      if (tracing) {
        drain()
        ((newPins.keySet ++ trace.unpersisted.filterNot(pinsBefore)).size,
          trace.createdTables.count(_.startsWith("graft_")))
      } else (newPins.size, newTables.size)
    newPins.values.foreach(_.unpersist(blocking = true))
    newTables.foreach { case (t, temp) =>
      if (temp) spark.catalog.dropTempView(t)
      else spark.sql(s"DROP TABLE IF EXISTS `$t`")
    }
    newStreams.foreach { q => q.stop(); q.awaitTermination(10000) }
    graft.core.TempWork.sweepCreatedSince(scratchBefore)
    (Op(name, kind, if (error.isEmpty) buildS else totalS,
        if (error.isEmpty) totalS - buildS else 0.0, error),
      Residue(pins, newPins.size, pinnedBytes, tables, newTables.size,
        newStreams.size, created.size, created.values.sum, newFiles.values.sum,
        rewrites))
  }

  /** Timed passes until `seconds` of timed work, at least one. A traced
    * run alternates untraced and traced passes, starting and ending
    * untraced, so the tracing overhead is read against untraced passes on
    * both sides of each traced one. */
  def measure(w: Workload): Seq[Pass] = {
    val passes = mutable.ArrayBuffer.empty[Pass]
    var i = 0
    def timed = passes.map(_.seconds).sum
    def enough = timed >= o.seconds &&
      (!o.trace || (passes.size >= 3 && !passes.last.traced))
    while (!enough) {
      val traced = o.trace && i % 2 == 1
      if (traced) { startTrace(); trace.reset() }
      val ops = w.pass(i)
      val layer =
        if (traced) {
          stopTrace()
          layerMetrics(ops, w.storeBytes)
        } else Map.empty[String, Double]
      passes += Pass(ops, traced, layer)
      i += 1
    }
    passes.toSeq
  }

  private def layerMetrics(ops: Seq[(Op, Residue)], storeBytes: Long)
      : Map[String, Double] = {
    val c = trace.counts
    val wall = ops.map(_._1.totalS).sum
    val busy = trace.jobBusySeconds
    val mb = 1024.0 * 1024.0
    val runS = c("run_ms") / 1000.0
    def sumOf(kind: String)(f: Op => Double) =
      ops.map(_._1).filter(_.kind == kind).map(f).sum
    def res(f: Residue => Double) = ops.map(x => f(x._2)).sum
    val statsOps = ops.filter(_._1.kind == "stats")
    // a workload calls one entry point: registry queries or api requests
    val entry = if (ops.forall(_._1.kind == "query")) Map(
      "queries.build_s" -> sumOf("query")(_.buildS),
      "queries.materialize_s" -> sumOf("query")(_.materializeS))
    else Map(
      "api.handle_s" -> ops.map(_._1.buildS).sum,
      "api.materialize_s" -> ops.map(_._1.materializeS).sum,
      "api.import_s" -> sumOf("import")(_.totalS),
      "api.import_p50_s" -> {
        val xs = ops.map(_._1).filter(_.kind == "import").map(_.totalS).sorted
        if (xs.isEmpty) 0.0 else xs((xs.size - 1) / 2)
      },
      "api.stats_s" -> sumOf("stats")(_.totalS),
      "engine.partial_rewrites" -> res(_.partialRewrites.toDouble),
      "engine.partial_reuse_ratio" ->
        (if (statsOps.isEmpty) 0.0
         else statsOps.count(_._2.partialRewrites == 0).toDouble / statsOps.size),
      "engine.store_mb" -> storeBytes / mb)
    entry ++ Map(
      "spark.plan.executions" -> c("executions"),
      "spark.plan.analysis_ms" -> c("analysis_ms"),
      "spark.plan.optimization_ms" -> c("optimization_ms"),
      "spark.plan.planning_ms" -> c("planning_ms"),
      "spark.sched.jobs" -> c("jobs"),
      "spark.sched.stages" -> c("stages"),
      "spark.sched.tasks" -> c("tasks"),
      "spark.sched.tasks_failed" -> c("tasks_failed"),
      "spark.sched.job_busy_s" -> busy,
      "spark.sched.driver_gap_s" -> math.max(0.0, wall - busy),
      "spark.sched.task_queue_s" -> c("task_queue_ms") / 1000.0,
      "spark.exec.run_s" -> runS,
      "spark.exec.cpu_s" -> c("cpu_ns") / 1e9,
      "spark.exec.gc_s" -> c("gc_ms") / 1000.0,
      "spark.exec.slot_util" -> (if (busy > 0) runS / (Main.Cores * busy) else 0.0),
      "spark.exec.input_mb" -> c("input_bytes") / mb,
      "spark.shuffle.read_mb" -> c("shuffle_read_bytes") / mb,
      "spark.shuffle.write_mb" -> c("shuffle_write_bytes") / mb,
      "spark.shuffle.fetch_wait_s" -> c("fetch_wait_ms") / 1000.0,
      "spark.spill.memory_mb" -> c("spill_memory_bytes") / mb,
      "spark.spill.disk_mb" -> c("spill_disk_bytes") / mb,
      "core.pins" -> res(_.pins.toDouble),
      "core.pinned_mb" -> res(_.pinnedBytes / mb),
      "core.tables" -> res(_.tables.toDouble),
      "core.scratch_files" -> res(_.scratchFiles.toDouble),
      "core.scratch_mb" -> res(_.scratchBytes / mb),
      "core.left_pins" -> res(_.leftPins.toDouble),
      "core.left_tables" -> res(_.leftTables.toDouble),
      "core.left_streams" -> res(_.leftStreams.toDouble),
      "core.left_scratch_mb" -> res(_.leftScratchBytes / mb))
  }

  // ------------------------------------------------------------ output

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Percentile by linear interpolation between the closest ranks
    * (numpy's default), steadier than nearest rank on a few samples. */
  private def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = h.toInt
    if (lo + 1 >= s.size) s(lo) else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else d.toString

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  def writeResult(w: Workload, passes: Seq[Pass], setupS: Double,
      setupParts: Seq[(String, Double)], rssMb: Double, stealS: Double,
      checks: Seq[(String, Option[String])]): Unit = {
    val lines = mutable.ArrayBuffer.empty[String]
    val plain = passes.filterNot(_.traced)
    val traced = passes.filter(_.traced)
    val timedOps = passes.flatMap(_.ops.map(_._1))
    val lat = plain.flatMap(_.ops.map(_._1)).filter(_.error.isEmpty).map(_.totalS)
    val failures = timedOps.filter(_.error.nonEmpty).map(op => op.name -> op.error.get) ++
      checks.collect { case (n, Some(e)) => n -> e }
    val attempted = timedOps.size + checks.size
    val failed = failures.size
    val base = Seq("workload" -> q(w.name), "seed" -> o.seed.toString)
    def metric(name: String, v: Double, unit: String,
        extra: Seq[(String, String)] = Nil): (String, Double, String) = {
      lines += obj(Seq("metric" -> q(name), "value" -> num(v),
        "unit" -> q(unit)) ++ base ++ extra)
      (name, v, unit)
    }
    lines += obj(Seq("env" -> obj(Seq(
      "master" -> q(spark.sparkContext.master),
      "shuffle_partitions" -> q(spark.conf.get("spark.sql.shuffle.partitions")),
      "aqe" -> q(spark.conf.get("spark.sql.adaptive.enabled")),
      "heap_max_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark" -> q(spark.version),
      "jdk" -> q(System.getProperty("java.runtime.version")),
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "scratch" -> q(sys.env.getOrElse("SPARK_GRAFT_WORK_DIR", "")),
      "spark_local_dir" -> q(spark.conf.get("spark.local.dir")),
      "commit" -> q(o.commit)))) ++ base)
    lines += obj(Seq("setup_phases_s" -> obj(setupParts.map {
      case (k, v) => k -> num(v) })) ++ base)
    lines += obj(Seq("cpu_steal_s" -> num(stealS),
      "timed_s" -> num(passes.map(_.seconds).sum)) ++ base)
    val n = lat.size
    val e2e = if (n == 0) Nil else {
      // the highest percentile with at least 10 samples beyond it
      val tailP = math.max(0.5, math.floor((1.0 - 10.0 / n) * 100) / 100)
      lines += obj(Seq("request_tail" -> obj(Seq("percentile" -> num(tailP * 100),
        "value_s" -> num(pct(lat, tailP)), "samples" -> n.toString))) ++ base)
      Seq(
        metric("pass_s", median(plain.map(_.seconds)), "s",
          Seq("passes" -> plain.map(p => num(p.seconds)).mkString("[", ",", "]"))),
        metric("request_p50_s", pct(lat, 0.5), "s", Seq("samples" -> n.toString)),
        metric("request_p90_s", pct(lat, 0.9), "s",
          Seq("samples" -> n.toString,
            "beyond" -> lat.count(_ > pct(lat, 0.9)).toString)),
        metric("setup_s", setupS, "s"),
        metric("peak_rss_mb", rssMb, "MB"))
    }
    val imports = plain.flatMap(_.ops.map(_._1)).filter(o => o.kind == "import" && o.error.isEmpty)
    if (imports.nonEmpty) metric("import_p50_s", pct(imports.map(_.totalS), 0.5), "s",
      Seq("samples" -> imports.size.toString))
    metric("failed_ratio", failed.toDouble / math.max(1, attempted), "ratio",
      Seq("attempted" -> attempted.toString, "failed" -> failed.toString))
    if (failures.nonEmpty) lines += obj(Seq("failures" -> obj(
      failures.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, v) =>
        k -> q(v.head._2) })) ++ base)
    // session residue: which operations left something to clean up
    val leftBy = passes.flatMap(_.ops).filter(_._2.left)
      .groupBy(_._1.name).toSeq.sortBy(_._1).map { case (k, v) =>
        val r = v.head._2
        k -> obj(Seq("pins" -> r.leftPins.toString, "tables" -> r.leftTables.toString,
          "streams" -> r.leftStreams.toString,
          "scratch_mb" -> num(r.leftScratchBytes / 1048576.0)))
      }
    lines += obj(Seq("residue" -> obj(leftBy)) ++ base)
    // each operation's median latency over the untraced passes
    lines += obj(Seq("ops_s" -> obj(plain.flatMap(_.ops.map(_._1))
      .filter(_.error.isEmpty).groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (k, v) => k -> num(median(v.map(_.totalS))) })) ++ base)
    val perLayer = if (traced.isEmpty) Nil else {
      val keys = traced.head.layer.keys.toSeq.sorted
      val untracedS = median(plain.map(_.seconds))
      val tracedS = median(traced.map(_.seconds))
      keys.map(k => metric(k, median(traced.map(_.layer(k))), Units.of(k))) :+
        metric("trace.overhead_ratio",
          if (untracedS > 0) tracedS / untracedS else 0.0, "ratio",
          Seq("traced_pass_s" -> num(tracedS), "untraced_pass_s" -> num(untracedS)))
    }
    if (o.trace) writeSpans(w)
    val chosen = if (o.trace) perLayer :+ ("failed_ratio",
      failed.toDouble / math.max(1, attempted), "ratio") else e2e
    val result = obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(chosen.map { case (k, v, u) =>
        k -> obj(Seq("value" -> num(v), "unit" -> q(u))) })))
    Files.writeString(Paths.get(o.out), obj(Seq(
      "lines" -> lines.map(q).mkString("[", ",", "]"),
      "result" -> result)) + "\n")
  }

  private def writeSpans(w: Workload): Unit = {
    val p = Paths.get(o.out).resolveSibling(s"trace-${w.name}-seed${o.seed}.jsonl")
    val body = trace.spans.map(s => obj(Seq("kind" -> q(s.kind), "id" -> q(s.id),
      "parent" -> q(s.parent), "request" -> q(s.request), "name" -> q(s.name),
      "start_ms" -> s.start.toString, "end_ms" -> s.end.toString)))
    Files.writeString(p, body.mkString("", "\n", "\n"))
  }
}

object Units {
  def of(metric: String): String =
    if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_ms")) "ms"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric.endsWith("_ratio") || metric.endsWith("_util")) "ratio"
    else "count"
}
