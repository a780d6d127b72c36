package graft

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Each query is fully materialized through the noop
  * sink (`.count()` would let Catalyst prune expensive columns the query
  * semantically produces). One warmup query absorbs JVM/codegen startup so
  * per-query numbers reflect plan execution, not first-run JIT.
  *
  * SPARK_GRAFT_REPEAT=N (default 1) times each query N times and reports
  * the MEDIAN — the noise protocol for adjudicating round-over-round
  * movement: single-shot timing cannot distinguish a plan regression from
  * a noisy neighbor in a shared sandbox, so any query that moves >1.5×
  * between rounds gets re-measured at repeat≥3 and the median recorded in
  * SCALE.md.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt.max(1)
    val cpus = GraftSession.settings(sys.env).cores
    val spark = GraftSession.fromEnv()

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        // stderr, not the JSON line: the failure REASON matters when the
        // run is a truth probe (e.g. the local-cluster serialization tier)
        System.err.println(s"[bench] $name failed: " +
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    def runOne(name: String): Double = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val ts = Seq.fill(repeat) {
        val scratchBefore = graft.core.TempWork.snapshot()
        val t = runOnce(name)
        // OUTSIDE the timed section: drop the blocks THIS query pinned
        // (snapshot diff — StateTable.pin localCheckpoints have truncated
        // lineage, so a pin shared across queries must never be yanked
        // from under a later reader; today nothing is shared, but the
        // diff makes that an invariant, not an assumption). Without the
        // unpersist, one JVM accumulates 200+ queries' storage blocks and
        // the later heavy queries time GC debt, not their plans — the
        // r7→r8 "uniform 1.33× drift" the isolated ProbeOne pairs
        // disproved (SCALE.md).
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => before(id) }
          .values.foreach(_.unpersist(blocking = false))
        // ALSO outside the timed section: drop this query's scratch
        // trees — the disk-side analogue of the unpersist above, scoped
        // by the SAME snapshot-diff discipline (only dirs created by
        // this run are deleted; anything pre-existing is structurally
        // out of reach — ADVICE r13). Each query's own staging writes
        // stay inside its timed run; what goes is the CROSS-query
        // accumulation (round 13 measured the full-run tail inflating
        // ~2-30× over the same queries isolated, on a box where dirty
        // writeback is the scarce resource — OPTIMIZATION_r13.md).
        graft.core.TempWork.sweepCreatedSince(scratchBefore)
        t
      }
      if (ts.exists(_ < 0)) -1.0
      else ts.sorted.apply(ts.size / 2) // median (upper for even sizes)
    }

    // optional trailing args restrict the set (local scale probes; the
    // driver always runs everything). Declared verification forms
    // (Q.verifyOnly — deliberately quadratic oracle formulations like
    // q125's threshold-0 DIMSUM) are excluded from the headline set but
    // still run when named explicitly.
    val only = args.toSet
    val verifyOnly =
      graft.queries.Registry.all.filter(_.verifyOnly).map(_.name).toSet
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => if (only.isEmpty) !verifyOnly(n) else only(n))
    runOne(names.head) // warmup: JVM + codegen + parquet footer caches
    val results = names.map(n => n -> runOne(n))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // ALSO a file artifact: the round record must not depend on how much
    // of the log tail the driver captures (BENCH_r08.json lost the
    // per-query map of the first ~200 queries to tail truncation).
    // NO-CLOBBER BY DEFAULT (rounds 9 AND 10 each lost the committed
    // isolated record to an under-load driver/probe run overwriting
    // bench-latest.json): an unconfigured run writes a TIMESTAMPED
    // artifact that can never overwrite anything; bench-latest.json is
    // written only by the deliberate record-keeping step
    // (SPARK_GRAFT_BENCH_RECORD=1) or an explicit SPARK_GRAFT_BENCH_OUT.
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT").getOrElse {
      if (sys.env.get("SPARK_GRAFT_BENCH_RECORD").contains("1"))
        "bench-latest.json"
      else {
        val stamp = java.time.format.DateTimeFormatter
          .ofPattern("yyyyMMdd-HHmmss")
          .withZone(java.time.ZoneOffset.UTC)
          .format(java.time.Instant.now())
        s"bench-run-$stamp.json"
      }
    }
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { // the stdout record above must survive a read-only CWD
      case e: Exception =>
        System.err.println(s"warn: could not write $out: $e")
    }
    // LAST on stdout: a SHORT summary line that always fits a bounded
    // tail capture. The full per-query line above is ~8.6 KB at 264
    // queries; a consumer keeping only the last ~2 KB of the log sees
    // that line'd HEAD cut off and parses nothing (both round-12 and
    // round-13 driver comparisons came back empty for exactly this
    // reason — VERDICT r13 item 1). The short line carries the totals
    // plus the FILENAME of the artifact holding the complete per-query
    // map, so any tail window ≥ 256 bytes yields a parseable record and
    // a pointer to the rest. Deliberately NO "queries" key here: the
    // one contracted per-query map is the full line above / the
    // artifact file, and a second (empty) map could read as every query
    // having been dropped.
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""n_queries":${results.size},"cpus":$cpus,""" +
      s""""queries_artifact":"$out","sf":"$sfDir"}""")
    spark.stop()
  }
}
