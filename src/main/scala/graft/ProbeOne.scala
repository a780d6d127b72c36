package graft

/** One-query scale prober: runMain graft.ProbeOne <queryName> <sfDir>
  * [explain] — times a single registry query in a fresh JVM (the
  * adjudication tool for Bench-run outliers, per the noise protocol). */
object ProbeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = args(1)
    val spark = GraftSession.fromEnv()
    val q = graft.queries.Registry.byName(name)
    if (args.contains("explain")) q.run(spark, dir).explain("formatted")
    // warmup absorbs JVM/codegen/footer-cache startup (~15 s) so the
    // timed run measures plan execution, like Bench's warmup does.
    // SPARK_GRAFT_NOWARMUP=1 skips it — the LEDGER mode: a registry-wide
    // pass/fail sweep wants one execution per query (the number is then
    // coarse, plan+startup, NOT the adjudication protocol)
    if (!sys.env.get("SPARK_GRAFT_NOWARMUP").contains("1")) {
      q.run(spark, dir).write.format("noop").mode("overwrite").save()
      // drop the warmup run's pinned blocks, like Bench does between
      // queries: for pin-heavy queries at large SF the leftovers occupy
      // the PROTECTED storage region and starve the timed run's execution
      // pool (q230 at 100×: shuffle writers died at "got 0" with the
      // warmup's ~2 GiB of pins resident)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    val t0 = System.nanoTime()
    q.run(spark, dir).write.format("noop").mode("overwrite").save()
    println(s"$name $dir: ${(System.nanoTime() - t0) / 1e9} s")
    spark.stop()
  }
}
