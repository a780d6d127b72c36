package graft.core

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Managed scratch directories for queries that persist intermediate
  * state (chunk partials, persisted indexes) as part of their contract.
  * Every directory is created under ONE per-JVM root that a shutdown
  * hook deletes recursively — repeated correctness/bench runs inside a
  * long-lived session no longer leak parquet trees under /tmp (each
  * `Files.createTempDirectory` call used to strand one per invocation).
  *
  * On a cluster these paths would be a real filesystem workDir owned by
  * the orchestrator (the reference's HDFS temp layout); the JVM-scoped
  * root is the local-mode stand-in, not a distributed-FS abstraction.
  */
object TempWork {

  /** Scratch volume selection. Everything under the root is ephemeral
    * per-JVM state (replay fixtures, staged operator state, chunk
    * partials) deleted by the shutdown hook — durability is never part
    * of the contract, so the root belongs on the FASTEST local volume,
    * not the safest. Resolution order:
    *
    *   1. `$SPARK_GRAFT_WORK_DIR` — explicit override (a cluster
    *      deployment points this at the orchestrator-owned workDir on
    *      fast local storage; a constrained-disk probe can point it
    *      back at /tmp).
    *   2. `/dev/shm` when it exists, is writable, and has ≥ 16 GiB
    *      usable — kernel tmpfs. The bench-class sandboxes charge
    *      ~20-25 ms per synced small write on /tmp (measured round 13
    *      AND round 14: 4 KiB dsync ≈ 150-270 kB/s), and scratch
    *      traffic is exactly the many-small-files pattern that tariff
    *      punishes: streaming replay stages + checkpoint logs, staged
    *      state round-trips, segment logs. None of it needs to survive
    *      the JVM, so paying a durability tax on it is pure waste.
    *   3. `java.io.tmpdir` otherwise — the pre-round-14 behavior.
    *
    * The usable-space floor keeps a small-RAM host (where tmpfs
    * capacity is RAM) off the fast path automatically; corpus-scale
    * state that outgrows ANY local volume is the size-gate's problem
    * (StateTable), not a placement concern here. */
  private def scratchBase: Path = {
    val explicit = sys.env.get("SPARK_GRAFT_WORK_DIR").map(Paths.get(_))
    explicit.getOrElse {
      val shm = Paths.get("/dev/shm")
      val floor = 16L * 1024 * 1024 * 1024
      if (Files.isDirectory(shm) && Files.isWritable(shm) &&
        shm.toFile.getUsableSpace >= floor) shm
      else Paths.get(System.getProperty("java.io.tmpdir"))
    }
  }

  private lazy val root: Path = {
    val r = Files.createTempDirectory(scratchBase, "graft-work")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(r)))
    r
  }

  private val counter = new java.util.concurrent.atomic.AtomicLong(0)

  /** A fresh scratch directory under the managed root. */
  def dir(prefix: String): String =
    Files.createDirectory(
      root.resolve(s"$prefix-${counter.getAndIncrement()}")).toString

  /** Eagerly delete a scratch tree under the managed root — for
    * operators whose intermediate state is superseded long before JVM
    * shutdown (e.g. the chunked triangle close's oriented scratch table
    * once every partial has landed: deleting it halves the operator's
    * peak disk footprint). No-op for paths outside the root, so a
    * caller can never aim this at real data. */
  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path).normalize()
    if (p.startsWith(root)) deleteTree(p)
  }

  /** Names of the root's current children — take one before running a
    * query, pass it to [[sweepCreatedSince]] after, and "this query's
    * scratch" becomes a STRUCTURAL invariant instead of a documented
    * one: anything that existed before the query is never touched, so a
    * future cross-query fixture (or a concurrent user of the same JVM)
    * cannot have its files yanked mid-read. */
  def snapshot(): Set[String] = {
    val s = Files.list(root)
    val names = scala.collection.mutable.Set.empty[String]
    try s.forEach(p => names += p.getFileName.toString) finally s.close()
    names.toSet
  }

  /** Delete only the scratch trees created since `before` (a
    * [[snapshot]]). Same no-live-reader contract as [[delete]]. */
  def sweepCreatedSince(before: Set[String]): Unit = {
    val s = Files.list(root)
    val entries = scala.collection.mutable.ListBuffer.empty[Path]
    try s.forEach(p =>
      if (!before(p.getFileName.toString)) entries += p) finally s.close()
    entries.foreach(deleteTree)
  }

  private def deleteTree(p: Path): Unit = {
    val stack = mutable.Stack(p)
    val toDelete = mutable.ListBuffer.empty[Path]
    while (stack.nonEmpty) {
      val cur = stack.pop()
      toDelete.prepend(cur)
      if (Files.isDirectory(cur)) {
        val s = Files.list(cur)
        try s.forEach(c => stack.push(c)) finally s.close()
      }
    }
    toDelete.foreach(f => try Files.deleteIfExists(f) catch {
      case _: java.io.IOException => ()
    })
  }
}
