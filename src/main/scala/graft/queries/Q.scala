package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query in the engine's verified surface.
  *
  * @param name   stable id, keys into `SparkEntry.queries`
  * @param run    (session, sfDir) => result DataFrame
  * @param oracle equivalent DuckDB SQL over the same parquet tables; None for
  *               ops not expressible in portable SQL (driver then records a
  *               weaker rows-only check)
  * @param verifyOnly this query is a declared VERIFICATION form — a
  *               deliberately unbounded/quadratic formulation that exists
  *               to differentially gate a production operator (e.g. q125's
  *               threshold-0 DIMSUM = exact pair closure). It stays in the
  *               driver's correctness surface (Verify dumps it, the oracle
  *               gates it) but Bench's headline set skips it: its cost is
  *               the oracle's, not the engine's, and it times out at the
  *               100× tier BY CONSTRUCTION. Bench still runs it when named
  *               explicitly (probe use).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    verifyOnly: Boolean = false)

object Q {
  /** Cross-engine-deterministic money arithmetic.
    *
    * Summing raw doubles is not reproducible across engines (parallel
    * summation order differs, and rounding after the sum still flips at cent
    * boundaries). Instead every money expression is snapped to integer
    * "cents" per-row — `cast(round(x * 10^scale) as bigint)` — summed
    * exactly as longs, and divided back. Per-row double products are
    * IEEE-deterministic, so Spark and DuckDB agree bit-for-bit. `round`
    * before `cast` also papers over the engines' different double→int cast
    * semantics (Spark truncates, DuckDB rounds).
    */
  def sqlCents(expr: String, name: String, scale: Int = 2): String = {
    val f = math.pow(10, scale).toLong
    s"sum(cast(round(($expr) * $f) as bigint)) / $f.0 AS $name"
  }
}
