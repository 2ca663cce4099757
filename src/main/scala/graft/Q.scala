package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered operator query: a Spark program plus (when the semantics
  * are ANSI-SQL-expressible) an equivalent DuckDB oracle SQL over the same
  * parquet tables. The driver hash-compares the two at sf0.01
  * (CORRECTNESS_r{N}.json); queries without an oracle get a rows-only check.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  /** Prepared-statement reuse (r16, guide §1.2 "per-task work" applied to
    * the DRIVER): a query's ANALYZED PLAN for a given (session, dir,
    * content fingerprint) is a deterministic value, but re-building it per
    * execution re-runs constructor Scala + full Catalyst ANALYSIS —
    * measured 9.2 s across one pass of the 165-query suite (ANN/minhash
    * family worst at 0.1-0.34 s each), paid again by every bench pass.
    * Only the analyzed LogicalPlan is memoized; every call wraps it in a
    * fresh Dataset (fresh QueryExecution), so optimization, physical
    * planning, AQE and the full execution from parquet re-run per
    * invocation under the caller's current conf. Analysis-time conf is
    * baked into the memoized plan, though (e.g. the session time zone
    * stamped into time expressions), so a mid-session change to it is not
    * seen by an already-memoized query. Memoizing the Dataset
    * itself froze executedPlan at first forcing and made plan audits
    * order/conf-dependent (r16 ADVICE, fixed r17). No data, plan
    * statistics or results are reused; rewritten inputs re-analyze via
    * the fingerprint key (same staleness contract as [[Caches]]); the key
    * uses sessionUUID (unique per session — identityHashCode could collide
    * after GC and serve a frame bound to a stopped context).
    */
  private def memoized(name: String,
      fn: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, d) => org.apache.spark.sql.GraftBridge.ofRows(s, Caches.preparedPlan(
      s"q:$name:${org.apache.spark.sql.GraftBridge.sessionUUID(s)}:$d:${Caches.fingerprintCached(s, d)}")(
      fn(s, d)))

  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, memoized(name, fn), Some(oracle))

  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, memoized(name, fn), None)
}
