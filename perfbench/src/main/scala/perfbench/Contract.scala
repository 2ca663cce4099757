package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The query contract: registered `SparkEntry` queries over the project's
  * fixed sf0.1 test tables, timed with the same action graft.Bench uses (a
  * `noop` write of the whole result). The seed drives only the query order.
  *
  * A run holds a fixed subset of the registry, one query from each of seven
  * operator modules, because warming all 165 queries takes minutes on a
  * 4-core machine and a run has under one. The subset includes queries
  * that build `Caches` frames, so the registry is measured too.
  */
final class Contract(spark: SparkSession, dir: String, out: String, seed: Long,
    tracer: Tracer, probe: Probe) extends Workload {

  val queries: Seq[graft.Q] = Contract.Names.map { n =>
    graft.SparkEntry.all.find(_.name == n)
      .getOrElse(sys.error(s"query $n is not registered"))
  }
  private val rows = mutable.Map.empty[String, Long]
  private var warmMs = 0.0

  private def runQuery(q: graft.Q): Long = {
    val df = tracer.span("Q.build")(q.fn(spark, dir))
    tracer.span("exec")(df.write.mode("overwrite").format("noop").save())
    0L
  }

  /** Run every query once, materialize the shared frames (the `Caches`
    * barrier graft.Bench uses), then run every query again: the first
    * measured round after a single pass still ran 25-40 % slower.
    */
  def setup(): Double = {
    val t0 = System.nanoTime()
    def pass(): Unit =
      queries.foreach(q => tracer.span("warm", "query" -> q.name)(runQuery(q)))
    pass()
    warmMs = tracer.span("Caches.warm")(graft.Caches.warm()).map(_._2).sum * 1000
    pass()
    (System.nanoTime() - t0) / 1e9
  }

  def round(r: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + r).shuffle(queries)
      .map(q => Op("query", q.name, q.name, () => runQuery(q)))

  /** Dump each query's result for the DuckDB comparison done by run.py,
    * next to the oracle SQL it is compared with.
    */
  def check(): Seq[(String, Option[String])] = {
    val oracle = graft.SparkEntry.oracleSql
    val sql = mutable.LinkedHashMap.empty[String, Any]
    val res = queries.map { q =>
      q.name -> (try {
        probe.drain()
        val before = probe.all.rowsWritten.get
        q.fn(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/results/${q.name}")
        probe.drain()
        rows(q.name) = probe.all.rowsWritten.get - before
        oracle.get(q.name) match {
          case Some(s) => sql(q.name) = s; None
          case None => Some("no oracle SQL registered")
        }
      } catch { case e: Exception => Some(s"failed: ${e.getMessage}") })
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.render(sql))
    res
  }

  override def rowsOf(opName: String): Long = rows.getOrElse(opName, 0L)

  def sizes: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap(
    "queries" -> queries.size, "registered_queries" -> graft.SparkEntry.all.size)

  def layerMetrics: mutable.LinkedHashMap[String, Double] = {
    val frames = graft.Caches.bytes()
    mutable.LinkedHashMap("Caches.frames" -> frames.size.toDouble,
      "Caches.bytes" -> frames.map(_._2).sum.toDouble, "Caches.warm_ms" -> warmMs)
  }
}

object Contract {
  /** Fixed so that every commit measures the same queries. */
  val Names: Seq[String] = Seq("q_pricing_summary", "q_rolling_actives",
    "q_left_join_having", "q_trimmed_mean", "q_heat_model", "q_bm25_rank",
    "q_ann_recall")
}
