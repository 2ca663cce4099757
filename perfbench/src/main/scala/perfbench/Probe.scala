package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side counters of one op (or of everything, for the untraced
  * totals). Filled from task-end events.
  */
final class TaskTotals {
  val cpuNs, gcMs, tasks, shuffleWrite, shuffleRead, spill, bytesRead,
    rowsRead, rowsWritten = new AtomicLong

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks.incrementAndGet()
    cpuNs.addAndGet(m.executorCpuTime)
    gcMs.addAndGet(m.jvmGCTime)
    shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    spill.addAndGet(m.diskBytesSpilled)
    bytesRead.addAndGet(m.inputMetrics.bytesRead)
    rowsRead.addAndGet(m.inputMetrics.recordsRead)
    rowsWritten.addAndGet(m.outputMetrics.recordsWritten)
  }
}

/** A Spark job as the listener saw it: which span started it and when. */
final case class JobRec(id: Int, span: Long, startMs: Long, var endMs: Long,
    var stages: Int)

/** The measuring side of the benchmark, registered on the session from
  * outside the program: a SparkListener (jobs, stages, task metrics), a
  * QueryExecutionListener (planning phase times) and the static
  * CodegenMetrics / HiveCatalogMetrics counters.
  *
  * Jobs and stages are linked to the benchmark span that caused them
  * through the `perfbench.span` local property, which [[Tracer]] sets on
  * the one client thread; Spark copies local properties to the broadcast
  * and subquery threads it starts on that thread's behalf.
  */
final class Probe(spark: SparkSession) {
  val all = new TaskTotals
  private val perSpan = new ConcurrentHashMap[Long, TaskTotals]
  private val stageSpan = new ConcurrentHashMap[Int, Long]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  val jobs = new ConcurrentHashMap[Int, JobRec]
  /** (epoch ms when optimization began, optimization + planning ms). */
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Probe.SpanKey)))
      .map(_.toLong).getOrElse(-1L)

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = spanOf(e.properties)
      if (span >= 0) {
        jobs.put(e.jobId, JobRec(e.jobId, span, e.time, -1L, 0))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val span = spanOf(e.properties)
      if (span >= 0) {
        stageSpan.put(e.stageInfo.stageId, span)
        Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
          .foreach(j => j.stages += 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        all.add(m)
        Option(stageSpan.get(e.stageId)).foreach { s =>
          perSpan.computeIfAbsent(s, _ => new TaskTotals).add(m)
        }
      }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      val spans = Seq("optimization", "planning").flatMap(ph.get)
      if (spans.nonEmpty)
        plans.add((spans.map(_.startTimeMs).min,
          spans.map(s => (s.endTimeMs - s.startTimeMs).toDouble).sum))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)

  def totalsOf(span: Long): TaskTotals =
    Option(perSpan.get(span)).getOrElse(new TaskTotals)
}

object Probe {
  val SpanKey = "perfbench.span"

  /** Process-wide codegen and file-listing counters, read at op
    * boundaries (the client is single-threaded, so deltas are per op).
    */
  final case class Counters(compiles: Long, compileMeanMs: Double,
      filesDiscovered: Long, partitionsFetched: Long, listingJobs: Long) {
    def -(o: Counters): Counters = Counters(compiles - o.compiles,
      compileMeanMs, filesDiscovered - o.filesDiscovered,
      partitionsFetched - o.partitionsFetched, listingJobs - o.listingJobs)
    /** Compile time: count × the histogram's mean (the histogram keeps a
      * sample reservoir, not a sum).
      */
    def compileMs: Double = compiles * compileMeanMs
  }

  def counters(): Counters = Counters(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean,
    HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
    HiveCatalogMetrics.METRIC_PARTITIONS_FETCHED.getCount,
    HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount)

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Iterable[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else if (e > curE) curE = e
    }
    if (open) total += curE - curS
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Highest percentile p (in whole percent) with at least ten samples
    * above it, and its value; None below 20 samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 20) None else {
      val s = xs.sorted
      val p = math.floor(100.0 * (s.size - 10) / s.size).toInt
      Some(p -> s(math.min(s.size - 1, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
}
