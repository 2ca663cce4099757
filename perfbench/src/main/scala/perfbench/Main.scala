package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** One benchmark run inside one JVM: start a session, set the workload up,
  * run its closed loop for the given seconds, check its outputs, and write
  * `result.json` for run.py, which adds the checks made outside the JVM
  * and prints the result line.
  *
  * Arguments: --workload contract|garmin_tools --seed N --seconds S
  * --trace 0|1 --input DIR --work DIR --out DIR --cores N --gen-seconds S
  * --trace-file FILE
  */
object Main {
  private final case class OpRec(op: Op, round: Int, ms: Double,
      error: Option[String], rows: Long, span: Long, counters: Probe.Counters)

  /** Per-layer metrics that only one workload produces; the other reports
    * them as 0 so that every traced run carries every name.
    */
  private val WorkloadLayerNames: Seq[String] = Seq("Caches.frames",
    "Caches.bytes", "Caches.warm_ms") ++
    Seq("activities", "splits", "hr_zones", "weather", "time_series")
      .map(s => s"sources.read_ms.$s") ++
    Seq("sources.json_bytes", "ingest.enrich_ms", "ingest.derive_ms",
      "ingest.write_ms", "ingest.bytes_written", "ingest.files_written",
      "ingest.write_amp", "ingest.stale_reads", "ingest.activities_per_s",
      "ingest.visible_ms", "ingest.setup_ms")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val out = a("out")
    Files.createDirectories(Paths.get(out))

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.build("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val requested = a("cores").toInt
    val honored = spark.sparkContext.defaultParallelism
    if (honored != requested) {
      System.err.println(s"refusing to run: requested $requested cores, " +
        s"Spark honored $honored")
      spark.stop()
      sys.exit(3)
    }
    val probe = new Probe(spark)
    val tracer = new Tracer(spark, trace)
    val wl: Workload = workloadName match {
      case "contract" => new Contract(spark, a("input"), out, seed, tracer, probe)
      case "garmin_tools" => new Garmin(spark, a("input"), a("work"), seed, tracer)
      case other => sys.error(s"unknown workload $other")
    }

    val c0 = Probe.counters()
    val setupS = tracer.span("setup")(wl.setup())
    val setupCounters = Probe.counters() - c0

    // Closed loop, one client. A traced run runs every op twice, traced and
    // untraced, alternating which goes first, so that trace.overhead_pct
    // compares the same calls at the same point of the run.
    probe.drain()
    val cpu0 = probe.all.cpuNs.get
    val recs = mutable.ArrayBuffer.empty[OpRec]
    def runOp(op: Op, r: Int): OpRec = {
      val cBefore = Probe.counters()
      var span = -1L
      val s0 = System.nanoTime()
      val res = try Right(tracer.span("op", "kind" -> op.kind, "name" -> op.name,
          "round" -> r) {
          span = if (tracer.enabled) tracer.currentId else -1L
          if (op.kind == "tool") tracer.span(s"api.${op.family}")(op.run()) else op.run()
        })
        catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val ms = (System.nanoTime() - s0) / 1e6
      OpRec(op, r, ms, res.left.toOption, res.getOrElse(0L), span,
        Probe.counters() - cBefore)
    }
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var r = 0
    // Whole rounds only, so every run does the same mix of ops; the window
    // ends with the first round that finishes after the deadline.
    while (System.nanoTime() < deadline || (trace && r < 1)) {
      wl.round(r).zipWithIndex.foreach { case (op, i) =>
        val modes = if (!trace) Seq(false) else if ((r + i) % 2 == 0) Seq(true, false)
          else Seq(false, true)
        modes.foreach { traced =>
          tracer.enabled = traced
          recs += runOp(op, r)
        }
      }
      r += 1
    }
    val windowS = (System.nanoTime() - start) / 1e9
    tracer.enabled = false
    probe.drain()
    val cpuMs = (probe.all.cpuNs.get - cpu0) / 1e6

    val c1 = System.nanoTime()
    val checks = wl.check()
    val checkS = (System.nanoTime() - c1) / 1e9
    // GC, then give Spark's ContextCleaner time to drop the blocks of the
    // objects that GC found unreachable, and GC again.
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min

    val failures = recs.flatMap(o => o.error.map(o.op.name -> _)) ++
      checks.collect { case (n, Some(e)) => n -> e }
    val attempted = recs.size + checks.size
    val okOps = recs.count(_.error.isEmpty)
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> (a("gen-seconds").toDouble + sessionS + setupS),
      "op_ms" -> Probe.geomean(recs.groupBy(_.op.family).values
        .map(rs => Probe.median(rs.map(_.ms).toSeq)).toSeq),
      "ops_per_s" -> okOps / windowS,
      "cpu_ms_per_op" -> cpuMs / math.max(1, recs.size),
      "live_heap_mb" -> heapMb,
      "ok_ratio" -> (attempted - failures.size).toDouble / math.max(1, attempted))

    val perLayer = if (!trace) mutable.LinkedHashMap.empty[String, Double] else {
      tracer.attachJobs(probe)
      val m = layerMetrics(tracer, probe, recs.toSeq, wl, setupCounters)
      WorkloadLayerNames.foreach(n => m.getOrElseUpdate(n, 0.0))
      m ++= wl.layerMetrics
      tracer.writeJsonl(Paths.get(a("trace-file")))
      m
    }

    val times = recs.map(_.ms).toSeq
    val stamp = mutable.LinkedHashMap[String, Any](
      "cores_requested" -> requested, "cores_honored" -> honored,
      "spark" -> spark.version, "jvm" -> System.getProperty("java.version"),
      "seed" -> seed, "workload" -> workloadName)
    val details = mutable.LinkedHashMap[String, Any](
      "ops" -> recs.size, "rounds" -> r, "window_s" -> windowS,
      "round_ms" -> recs.groupBy(_.round).toSeq.sortBy(_._1).map(_._2.map(_.ms).sum),
      "kind_p50_ms" -> mutable.TreeMap(recs.groupBy(_.op.family).toSeq
        .map { case (f, rs) => f -> Probe.median(rs.map(_.ms).toSeq) }: _*),
      "session_s" -> sessionS, "workload_setup_s" -> setupS,
      "tail" -> Probe.tail(times).map { case (p, v) =>
        mutable.LinkedHashMap("percentile" -> p, "ms" -> v, "samples" -> times.size) },
      "check_s" -> checkS, "setup_codegen_compiles" -> setupCounters.compiles)
    val result = mutable.LinkedHashMap[String, Any](
      "attempted" -> attempted, "failed" -> failures.size,
      "failures" -> failures.map { case (n, e) => mutable.LinkedHashMap("name" -> n, "reason" -> e) },
      "e2e" -> e2e, "per_layer" -> perLayer, "stamp" -> stamp,
      "sizes" -> wl.sizes, "details" -> details)
    Files.writeString(Paths.get(s"$out/result.json"), Json.render(result))
    spark.stop()
  }

  /** Per-layer metrics from the traced ops: each is a mean per op unless
    * its name says otherwise.
    */
  private def layerMetrics(tracer: Tracer, probe: Probe, recs: Seq[OpRec],
      wl: Workload, setup: Probe.Counters): mutable.LinkedHashMap[String, Double] = {
    val byId = tracer.spans.map(s => s.id -> s).toMap
    val kids = tracer.children
    val traced = recs.filter(o => o.span > 0 && byId.contains(o.span))
    val n = math.max(1, traced.size).toDouble
    val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    var rowsRead, rowsReturned = 0.0
    val plans = probe.plans.toArray(new Array[(Long, Double)](0))
      .map { case (ms, d) => (tracer.fromEpochMs(ms), d) }
    val apiCalls = mutable.ArrayBuffer.empty[(Double, Double, Int)]
    traced.foreach { o =>
      val s = byId(o.span)
      val sub = tracer.subtree(s, kids)
      val jobs = sub.filter(_.name == "spark.job")
      val clip = (x: Span) => (math.max(x.start, s.start), math.min(x.end, s.end))
      val jobMs = Probe.unionMs(jobs.map(clip))
      val tot = sub.filterNot(_.name == "spark.job").map(x => probe.totalsOf(x.id))
      def sum(f: TaskTotals => java.util.concurrent.atomic.AtomicLong) =
        tot.map(t => f(t).get).sum.toDouble
      acc("Q.build_ms") += sub.filter(_.name == "Q.build").map(x => x.end - x.start).sum
      acc("plan.ms") += plans.filter(p => p._1 >= s.start && p._1 <= s.end).map(_._2).sum
      acc("exec.ms") += jobMs
      acc("exec.driver_gap_ms") += (s.end - s.start) - jobMs
      acc("exec.jobs") += jobs.size
      acc("exec.stages") += jobs.map(_.attrs.getOrElse("stages", 0).asInstanceOf[Int]).sum
      acc("exec.tasks") += sum(_.tasks)
      acc("exec.task_cpu_ms") += sum(_.cpuNs) / 1e6
      acc("exec.gc_ms") += sum(_.gcMs)
      acc("exec.shuffle_write_bytes") += sum(_.shuffleWrite)
      acc("exec.shuffle_read_bytes") += sum(_.shuffleRead)
      acc("exec.spill_bytes") += sum(_.spill)
      acc("codegen.compiles") += o.counters.compiles
      acc("codegen.compile_ms") += o.counters.compileMs
      acc("scan.bytes_read") += sum(_.bytesRead)
      acc("scan.files_discovered") += o.counters.filesDiscovered
      acc("scan.partitions_fetched") += o.counters.partitionsFetched
      acc("scan.listing_jobs") += o.counters.listingJobs
      rowsRead += sum(_.rowsRead)
      rowsReturned += (if (o.rows > 0) o.rows else wl.rowsOf(o.op.name)).toDouble
      sub.foreach { x =>
        val layer = x.name match {
          case "op" => "uncovered"
          case "spark.job" => "jobs"
          case l if l.startsWith("api.") => "api"
          case l => l
        }
        acc(s"self.${layer}_ms") += tracer.selfMs(x, kids)
      }
      sub.filter(_.name.startsWith("api.")).foreach { x =>
        val spark = Probe.unionMs(tracer.subtree(x, kids).filter(_.name == "spark.job").map(clip))
        apiCalls += ((spark, (x.end - x.start) - spark,
          tracer.subtree(x, kids).count(_.name == "spark.job")))
      }
    }
    val m = mutable.LinkedHashMap.empty[String, Double]
    Seq("Q.build_ms", "plan.ms", "exec.ms", "exec.driver_gap_ms", "exec.jobs",
      "exec.stages", "exec.tasks", "exec.task_cpu_ms", "exec.gc_ms",
      "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
      "codegen.compiles", "codegen.compile_ms", "scan.bytes_read",
      "scan.files_discovered", "scan.partitions_fetched", "scan.listing_jobs",
      "self.uncovered_ms", "self.Q.build_ms", "self.exec_ms", "self.api_ms",
      "self.jobs_ms").foreach(k => m(k) = acc(k) / n)
    m("scan.rows_read_per_row_returned") = rowsRead / math.max(1.0, rowsReturned)
    m("codegen.setup_compiles") = setup.compiles.toDouble
    m("codegen.setup_compile_ms") = setup.compileMs
    Garmin.Families.foreach { f =>
      m(s"api.$f.p50_ms") = Probe.median(traced.filter(o => o.op.kind == "tool" &&
        o.op.family == f).map(_.ms))
    }
    val calls = math.max(1, apiCalls.size).toDouble
    m("api.spark_ms") = apiCalls.map(_._1).sum / calls
    m("api.driver_ms") = apiCalls.map(_._2).sum / calls
    m("api.jobs_per_call") = apiCalls.map(_._3).sum / calls
    // Overhead per op name (each traced call has an untraced twin), then the
    // median over names.
    val ratios = recs.groupBy(_.op.name).values.flatMap { rs =>
      val (t, u) = rs.partition(_.span > 0)
      if (t.isEmpty || u.isEmpty) None
      else Some(Probe.median(t.map(_.ms).toSeq) / Probe.median(u.map(_.ms).toSeq) - 1)
    }.toSeq
    m("trace.overhead_pct") = 100.0 * Probe.median(ratios)
    m("trace.ops") = traced.size.toDouble
    m
  }
}
