package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed interval: an op, a call into a layer, or a Spark job. Times
  * are milliseconds from the tracer's start.
  */
final case class Span(id: Long, parent: Long, name: String, start: Double,
    var end: Double, attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty)

/** Spans kept in memory and written once, at the end of the run.
  *
  * The tree is workload → op → layer call → Spark job. While a span is
  * open its id is the `perfbench.span` local property of the client
  * thread, so [[Probe]] can hang the Spark jobs it starts under it. With
  * tracing off, [[span]] only runs its body.
  */
final class Tracer(spark: SparkSession, var enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()
  private var nextId = 1L
  private val stack = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer.empty[Span]

  def nowMs: Double = (System.nanoTime() - baseNs) / 1e6
  def fromEpochMs(ms: Long): Double = (ms - baseEpochMs).toDouble

  def span[A](name: String, attrs: (String, Any)*)(f: => A): A =
    if (!enabled) f else {
      val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0L), name,
        nowMs, -1.0, mutable.LinkedHashMap(attrs: _*))
      nextId += 1
      spans += s
      stack.push(s)
      spark.sparkContext.setLocalProperty(Probe.SpanKey, s.id.toString)
      try f finally {
        s.end = nowMs
        stack.pop()
        spark.sparkContext.setLocalProperty(Probe.SpanKey,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Id of the innermost open span, 0 when none is open. */
  def currentId: Long = stack.headOption.map(_.id).getOrElse(0L)

  /** Add the finished Spark jobs the probe linked to spans as child spans. */
  def attachJobs(probe: Probe): Unit = {
    probe.drain()
    val known = spans.map(_.id).toSet
    probe.jobs.values.forEach { j =>
      if (known(j.span) && j.endMs >= 0) {
        spans += Span(nextId, j.span, "spark.job", fromEpochMs(j.startMs),
          fromEpochMs(j.endMs), mutable.LinkedHashMap("job_id" -> j.id,
            "stages" -> j.stages))
        nextId += 1
      }
    }
  }

  def children: Map[Long, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Duration of `s` not covered by any of its children. */
  def selfMs(s: Span, kids: Map[Long, Seq[Span]]): Double =
    (s.end - s.start) - Probe.unionMs(kids.getOrElse(s.id, Nil)
      .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter(iv => iv._2 > iv._1))

  /** Spans under `root` (inclusive), depth first. */
  def subtree(root: Span, kids: Map[Long, Seq[Span]]): Seq[Span] =
    root +: kids.getOrElse(root.id, Nil).flatMap(subtree(_, kids))

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.start).map { s =>
      Json.render(mutable.LinkedHashMap[String, Any]("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.start,
        "end_ms" -> s.end) ++ s.attrs)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
