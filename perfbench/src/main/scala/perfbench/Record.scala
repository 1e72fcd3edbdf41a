package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Small helpers shared by the workloads: sample statistics, the
  * run record (a JSON object the launcher reads back), and the trace
  * spans a traced run writes at exit. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The tail: the highest percentile with at least ten samples beyond
    * it. Returns (value, percentile, sample count). Below 21 samples that
    * percentile would fall under the median, so the maximum stands in
    * (reported as the 100th percentile). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n < 21) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** Writes run records and spans as JSON, with the Jackson the engine's
  * JSON-logs source already uses. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: String, v: Any): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, mapper.writeValueAsString(v))
  }
}

/** Spans of a traced run, kept in memory and written once
  * at exit. Times are epoch milliseconds so they line up with Spark's
  * job and task events. */
final class Trace {
  import Trace.Span

  val spans = mutable.ArrayBuffer.empty[Span]

  def open(parent: Int, name: String, layer: String): Span = synchronized {
    val s = Span(spans.size + 1, parent, name, layer, System.currentTimeMillis(), 0L,
      mutable.LinkedHashMap.empty)
    spans += s
    s
  }

  /** A span whose bounds are already known (a Spark job's start/end). */
  def add(parent: Int, name: String, layer: String, start: Long, end: Long,
          attrs: (String, Any)*): Unit = synchronized {
    spans += Span(spans.size + 1, parent, name, layer, start, end,
      mutable.LinkedHashMap(attrs: _*))
  }

  def close(s: Span): Unit = s.end = System.currentTimeMillis()

  def json: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
    "start_ms" -> s.start, "dur_ms" -> (s.end - s.start), "attrs" -> s.attrs))
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, layer: String,
                        start: Long, var end: Long, attrs: mutable.Map[String, Any])
}
