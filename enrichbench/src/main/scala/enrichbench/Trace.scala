package enrichbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Times are microseconds on the
  * benchmark clock ([[Trace.nowUs]]), which is comparable with the
  * millisecond wall-clock times Spark puts on its listener events. */
final case class Span(name: String, startUs: Long, endUs: Long,
                      parent: Option[String], runId: String) {
  def durUs: Long = endUs - startUs
}

/** In-memory span buffer for one traced run; written out once at the end
  * of the run, never on the hot path. */
final class Trace(val runId: String) {
  private val buf = new ConcurrentLinkedQueue[Span]()

  def add(s: Span): Unit = buf.add(s)

  def spans: Seq[Span] = buf.asScala.toSeq.sortBy(_.startUs)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      s"""{"name":${Json.str(s.name)},"start_us":${s.startUs},""" +
        s""""end_us":${s.endUs},"parent":${s.parent.map(Json.str)
          .getOrElse("null")},"run_id":${Json.str(s.runId)}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  private val baseNano = System.nanoTime()

  /** Monotonic microseconds anchored at the wall clock once per JVM. */
  def nowUs(): Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L

  /** Total length of the union of `[start, end)` intervals. */
  def unionUs(intervals: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals.filter(i => i._2 > i._1).toSeq.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Part of `[s, e)` covered by the union of `intervals`. */
  def coveredUs(s: Long, e: Long, intervals: Iterable[(Long, Long)]): Long =
    unionUs(intervals.map { case (a, b) => (math.max(a, s), math.min(b, e)) })

  /** A span's self time: its duration minus the part of its interval that
    * the union of its children covers (overlapping children count once,
    * and children reaching outside the span count only inside it). */
  def selfUs(span: Span, children: Iterable[Span]): Long =
    span.durUs - coveredUs(span.startUs, span.endUs,
      children.map(c => (c.startUs, c.endUs)))
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
