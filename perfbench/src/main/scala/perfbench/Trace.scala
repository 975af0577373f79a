package perfbench

import scala.collection.mutable

/** One traced interval, in epoch milliseconds. `layer` names the module
  * whose call the span wraps; `parent` is the id of the span that caused it
  * (-1 for a root). Spans of one query share `query`.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    query: String, start: Double, end: Double) {
  def durMs: Double = end - start
}

/** In-memory span store. Nothing is written until [[Trace.json]] is asked
  * for at the end of the run.
  */
final class Trace {
  private val spans = mutable.ArrayBuffer.empty[Span]

  def add(parent: Int, name: String, layer: String, query: String,
      start: Double, end: Double): Int = synchronized {
    val id = spans.size
    spans += Span(id, parent, name, layer, query, start, end)
    id
  }

  def setEnd(id: Int, end: Double): Unit = synchronized {
    spans(id) = spans(id).copy(end = end)
  }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover (children may overlap each other, e.g.
    * concurrent stages of one job).
    */
  def selfMs: Map[Int, Double] = {
    val s = all
    val kids = s.filter(_.parent >= 0).groupBy(_.parent)
    s.map { sp =>
      val covered = Trace.union(kids.getOrElse(sp.id, Nil).map { c =>
        (math.max(c.start, sp.start), math.min(c.end, sp.end))
      })
      sp.id -> math.max(0.0, sp.durMs - covered)
    }.toMap
  }

  /** Self time summed per layer, in seconds. */
  def selfSecondsByLayer: Map[String, Double] = {
    val self = selfMs
    all.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(sp => self(sp.id)).sum / 1e3
    }
  }

  def json: String = all.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}",""" +
      f""""layer":"${s.layer}","query":"${Json.esc(s.query)}",""" +
      f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Trace {
  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Wall clock in epoch milliseconds with nanosecond resolution, so the
  * benchmark's own spans line up with the listener's epoch timestamps.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).bigDecimal.toPlainString
}
