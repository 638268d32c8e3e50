package graft.bench

import scala.collection.mutable

/** In-memory span and counter recorder for the traced run.
  *
  * A span is (id, parent, name, start, end, attrs) on the JVM's monotonic
  * clock. Spans are only kept while `on`; an untraced pass pays one boolean
  * test per call site. Everything is written once, at the end of the run.
  */
final class Trace(@volatile var on: Boolean) {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  /** Record a finished span; returns its id (0 when tracing is off). */
  def add(name: String, parent: Int, startNs: Long, endNs: Long,
          attrs: Map[String, String] = Map.empty): Int =
    if (!on) 0 else synchronized {
      val id = nextId; nextId += 1
      spans += Span(id, parent, name, startNs, endNs, attrs)
      id
    }

  /** Time `f` as a span named `name` under `parent`. */
  def span[T](name: String, parent: Int, attrs: Map[String, String] = Map.empty)
             (f: Int => T): T = {
    if (!on) return f(0)
    val id = synchronized { val i = nextId; nextId += 1; i }
    val t0 = System.nanoTime()
    try f(id)
    finally synchronized {
      spans += Span(id, parent, name, t0, System.nanoTime(), attrs)
    }
  }

  /** Re-parent spans after the fact (sink calls learn their trigger span
    * only once the trigger's progress event arrives). */
  def reparent(pick: Span => Option[Int]): Unit = synchronized {
    for (i <- spans.indices) pick(spans(i)).foreach { p =>
      spans(i) = spans(i).copy(parent = p)
    }
  }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Record a span under the shortest recorded span that `parentOk` accepts
    * and that contains [startNs, endNs] within `slopNs`. */
  def addInside(name: String, startNs: Long, endNs: Long, attrs: Map[String, String],
                slopNs: Long)(parentOk: Span => Boolean): Int = {
    val parent = all.filter(p => parentOk(p) && p.startNs - slopNs <= startNs &&
      endNs <= p.endNs + slopNs).minByOption(p => p.endNs - p.startNs)
    add(name, parent.fold(0)(_.id), startNs, endNs, attrs)
  }

  /** Self time per span name, in ms: each span's duration minus the part
    * of its interval that its children cover (children clipped to the
    * parent, overlapping children counted once). */
  def selfMs: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    ss.foreach { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue; var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      out(s.name) += math.max(0L, s.endNs - s.startNs - covered) / 1e6
    }
    out.toMap
  }

  def toJson(originNs: Long): String = all.map { s =>
    val a = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}")
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_ms":${Json.num((s.startNs - originNs) / 1e6)},""" +
      s""""end_ms":${Json.num((s.endNs - originNs) / 1e6)},"attrs":$a}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                        endNs: Long, attrs: Map[String, String])
}

/** Minimal JSON text helpers (the benchmark writes flat objects only). */
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
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
