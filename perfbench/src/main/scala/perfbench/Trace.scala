package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed region. `parent` is -1 for an op's root span; every span
  * carries the id of the op it belongs to. Times are `System.nanoTime`.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

object Span {

  /** Self time of every span: its duration minus the part of it that
    * its child spans cover (children are clipped to the parent and
    * overlapping children are counted once). Summed over one op's
    * spans this gives the op's wall time exactly.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.dur - covered)
    }.toMap
  }

  def toJson(s: Span, self: Long): String =
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""op":${s.op},"start_ns":${s.start},"end_ns":${s.end},""" +
      s""""self_ns":$self}"""
}

/** In-memory span recorder. When disabled every call runs its body and
  * records nothing; spans are written out once, at exit.
  */
final class Tracer {
  var enabled = false
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0
  private var opId = -1
  /** Called with the innermost open span id (or -1) on every change, so
    * Spark jobs can be tagged with the span that launched them.
    */
  var onEnter: Int => Unit = _ => ()

  def spans: Seq[Span] = done.toSeq

  /** An op is a root span; `op` ids number the closed-loop requests. */
  def op[T](id: Int, name: String)(body: => T): T = {
    opId = id
    span(name)(body)
  }

  /** Runs `body` with recording off (output checks between traced ops). */
  def paused[T](body: => T): T = {
    val was = enabled
    enabled = false
    try body finally enabled = was
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, System.nanoTime()) :: stack
      onEnter(id)
      try body
      finally {
        val (_, _, t0) = stack.head
        stack = stack.tail
        done += Span(id, name, parent, opId, t0, System.nanoTime())
        onEnter(stack.headOption.map(_._1).getOrElse(-1))
      }
    }
}

/** The few JSON pieces the benchmark prints; no JSON library needed. */
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

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
