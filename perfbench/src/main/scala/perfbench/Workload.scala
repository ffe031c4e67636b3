package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What every workload gets: the session, the span recorder, its seed. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** The action that executes a built plan, timed as the executor layer. */
  def action[T](body: => T): T = tracer.span("exec.action")(body)

  /** Execute the full plan without collecting it (a bare `count()`
    * would let the optimizer drop sorts and projections).
    */
  def noop(df: DataFrame): Unit =
    action(df.write.mode("overwrite").format("noop").save())

  def collect(df: DataFrame): Array[Row] = action(df.collect())
}

/** One closed-loop request. `run` is the timed part; `check` runs right
  * after it, untimed, and returns an error when the output is wrong.
  */
final case class Op(name: String, kind: String, run: () => Unit,
                    check: () => Option[String] = () => None)

/** A finished op: wall time, and whether it failed or gave wrong output. */
final case class OpRecord(index: Int, name: String, kind: String,
                          wallNs: Long, ok: Boolean, error: Option[String])

trait Workload {

  /** Build the inputs under `dir` (a fresh directory each call); the
    * last call's inputs are the ones the ops then use.
    */
  def setup(dir: String): Unit

  /** Name of the i-th request: a pure function of i. */
  def opName(i: Int): String

  /** The i-th request of the loop (its arguments depend on the seed, i
    * and the state earlier requests left).
    */
  def op(i: Int): Op

  /** Length of the request schedule: opName(i + period) == opName(i).
    * Runs measure whole periods, so every run does the same mix.
    */
  def period: Int = 1

  /** Output checks after the loop; each entry is one failure. */
  def finish(): Seq[String]

  /** Workload-specific end-to-end figures (reported beside the metrics). */
  def detail(ops: Seq[OpRecord]): Seq[(String, Double)]

  /** Workload-specific per-layer figures for the traced phase. */
  def layers(l: Layers): Seq[(String, Double)]
}

/** The traced phase's spans and Spark counters, with helpers to read a
  * layer out of them.
  */
final class Layers(val spans: Seq[Span], val meter: Meter, val nOps: Int) {
  private val byName = spans.groupBy(_.name)
  private val children = spans.groupBy(_.parent)

  def calls(name: String): Seq[Span] = byName.getOrElse(name, Nil)

  /** Mean seconds per call of spans named `name` (0 when never called). */
  def meanS(name: String): Double = {
    val c = calls(name)
    if (c.isEmpty) 0.0 else c.map(_.dur).sum / 1e9 / c.size
  }

  /** Mean seconds per op spent in spans named `name`. */
  def perOpS(name: String): Double = calls(name).map(_.dur).sum / 1e9 / nOps

  /** A span and all spans under it. */
  def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  /** Spark counters of the spans named `name` and their descendants. */
  def counter(name: String)(f: Meter#Acc => Long): Long =
    calls(name).flatMap(subtree).map(s => f(meter.acc(s.id))).sum
}

object Checksum {
  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
    case f: Float => f"${f.toDouble}%.6g"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case x => x.toString
  }

  /** Order-insensitive checksum of a result: (rows, wrapping sum of a
    * 64-bit hash per row). Doubles are compared at nine significant
    * digits, below which summation order inside an aggregate varies.
    */
  def of(rows: Array[Row]): (Long, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val sum = rows.iterator.map { r =>
      val h = md.digest(render(r).getBytes("UTF-8"))
      java.nio.ByteBuffer.wrap(h).getLong
    }.foldLeft(0L)(_ + _)
    (rows.length.toLong, sum)
  }
}
