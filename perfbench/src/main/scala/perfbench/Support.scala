package perfbench

import scala.collection.mutable.ArrayBuffer

/** Order statistics over timing samples. */
object Stats {

  /** Linear-interpolation quantile of `xs` at `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail: the highest sample that still has at least ten samples
    * above it. Returns (value, percentile it sits at, sample count).
    * With twenty samples or fewer that sample is at or below the
    * median, so the maximum is returned at percentile 100 and the
    * report says so.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n <= 20) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** One timed call: `parent` is the id of the enclosing span, -1 at top. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Times every call the benchmark makes into the engine, from outside.
  *
  * Each call becomes a span; spans nest through a stack, so a snapshot
  * span is the parent of the operator calls made for it. Samples are
  * grouped by span name. A call that throws counts as failed and its
  * exception is rethrown, so the unit of work it belonged to stops.
  *
  * When `onEnter` is given (the traced run) it is told the span name on
  * entry and the enclosing name on exit, which is how Spark jobs get
  * attributed to the call that submitted them.
  */
final class Recorder(onEnter: Option[String => Unit] = None) {
  val spans = ArrayBuffer.empty[Span]
  var attempted = 0L
  var failed = 0L
  private var stack = List.empty[(Int, String)]
  private var nextId = 0

  /** A call into the engine: counted as attempted, and as failed if it
    * throws.
    */
  def call[T](name: String)(body: => T): T = span(name, counted = true)(body)

  /** A span that groups calls (a trigger round, a snapshot) without
    * being a call itself.
    */
  def span[T](name: String, counted: Boolean = false)(body: => T): T = {
    if (counted) attempted += 1
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name) :: stack
    onEnter.foreach(_(name))
    val t0 = System.nanoTime()
    try body
    catch { case e: Throwable => if (counted) failed += 1; throw e }
    finally {
      spans += Span(id, name, parent, t0, System.nanoTime())
      stack = stack.tail
      onEnter.foreach(_(stack.headOption.map(_._2).orNull))
    }
  }

  /** Durations in seconds of every span called `name`, in call order. */
  def seconds(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(_.seconds).toSeq

  def total(name: String): Double = seconds(name).sum
}

/** Mismatches between the engine's outputs and the benchmark's own
  * reference computations. Any mismatch fails the run.
  */
final class Checks {
  var compared = 0L
  var mismatches = 0L
  /** The first few mismatches, for the report. */
  val examples = ArrayBuffer.empty[String]

  def expect(ok: Boolean, what: => String): Unit = {
    compared += 1
    if (!ok) {
      mismatches += 1
      if (examples.length < 20) examples += what
    }
  }
}

/** Minimal JSON writer over Scala values: Map (insertion-ordered when a
  * ListMap/LinkedHashMap is passed), Seq, String, numbers, booleans and
  * null. Non-finite doubles are written as null.
  */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    emit(v, sb)
    sb.toString
  }

  private def emit(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb ++= "null"
    case s: String => str(s, sb)
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => emit(f.toDouble, sb)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        str(k.toString, sb); sb += ':'; emit(x, sb)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      xs.foreach { x => if (!first) sb += ','; first = false; emit(x, sb) }
      sb += ']'
    case other => str(other.toString, sb)
  }

  private def str(s: String, sb: StringBuilder): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
