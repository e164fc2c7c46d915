package perfbench

import scala.collection.mutable

/** Named results of one run: gated end-to-end metrics, per-layer metrics,
  * correctness counts and spans, written out as one JSON document.
  */
final class Out {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  private val spans = mutable.ArrayBuffer.empty[Out.Span]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)

  /** One checked operation; `ok = false` or a thrown check is a failure. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    try { if (!ok) failures += what }
    catch { case t: Throwable => failures += s"$what: ${t.getClass.getSimpleName}: ${t.getMessage}" }
  }

  /** A span from the benchmark's own code around a call into one layer;
    * returns the span id for children.
    */
  def span(name: String, parent: Int, start: Long, end: Long): Int = synchronized {
    spans += Out.Span(spans.size + 1, parent, name, start, end); spans.size
  }

  def spanned[A](name: String, parent: Int)(f: Int => A): A = {
    val t0 = System.nanoTime()
    val id = span(name, parent, t0, -1)
    try f(id) finally {
      val end = System.nanoTime()
      synchronized { spans(id - 1) = spans(id - 1).copy(end = end) }
      System.err.println(f"[perfbench] $name: ${(end - t0) / 1e9}%.3f s")
    }
  }

  def spansJsonl: String = synchronized(spans.map(s =>
    Out.json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end))).mkString("\n"))

  def json: String = Out.json(Map(
    "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "layers" -> layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "attempted" -> attempted, "failed" -> failures.size.toLong,
    "failures" -> failures.toSeq, "notes" -> notes))
}

object Out {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}
