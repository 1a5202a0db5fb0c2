package graftbench

import scala.collection.mutable

/** Everything one run measured and checked, and its JSON output.
  *
  * Two stdout lines: a detail line (every metric with its sample count,
  * plus failures and run facts), then the result line a benchmark runner reads.
  * Numbers are written with `Double.toString`, which ignores the default
  * locale, so a comma-decimal locale cannot break the JSON.
  */
final class Report {
  import Report.Metric

  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  val facts = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String, samples: Long): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    metrics(name) = Metric(value, unit, samples)
  }

  /** One checked operation: `ok == false` counts it as failed. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) fail(what)
  }

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += what
    System.err.println(s"[perfbench] FAILED: $what")
  }

  def rename(from: String, to: String): Unit = metrics.remove(from).foreach(metrics(to) = _)

  /** Move the named metrics into a fact (the traced panel keeps each
    * part's end-to-end figures beside its per-layer ones).
    */
  def stash(fact: String, names: Seq[String]): Unit = {
    facts(fact) = names.flatMap(n => metrics.remove(n).map(m => n -> m.value)).toMap
  }

  def detailLine: String = {
    val ms = metrics.map { case (k, m) =>
      s"${Report.q(k)}:{${Report.q("value")}:${Report.num(m.value)}," +
        s"${Report.q("unit")}:${Report.q(m.unit)},${Report.q("samples")}:${m.samples}}"
    }.mkString("{", ",", "}")
    val fs = facts.map { case (k, v) => s"${Report.q(k)}:${Report.any(v)}" }
    val body = (fs.toSeq ++ Seq(s"${Report.q("metrics")}:$ms",
      s"${Report.q("failures")}:${failures.map(Report.q).mkString("[", ",", "]")}"))
    s"""{"detail":${body.mkString("{", ",", "}")}}"""
  }

  def resultLine(names: Seq[String]): String = {
    val ms = names.map { n =>
      val m = metrics(n)
      s"${Report.q(n)}:{${Report.q("value")}:${Report.num(m.value)},${Report.q("unit")}:${Report.q(m.unit)}}"
    }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0},"attempted":${math.max(1L, attempted)},"failed":$failed,"metrics":$ms}"""
  }
}

object Report {
  final case class Metric(value: Double, unit: String, samples: Long)

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt)
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def any(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: Seq[_] => s.map(any).mkString("[", ",", "]")
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${q(k.toString)}:${any(x)}" }.mkString("{", ",", "}")
    case other => q(String.valueOf(other))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
