package perfbench

import java.util.Locale

/** Locale-independent output. JSON numbers use `Double.toString` (always a
  * '.' decimal point, all significant digits); the human-readable table uses
  * `String.format(Locale.ROOT, ...)`, so a comma-decimal default locale can
  * change neither. */
object Out {
  final case class Metric(name: String, value: Double, unit: String)

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    java.lang.Double.toString(v)
  }

  def fixed(v: Double, digits: Int): String =
    String.format(Locale.ROOT, s"%.${digits}f", Double.box(v))

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'           => b ++= "\\\""
      case '\\'          => b ++= "\\\\"
      case c if c < ' '  => b ++= String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
      case c             => b += c
    }
    (b += '"').toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  /** The result line: exactly `correct`, `attempted`, `failed`, `metrics`. */
  def resultLine(attempted: Int, failed: Int, metrics: Seq[Metric]): String =
    obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.map(m =>
        m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))))))

  /** One `name value unit` line per metric, for people. */
  def table(metrics: Seq[Metric]): Seq[String] = {
    val w = (metrics.map(_.name.length) :+ 1).max
    metrics.map(m => String.format(Locale.ROOT, s"%-${w}s %16s %s", m.name, fixed(m.value, 3), m.unit))
  }
}
