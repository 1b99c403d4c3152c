package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive result hash, computed the same way by `oracle.py` on
  * DuckDB results: columns sorted by name, each value rendered
  * canonically (floating point rounded to 9 significant digits, half-even
  * on the exact binary value, so summation order cannot change it), rows
  * sorted, SHA-256 over the joined text. */
object Canon {
  private val Digits = new MathContext(9, RoundingMode.HALF_EVEN)

  def value(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: JBigDecimal => dec(b)
    case b: scala.math.BigDecimal => dec(b.bigDecimal)
    case b: java.lang.Boolean => if (b) "true" else "false"
    case t: java.sql.Timestamp => t.toLocalDateTime.toString
    case t: java.time.LocalDateTime => t.toString
    case t: java.time.Instant =>
      java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).toString
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else dec(new JBigDecimal(d))

  private def dec(b: JBigDecimal): String =
    if (b.signum == 0) "0"
    else {
      val r = b.round(Digits).stripTrailingZeros
      s"${r.unscaledValue}e${-r.scale}"
    }

  def hash(columns: Seq[String], rows: Iterable[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u001f"))
      .toArray.sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l =>
      md.update(l.getBytes(StandardCharsets.UTF_8))
      md.update('\u001e'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
