package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Content hash of a query result under `tools/check.py`'s
  * canonicalization: columns ordered by name, floating values rounded
  * half-even to 9 decimal places (NaN spelled "NaN"), rows sorted. Two
  * results hash equal exactly when `check.py` would call them equal
  * (up to its Python `repr` spelling, which is replaced by a fixed one).
  */
object Canon {

  def hash(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u001f"))
    java.util.Arrays.sort(lines.asInstanceOf[Array[AnyRef]])
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns(_)).mkString("\u001f").getBytes(StandardCharsets.UTF_8))
    lines.foreach { l =>
      md.update('\n'.toByte)
      md.update(l.getBytes(StandardCharsets.UTF_8))
    }
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  private def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) d.toString
    else new JBigDecimal(d).setScale(9, RoundingMode.HALF_EVEN)
      .stripTrailingZeros.toPlainString

  private def value(v: Any): String = v match {
    case null => "None"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("b'", "", "'")
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case x => x.toString
  }
}
