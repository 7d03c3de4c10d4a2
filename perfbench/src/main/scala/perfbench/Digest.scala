package perfbench

import org.apache.spark.sql.Row

/** Order-insensitive result digests. Floating-point values are rounded to
  * nine significant digits first, so a last-bit difference in a
  * distributed sum does not read as a wrong answer.
  */
object Digest {

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${value(k)}=${value(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => value(a.toSeq)
    case o => o.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString

  /** md5 over the sorted canonical lines, first 12 hex digits. */
  def of(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(lines.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
  }

  def rows(rs: Seq[Row]): String = of(rs.map(value))
  def cells(rs: Seq[Seq[Any]]): String = of(rs.map(value))
}
