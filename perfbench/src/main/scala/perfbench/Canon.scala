package perfbench

import org.apache.spark.sql.Row

/** The canonical digest of a query result, by the rule of the repository's
  * DuckDB cross-check: columns sorted by name, every value rendered as a
  * string (floats as Python `%.6g`, null and NaN as `NULL`, booleans as
  * `True`/`False`), rows sorted, SHA-256 of the rows joined by newlines,
  * first 16 hex digits.
  */
object Canon {

  /** Python's `format(x, ".6g")`. */
  def g6(x: Double): String = {
    if (x.isNaN) return "nan"
    if (x.isInfinite) return if (x > 0) "inf" else "-inf"
    if (x == 0.0) return if (1.0 / x < 0) "-0" else "0"
    val bd = new java.math.BigDecimal(x).round(new java.math.MathContext(6, java.math.RoundingMode.HALF_EVEN))
    val exp = bd.precision() - bd.scale() - 1
    if (exp < -4 || exp >= 6) {
      val digits = bd.unscaledValue.abs.toString.reverse.dropWhile(_ == '0').reverse
      val mant = if (digits.length > 1) s"${digits.head}.${digits.tail}" else digits
      val sign = if (x < 0) "-" else ""
      f"$sign${mant}e${if (exp < 0) "-" else "+"}${math.abs(exp)}%02d"
    } else bd.stripTrailingZeros.toPlainString
  }

  def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d.isNaN) "NULL" else g6(d)
    case f: Float => if (f.isNaN) "NULL" else g6(f.toDouble)
    case b: Boolean => if (b) "True" else "False"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case t: java.sql.Timestamp =>
      val ldt = t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      val base = ldt.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      if (ldt.getNano == 0) base else f"$base.${ldt.getNano / 1000}%06d"
    case other => other.toString
  }

  def digestRows(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(lines.mkString("\n").getBytes("UTF-8")).take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
