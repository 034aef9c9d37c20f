package graft.perfbench

import org.apache.spark.sql.Row

/** Engine-neutral JSON form of a result row, so the Python side can hash
  * Spark's output and DuckDB's reference the same way. Every number
  * becomes "n:" plus its exact decimal expansion with trailing zeros
  * stripped, so 5, 5.0 and DECIMAL 5.00 agree and 0.1 (double) and
  * DECIMAL 0.1 do not, which is how tools/check.py compares values.
  * Strings are tagged "s:", timestamps "t:" (microseconds since the
  * epoch, UTC), dates "D:" and binary "b:" (hex). Structs become objects
  * keyed by field name; maps become [key, value] pairs. perfbench/oracle.py
  * holds the same rules for DuckDB values. */
object Canon {
  def row(r: Row): String =
    r.schema.fieldNames.indices
      .map(i => quote(r.schema.fieldNames(i)) + ":" + value(r.get(i)))
      .mkString("{", ",", "}")

  def number(d: java.math.BigDecimal): String =
    if (d.signum == 0) "n:0" else "n:" + d.stripTrailingZeros.toPlainString

  private def double(d: Double): String =
    if (d.isNaN) "n:NaN"
    else if (d.isInfinite) (if (d > 0) "n:Infinity" else "n:-Infinity")
    else number(new java.math.BigDecimal(d))

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case x: Byte => quote("n:" + x)
    case x: Short => quote("n:" + x)
    case x: Int => quote("n:" + x)
    case x: Long => quote("n:" + x)
    case x: Float => quote(double(x.toDouble))
    case x: Double => quote(double(x))
    case x: java.math.BigDecimal => quote(number(x))
    case x: scala.math.BigDecimal => quote(number(x.bigDecimal))
    case s: String => quote("s:" + s)
    case t: java.sql.Timestamp =>
      quote("t:" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000))
    case t: java.time.Instant => quote("t:" + (t.getEpochSecond * 1000000L + t.getNano / 1000))
    case t: java.time.LocalDateTime =>
      quote("t:" + (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000))
    case d: java.sql.Date => quote("D:" + d.toLocalDate.toString)
    case d: java.time.LocalDate => quote("D:" + d.toString)
    case b: Array[Byte] => quote("b:" + b.map(x => f"${x & 0xff}%02x").mkString)
    case r: Row => row(r)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => "[" + value(k) + "," + value(x) + "]" }
        .sorted.mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => quote("?:" + other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b += '"'
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
