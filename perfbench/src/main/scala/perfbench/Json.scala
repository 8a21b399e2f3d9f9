package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Minimal JSON writing, and the canonical row form the output checks
  * compare: `check.py`'s rules (columns sorted by name, rows sorted,
  * exact values) expressed as one digest per result. `run.py` computes
  * the same digest from DuckDB's answer, so the two `canon` functions
  * must stay in step. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case raw: Raw => raw.json
    case other => str(other.toString)
  }

  /** Already-serialized JSON. */
  final case class Raw(json: String)

  def obj(fields: Iterable[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  // ---- canonical values --------------------------------------------------

  private def num(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == math.rint(d) && math.abs(d) < 9.0e18) "i" + d.toLong
    else "d" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  private def micros(i: java.time.Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000

  def canon(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case n: Byte => "i" + n
    case n: Short => "i" + n
    case n: Int => "i" + n
    case n: Long => "i" + n
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case d: java.math.BigDecimal =>
      val s = d.stripTrailingZeros
      if (s.scale <= 0 && s.toBigInteger.bitLength < 63) "i" + s.longValueExact else num(d.doubleValue)
    case d: scala.math.BigDecimal => canon(d.bigDecimal)
    case s: String => "s" + s
    case t: java.sql.Timestamp => "t" + micros(t.toInstant)
    case t: java.time.Instant => "t" + micros(t)
    case t: java.time.LocalDateTime => "t" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D" + d.toEpochDay
    case a: Array[Byte] => "x" + a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => "?" + other
  }

  /** sha256 over the sorted canonical rows, columns in name order. */
  def digest(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(columns.sorted.mkString("\u0001").getBytes("UTF-8"))
    lines.foreach { l => md.update("\n".getBytes("UTF-8")); md.update(l.getBytes("UTF-8")) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
