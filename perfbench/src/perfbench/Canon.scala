package perfbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** The result hash of the DuckDB oracle comparator (`tools/check.py`):
  * columns sorted by name, each cell rendered the way Python's `str()`
  * renders the value pyarrow reads back from the result parquet (`NULL`
  * for null), cells joined by `|`, rows by newline, sha256 truncated to
  * 16 hex digits. Rows keep the order the query returned them in. */
object Canon {

  def hash(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val text = rows.iterator.map { r =>
      order.iterator.map(i => if (r.isNullAt(i)) "NULL" else cell(r.get(i)))
        .mkString("|")
    }.mkString("\n")
    val d = MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(StandardCharsets.UTF_8))
    d.take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Python `str()` of a top-level cell. */
  def cell(v: Any): String = v match {
    case s: String => s
    case _ => repr(v)
  }

  /** Python `repr()`, which `str()` of a list or dict applies to its
    * elements. */
  def repr(v: Any): String = v match {
    case null => "None"
    case s: String => pyQuote(s)
    case b: Boolean => if (b) "True" else "False"
    case d: Double => pyFloat(d)
    case f: Float => pyFloat(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case d: java.math.BigDecimal => d.toString
    case d: scala.math.BigDecimal => d.bigDecimal.toString
    case t: java.sql.Timestamp => timestamp(t.toInstant.atOffset(ZoneOffset.UTC).toLocalDateTime)
    case t: java.time.Instant => timestamp(t.atOffset(ZoneOffset.UTC).toLocalDateTime)
    case t: java.time.LocalDateTime => timestamp(t)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case r: Row =>
      r.schema.fieldNames.zipWithIndex
        .map { case (n, i) => pyQuote(n) + ": " + repr(r.get(i)) }
        .mkString("{", ", ", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => "(" + repr(k) + ", " + repr(x) + ")" }
        .mkString("[", ", ", "]")
    case xs: scala.collection.Seq[_] => xs.map(repr).mkString("[", ", ", "]")
    case other => other.toString
  }

  private def timestamp(t: java.time.LocalDateTime): String = {
    val micros = t.getNano / 1000
    tsFmt.format(t) + (if (micros != 0) f".$micros%06d" else "")
  }

  private def pyQuote(s: String): String =
    if (s.contains('\'') && !s.contains('"')) "\"" + s + "\""
    else "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Python's shortest round-trip float repr: the fewest significant
    * digits that read back as the same double, in fixed notation for
    * decimal exponents -4..15 and in `1.5e+16` form outside it. */
  def pyFloat(d: Double): String = {
    if (d.isNaN) return "nan"
    if (d.isInfinite) return if (d > 0) "inf" else "-inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val exact = new java.math.BigDecimal(d)
    val bd = (1 to 17).iterator
      .map(p => exact.round(new MathContext(p, RoundingMode.HALF_EVEN)))
      .find(_.doubleValue == d).get.stripTrailingZeros
    val digits = bd.unscaledValue.abs.toString
    val exp10 = digits.length - 1 - bd.scale // exponent of the first digit
    val sign = if (d < 0) "-" else ""
    if (exp10 < -4 || exp10 >= 16) {
      val mant = if (digits.length == 1) digits else digits.head + "." + digits.tail
      val e = math.abs(exp10)
      sign + mant + "e" + (if (exp10 < 0) "-" else "+") + (if (e < 10) "0" + e else e.toString)
    } else if (exp10 < 0) {
      sign + "0." + "0" * (-exp10 - 1) + digits
    } else if (digits.length <= exp10 + 1) {
      sign + digits + "0" * (exp10 + 1 - digits.length) + ".0"
    } else {
      sign + digits.take(exp10 + 1) + "." + digits.drop(exp10 + 1)
    }
  }
}
