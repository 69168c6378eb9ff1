package graft.perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Normalized-row digests of query outputs, with the normalization of
  * `tools/oracle_check.py`: floating values are rendered with 9
  * significant digits as Python's `f"{v:.9g}"` renders them (NaN as
  * "NaN"), columns are taken in name order and rows are sorted, so the
  * digest ignores row order, column order and float noise below 9
  * digits. Values nested in arrays, maps and structs are normalized the
  * same way.
  */
object Digest {

  /** Python's `format(v, ".9g")` for a double. */
  def g9(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v.isInfinite) (if (v > 0) "inf" else "-inf")
    else if (v == 0.0) (if (1.0 / v < 0) "-0" else "0")
    else {
      val r = new JBigDecimal(v).round(new MathContext(9, RoundingMode.HALF_EVEN))
      val exp = r.precision - r.scale - 1
      val digits = r.unscaledValue.abs.toString.reverse.dropWhile(_ == '0').reverse
      val sign = if (r.signum < 0) "-" else ""
      if (exp < -4 || exp >= 9) {
        val mant = if (digits.length == 1) digits else s"${digits.head}.${digits.tail}"
        val e = if (exp < 0) f"-${-exp}%02d" else f"+$exp%02d"
        s"$sign${mant}e$e"
      } else {
        val plain = r.abs.stripTrailingZeros.toPlainString
        sign + plain
      }
    }

  def cell(v: Any): String = v match {
    case null => "None"
    case d: Double => g9(d)
    case f: Float => g9(f.toDouble)
    case r: Row => r.toSeq.map(cell).mkString("(", ", ", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${cell(k)}: ${cell(x)}" }.sorted
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(cell).mkString("[", ", ", "]")
    case other => other.toString
  }

  /** Normalized rows: cells in column-name order, rows sorted. */
  def normalize(columns: Seq[String], rows: Seq[Row]): Seq[Seq[String]] = {
    val order = columns.indices.sortBy(columns(_))
    rows.map(r => order.map(i => cell(r.get(i)))).sortBy(_.mkString("\u0001"))
  }

  def sha256(columns: Seq[String], rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(columns.sorted.mkString("\u0001").getBytes("UTF-8"))
    normalize(columns, rows).foreach { r =>
      md.update("\n".getBytes("UTF-8"))
      md.update(r.mkString("\u0001").getBytes("UTF-8"))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
