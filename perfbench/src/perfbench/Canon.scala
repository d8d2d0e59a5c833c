package perfbench

import org.apache.spark.sql.Row

/** Canonical row hash of a query result, the JVM half of the policy in
  * perfbench/make_expected.py (which applies it to the DuckDB oracle's
  * rows). The policy follows tools/check_oracle.py: columns in name
  * order, rows in result order, null → "\0N", booleans T/F, integers as
  * decimal text, −0.0 folded into 0.0. Floats render as their IEEE-754
  * bits in hex rather than as shortest decimal text, which carries the
  * same information and renders identically in Python and on the JVM.
  */
object Canon {
  def cell(v: Any): String = v match {
    case null => "\u0000N"
    case b: Boolean => if (b) "T" else "F"
    case i: Byte => i.toString
    case i: Short => i.toString
    case i: Int => i.toString
    case i: Long => i.toString
    case f: Float => dbl(f.toDouble)
    case d: Double => dbl(d)
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => ts(t.toInstant)
    case t: java.time.Instant => ts(t)
    case t: java.time.LocalDateTime => ts(t.toInstant(java.time.ZoneOffset.UTC))
    case b: Array[Byte] => "0x" + b.map(x => f"${x & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row =>
      val names = r.schema.fieldNames
      names.indices.sortBy(names(_))
        .map(i => s"${names(i)}=${cell(r.get(i))}").mkString("{", ",", "}")
    case other => other.toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d == 0.0) "0.0"
    else f"${java.lang.Double.doubleToRawLongBits(d)}%016x"

  private val tsFormat =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private def ts(i: java.time.Instant): String =
    tsFormat.format(java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC))

  /** (row count, sha256 hex) over the header of sorted column names and
    * one line per row of \u0001-joined cells.
    */
  def hash(columns: Seq[String], rows: Array[Row]): (Long, String) = {
    val order = columns.indices.sortBy(columns(_))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update((order.map(columns(_)).mkString(";") + "\n").getBytes("UTF-8"))
    rows.foreach { r =>
      md.update((order.map(i => cell(r.get(i))).mkString("\u0001") + "\n").getBytes("UTF-8"))
    }
    (rows.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }
}
