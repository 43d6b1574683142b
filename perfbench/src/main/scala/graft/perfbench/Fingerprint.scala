package graft.perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-sensitive digest of a collected result, normalised the way the
  * DuckDB oracle compare normalises: columns sorted by name, every number
  * rounded to 6 decimals (so 2, 2.0 and DECIMAL 2.000 agree), timestamps
  * as UTC wall time. The harness digests both an op's result and DuckDB's
  * answer (read back from parquet) with it.
  *
  * Result: `<rows>:<sorted column names>:<sha256 of the cells>`.
  */
object Fingerprint {
  private val TsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def of(schema: StructType, rows: Array[Row]): String = {
    val names = schema.fieldNames
    val order = names.indices.sortBy(i => names(i))
    val md = MessageDigest.getInstance("SHA-256")
    val sb = new java.lang.StringBuilder
    rows.foreach { r =>
      sb.setLength(0)
      order.foreach { i => cell(r.get(i), sb); sb.append('\u0001') }
      sb.append('\n')
      md.update(sb.toString.getBytes(StandardCharsets.UTF_8))
    }
    val hex = md.digest().map(b => f"${b & 0xff}%02x").mkString
    s"${rows.length}:${order.map(names(_)).mkString(",")}:$hex"
  }

  private def number(d: JBigDecimal, sb: java.lang.StringBuilder): Unit = {
    val r = d.setScale(6, RoundingMode.HALF_EVEN)
    sb.append('#').append(if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString)
  }

  private def double(d: Double, sb: java.lang.StringBuilder): Unit =
    if (d.isNaN) sb.append("#NaN")
    else if (d.isInfinite) sb.append(if (d > 0) "#Inf" else "#-Inf")
    else number(new JBigDecimal(d), sb)

  private def cell(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append("N")
    case b: Boolean => sb.append(if (b) "#1" else "#0")
    case n: Byte => sb.append('#').append(n.toLong)
    case n: Short => sb.append('#').append(n.toLong)
    case n: Int => sb.append('#').append(n.toLong)
    case n: Long => sb.append('#').append(n)
    case f: Float => double(f.toDouble, sb)
    case d: Double => double(d, sb)
    case d: JBigDecimal => number(d, sb)
    case d: scala.math.BigDecimal => number(d.bigDecimal, sb)
    case s: String =>
      sb.append('\'').append(s.replace("\\", "\\\\").replace("\n", "\\n").replace("\u0001", "\\1"))
    case d: java.sql.Date => sb.append('D').append(d.toLocalDate.toString)
    case d: java.time.LocalDate => sb.append('D').append(d.toString)
    case t: java.sql.Timestamp =>
      sb.append('T').append(TsFmt.format(t.toInstant.atOffset(java.time.ZoneOffset.UTC)))
    case t: java.time.Instant =>
      sb.append('T').append(TsFmt.format(t.atOffset(java.time.ZoneOffset.UTC)))
    case t: java.time.LocalDateTime => sb.append('T').append(TsFmt.format(t))
    case b: Array[Byte] => sb.append('B').append(b.map(x => f"${x & 0xff}%02x").mkString)
    case r: Row =>
      sb.append('{')
      (0 until r.length).foreach { i => if (i > 0) sb.append(','); cell(r.get(i), sb) }
      sb.append('}')
    case m: scala.collection.Map[_, _] =>
      val entries = m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder; cell(k, e); e.append('='); cell(x, e); e.toString
      }.sorted
      sb.append('<').append(entries.mkString(",")).append('>')
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      var first = true
      s.foreach { x => if (!first) sb.append(','); first = false; cell(x, sb) }
      sb.append(']')
    case other => sb.append('?').append(other.toString)
  }
}
