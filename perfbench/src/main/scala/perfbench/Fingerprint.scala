package perfbench

import java.math.{BigDecimal => JBigDecimal}
import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-independent, typed fingerprint of a collected result — the
  * Scala twin of perfbench/fingerprint.py, which applies the same
  * normalisation to the Python values DuckDB returns for the oracle.
  * Any change here must be mirrored there (and in test_bench.py). */
object Fingerprint {
  val ColSep = "\u001f"
  val ItemSep = "\u001e"

  def normFloat(v: Double): String =
    if (v.isNaN) "fNaN"
    else if (v.isInfinite) (if (v > 0) "f+Inf" else "f-Inf")
    else "f" + new JBigDecimal(math.floor(v * 1e9 + 0.5)).toBigInteger

  def normDecimal(d: JBigDecimal): String =
    if (d.signum == 0) "d0" else "d" + d.stripTrailingZeros.toPlainString

  private def micros(epochSecond: Long, nano: Int): Long =
    epochSecond * 1000000L + nano / 1000

  def norm(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: Float => normFloat(x.toDouble)
    case x: Double => normFloat(x)
    case d: JBigDecimal => normDecimal(d)
    case d: scala.math.BigDecimal => normDecimal(d.bigDecimal)
    case s: String => "s" + s
    case b: Array[Byte] => "x" + b.map(x => f"${x & 0xff}%02x").mkString
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      "t" + micros(i.getEpochSecond, i.getNano)
    case i: java.time.Instant => "t" + micros(i.getEpochSecond, i.getNano)
    case t: java.time.LocalDateTime =>
      "t" + micros(t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano)
    case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D" + d.toEpochDay
    case r: Row =>
      val names = Option(r.schema).map(_.fieldNames.toSeq)
        .getOrElse(r.toSeq.indices.map(_.toString))
      names.zip(r.toSeq).map { case (k, x) => s"$k=${norm(x)}" }
        .mkString("{", ItemSep, "}")
    case m: scala.collection.Map[_, _] =>
      val kv = m.toSeq.map { case (k, x) => (norm(k), norm(x)) }.sortBy(_._1)
      s"{key=[${kv.map(_._1).mkString(ItemSep)}]$ItemSep" +
        s"value=[${kv.map(_._2).mkString(ItemSep)}]}"
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ItemSep, "]")
    case other => throw new IllegalArgumentException(
      s"unsupported result value ${other.getClass.getName}")
  }

  /** sha256 over the sorted column names and the sorted normalised
    * rows; equal results give equal strings in any row order. */
  def of(columns: Seq[String], rows: Iterable[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    val lines = rows.iterator
      .map(r => order.map(i => norm(r.get(i))).mkString(ColSep))
      .toArray.sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns(_)).mkString(ColSep).getBytes("UTF-8"))
    lines.foreach { l =>
      md.update("\n".getBytes("UTF-8"))
      md.update(l.getBytes("UTF-8"))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
