package perfbench

import org.apache.spark.sql.Row

/** Order-insensitive result digest: SHA-256 over the sorted column names
  * and the sorted rows, each row rendered with its columns in sorted-name
  * order. Values render type-aware (`dec:` for decimals, `NULL`, nested
  * arrays/maps/structs) so a type change shows as a different digest. */
object Digest {
  def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d.isNaN) "NaN" else java.lang.Double.toString(d)
    case f: Float => if (f.isNaN) "NaN" else java.lang.Float.toString(f)
    case b: java.math.BigDecimal => "dec:" + b.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  def of(columns: Array[String], rows: Array[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns(_)).mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update("\n".getBytes("UTF-8")); md.update(l.getBytes("UTF-8")) }
    md.digest().map(x => f"$x%02x").mkString
  }
}
