package perfbench

import org.apache.spark.sql.Row

/** Order-insensitive digest of a query result: every row rendered with
  * floating-point values rounded to 8 significant digits, the rendered rows
  * sorted, then hashed. Two results with the same multiset of rounded rows
  * get the same digest whatever order the engine returned them in.
  */
object Digest {

  private val mc = new java.math.MathContext(8, java.math.RoundingMode.HALF_EVEN)

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toPlainString

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case t: java.sql.Timestamp => s"ts:${t.getTime}.${t.getNanos}"
    case t: java.time.Instant => s"ts:${t.toEpochMilli}.${t.getNano}"
    case d: java.sql.Date => s"date:${d.toLocalDate}"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}:${render(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(r => r.toSeq.map(render).mkString("|")).sorted.foreach { line =>
      md.update(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}
