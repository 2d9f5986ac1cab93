package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a result: row count, sorted column names,
  * and the wrapping 64-bit sum of each row's MD5 prefix. Each row is
  * rendered with its columns in name order, by the rules `oracle.py`
  * applies to DuckDB results, so equal results give equal digests.
  * Numbers compare by value (an integral double renders as the integer),
  * other doubles by their exact bits.
  */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    val rows = df.collect()
    (rows.length.toLong, of(df.columns.toIndexedSeq, rows))
  }

  def of(columns: IndexedSeq[String], rows: Array[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val line = order.map(i => render(r.get(i))).mkString("\u001f")
      sum += ByteBuffer.wrap(md.digest(line.getBytes(UTF_8))).getLong
    }
    s"${rows.length}:${columns.sorted.mkString(",")}:${"%016x".format(sum)}"
  }

  private def number(d: Double): String =
    if (d == 0.0) "0"
    else if (d == math.rint(d) && math.abs(d) < 9.007199254740992e15) d.toLong.toString
    else "d" + java.lang.Double.doubleToLongBits(d)

  def render(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "t" else "f"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => number(x.toDouble)
    case x: Double => number(x)
    case x: java.math.BigDecimal =>
      if (x.signum == 0 || x.stripTrailingZeros.scale <= 0) x.toBigInteger.toString
      else number(x.doubleValue)
    case x: java.sql.Date => x.toLocalDate.toString
    case x: java.time.LocalDate => x.toString
    case x: java.sql.Timestamp =>
      "ts" + (Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000)
    case x: java.time.Instant =>
      "ts" + (x.getEpochSecond * 1000000L + x.getNano / 1000)
    case x: java.time.LocalDateTime =>
      "ts" + (x.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + x.getNano / 1000)
    case x => x.toString
  }
}
