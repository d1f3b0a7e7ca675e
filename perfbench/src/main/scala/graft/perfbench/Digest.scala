package graft.perfbench

import org.apache.spark.sql.Row

/** Order-insensitive result digest: row count plus the wrapping sum of a
  * 64-bit hash of each row's canonical text. Floating-point values are
  * rounded to 6 significant digits first, so summation-order noise in the
  * last bits never changes a digest. */
object Digest {
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => round(d)
    case f: Float => round(f.toDouble)
    case b: java.math.BigDecimal => round(b.doubleValue)
    case b: BigDecimal => round(b.toDouble)
    case bytes: Array[Byte] => bytes.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case s: scala.collection.Map[_, _] =>
      s.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case other => other.toString
  }

  private def round(d: Double): String =
    if (d.isNaN || d.isInfinite || d == 0.0) d.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6)).stripTrailingZeros.toString

  private def hash64(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    java.nio.ByteBuffer.wrap(md.digest(s.getBytes("UTF-8"))).getLong
  }

  /** `rows:hash` with the hash in hex; the column order is part of it. */
  def of(rows: Iterable[Row]): String = {
    var sum = 0L
    var n = 0L
    rows.foreach { r => sum += hash64(canon(r)); n += 1 }
    s"$n:${java.lang.Long.toHexString(sum)}"
  }
}
