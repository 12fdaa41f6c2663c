package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive content digest of a query result: the row count
  * and the sum (mod 2^64) of a 64-bit hash of each row's canonical
  * text. Row order and partitioning cannot change either number; any
  * changed, added or dropped row changes the sum with probability
  * 1 - 2^-64. */
object Digest {

  final case class Result(rows: Long, sum: Long) {
    def hex: String = f"$sum%016x"
  }

  def of(df: DataFrame): Result = {
    val parts = df.rdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      it.foreach { r => n += 1; s += rowHash(r) }
      Iterator((n, s))
    }.collect()
    Result(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def rowHash(r: Row): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val b = md.digest(canon(r).getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(b).getLong
  }

  /** Canonical text of a value. Every cell is length-prefixed so a
    * separator inside a string cannot make two rows read alike.
    * Doubles are rounded to 12 significant digits: an aggregate's last
    * bits may follow the order partial sums meet in, which is not the
    * query's output. */
  def canon(v: Any): String = v match {
    case null => "N"
    case r: Row => r.toSeq.map(canon).map(s => s"${s.length}:$s").mkString("(", "", ")")
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted
        .map(s => s"${s.length}:$s").mkString("{", "", "}")
    case s: scala.collection.Seq[_] =>
      s.map(canon).map(x => s"${x.length}:$x").mkString("[", "", "]")
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => canon(d.bigDecimal)
    case other => other.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(12)).stripTrailingZeros.toString
}
