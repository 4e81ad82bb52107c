package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent result fingerprint: row count plus the 64-bit sum of
  * per-row hashes over a canonical text form. Floating values are rounded
  * to 6 significant digits (the oracle's relative tolerance), so partition
  * order and summation order do not move the hash; decimals stay exact.
  */
object Fingerprint {
  private val Digits = new java.math.MathContext(6)

  def canon(v: Any): String = v match {
    case null                           => "~"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double                      =>
      if (d == 0.0) "0" else new java.math.BigDecimal(d).round(Digits).stripTrailingZeros.toString
    case f: Float                       => canon(f.toDouble)
    case b: java.math.BigDecimal        => b.stripTrailingZeros.toPlainString
    case b: Array[Byte]                 => b.map(x => f"$x%02x").mkString
    case r: Row                         => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _]  =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_]     => s.map(canon).mkString("[", ",", "]")
    case o                              => o.toString
  }

  /** (rows, hex hash) of a DataFrame's full result. */
  def of(df: DataFrame): (Long, String) = {
    var n = 0L
    var h = 0L
    df.collect().foreach { r =>
      val s = canon(r)
      n += 1
      h += (MurmurHash3.stringHash(s, 0x1b873593).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
    }
    (n, f"$h%016x")
  }
}
