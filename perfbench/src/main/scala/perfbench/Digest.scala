package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a query result: row count plus the sum
  * (mod 2^64) of a 64-bit hash of each row's canonical text. Summing
  * instead of XOR-ing keeps duplicate rows visible; summing instead of
  * hashing a sorted list keeps the digest independent of row order
  * without a sort.
  */
final case class Digest(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
  def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash)
}

object Digest {
  val empty: Digest = Digest(0L, 0L)

  /** Stable text for one cell; doubles print in Java's shortest
    * round-trip form with -0.0 folded into 0.0, decimals without
    * trailing zeros, nested values element by element.
    */
  def canon(v: Any): String = v match {
    case null => "␀"
    case d: Double => if (d == 0.0) "0.0" else java.lang.Double.toString(d)
    case f: Float => if (f == 0.0f) "0.0" else java.lang.Float.toString(f)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: BigDecimal => canon(b.bigDecimal)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString("0x", "", "")
    case other => other.toString
  }

  def rowHash(r: Row): Long = {
    val s = r.toSeq.map(canon).mkString("␟")
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x5be0cd19).toLong & 0xffffffffL)
  }

  def ofRows(rows: Iterator[Row]): Digest =
    rows.foldLeft(empty)((d, r) => d + Digest(1L, rowHash(r)))

  /** Digest of a frame, computed on the executors; the column names
    * are part of the digest so a renamed output column fails it.
    */
  def of(df: DataFrame): Digest = {
    val header = Digest(0L, MurmurHash3.stringHash(
      df.columns.mkString("␟")).toLong)
    df.rdd.mapPartitions(it => Iterator(ofRows(it)))
      .fold(empty)(_ + _) + header
  }
}
