package perfbench

import org.apache.spark.sql.Row

import scala.util.hashing.MurmurHash3

/** Row count plus an order-independent 64-bit hash of a result set: the
  * sum (mod 2^64) of a per-row hash over a canonical text form of each
  * row. Row order and partitioning do not change it; any changed, added
  * or dropped row does (up to hash collisions). */
final case class Fingerprint(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object Fingerprint {

  /** Canonical text form of a collected Spark value. Strings carry their
    * length so that adjacent values cannot run together; map entries are
    * sorted so that map iteration order does not leak into the hash;
    * binary values print as hex instead of an identity hash. */
  def canon(v: Any): String = v match {
    case null => "~"
    case s: String => s"${s.length}:$s"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    val hi = MurmurHash3.stringHash(s, 0x1b873593)
    val lo = MurmurHash3.stringHash(s, 0x5bd1e995)
    (hi.toLong << 32) | (lo & 0xffffffffL)
  }

  def of(rows: Iterator[Row]): Fingerprint = {
    var n = 0L
    var h = 0L
    rows.foreach { r => n += 1; h += rowHash(r) }
    Fingerprint(n, h)
  }
}
