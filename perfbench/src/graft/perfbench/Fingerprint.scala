package graft.perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive fingerprint of a result: row count, the wrapping sum
  * of per-row 64-bit hashes, and the schema. Doubles are rounded to six
  * significant digits before hashing, so a different partial-aggregate
  * merge order (last-bit noise) cannot change the fingerprint.
  */
final case class Fingerprint(rows: Long, hash: Long, schema: String) {
  def hashHex: String = java.lang.Long.toHexString(hash)
}

object Fingerprint {

  def of(schema: StructType, rows: Array[Row]): Fingerprint = {
    var h = 0L
    var i = 0
    while (i < rows.length) { h += rowHash(rows(i)); i += 1 }
    Fingerprint(rows.length.toLong, h, schema.simpleString)
  }

  /** 64-bit hash of a canonical text form (two independent 32-bit
    * murmur hashes side by side).
    */
  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  def rowHash(r: Row): Long = hash64(canonical(r))

  def canonical(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case d: Double => canonicalDouble(d)
    case f: Float => canonicalDouble(f.toDouble)
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  private def canonicalDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6))
      .stripTrailingZeros.toString
}
