package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import scala.util.hashing.MurmurHash3

/** Order-insensitive fingerprint of a query result: the row count plus
  * two 64-bit folds (wrapping sum and xor) of a per-row hash over every
  * column.
  *
  * Computing it runs the result's own physical plan through `df.rdd` and
  * converts every row to a `Row`, so every column of every row is
  * materialized on the executors; only one (rows, sum, xor) triple per
  * partition travels to the driver. A `count()` would let Catalyst prune
  * unused columns and whole join branches out of the measured plan, and
  * an aggregate over a hash column would let it drop a final sort; this
  * path keeps the plan exactly as the query built it. */
final case class Fingerprint(rows: Long, sum: Long, xor: Long) {
  override def toString: String = f"$rows:$sum%016x:$xor%016x"
}

object Fingerprint {

  def of(df: DataFrame): Fingerprint = {
    val parts = df.rdd.mapPartitions { it =>
      var n = 0L; var s = 0L; var x = 0L
      it.foreach { r =>
        val h = hashRow(r)
        n += 1; s += mix(h); x ^= h
      }
      Iterator.single((n, s, x))
    }.collect()
    Fingerprint(parts.map(_._1).sum, parts.map(_._2).sum,
      parts.foldLeft(0L)(_ ^ _._3))
  }

  /** Row count of a stored fingerprint string. */
  def rowsOf(fp: String): Long = fp.takeWhile(_ != ':').toLong

  private def hashRow(r: Row): Long = {
    var h = 0x243F6A8885A308D3L
    var i = 0
    while (i < r.length) { h = mix(h * 31 + value(r.get(i))); i += 1 }
    h
  }

  // 64-bit finalizer (MurmurHash3 fmix64)
  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  private def str64(s: String): Long =
    (MurmurHash3.stringHash(s, 17).toLong << 32) ^
      (MurmurHash3.stringHash(s, 71).toLong & 0xffffffffL)

  /** Canonical value hash. Values hash by type and content only, never
    * by identity (byte arrays) or iteration order (maps). Timestamps and
    * dates hash through their string form, which the run pins to UTC. */
  private def value(v: Any): Long = v match {
    case null => 0x5851F42D4C957F2DL
    case b: Array[Byte] =>
      (MurmurHash3.bytesHash(b, 17).toLong << 32) ^
        (MurmurHash3.bytesHash(b, 71).toLong & 0xffffffffL)
    case d: Double => mix(java.lang.Double.doubleToLongBits(d) ^ 0x1L)
    case f: Float => mix(java.lang.Float.floatToIntBits(f).toLong ^ 0x2L)
    case r: Row => hashRow(r)
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => mix(value(k) * 31 + value(x)) }
        .foldLeft(0x3L)(_ + _)
    case s: scala.collection.Seq[_] =>
      s.iterator.foldLeft(0x4L)((h, x) => mix(h * 31 + value(x)))
    case other => str64(other.getClass.getSimpleName + ":" + other.toString)
  }
}
