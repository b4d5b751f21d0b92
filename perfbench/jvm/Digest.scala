package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Order-insensitive digest of a query result: (row count, sum of 64-bit
  * row hashes mod 2^64). Equal multisets of rows give equal digests in
  * any order and under any partitioning; a changed, lost or duplicated
  * row changes it. Rows are hashed in their UnsafeRow byte form, which
  * Spark zero-pads, so equal values always give equal bytes. */
object Digest {
  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def rowHash(u: UnsafeRow): Long = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val n = u.getSizeInBytes
    val h1 = Murmur3_x86_32.hashUnsafeBytes(base, off, n, 42)
    val h2 = Murmur3_x86_32.hashUnsafeBytes(base, off, n, 0x5bd1e995)
    mix((h1.toLong << 32) ^ (h2 & 0xffffffffL))
  }

  def of(rows: Iterator[InternalRow], schema: StructType): (Long, Long) = {
    lazy val toUnsafe = UnsafeProjection.create(schema)
    var n = 0L
    var s = 0L
    rows.foreach { r =>
      val u = r match {
        case u: UnsafeRow => u
        case other => toUnsafe(other)
      }
      n += 1
      s += rowHash(u)
    }
    (n, s)
  }

  def combine(parts: Iterable[(Long, Long)]): (Long, Long) =
    parts.foldLeft((0L, 0L)) { case ((n, s), (pn, ps)) => (n + pn, s + ps) }

  def show(d: (Long, Long)): String = f"${d._1}%d:${d._2}%016x"
}
