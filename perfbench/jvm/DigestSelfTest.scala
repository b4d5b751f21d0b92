package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Checks that the result digest ignores row order and partitioning but
  * not row content or multiplicity. Exits non-zero on a failed check.
  * Run by perfbench/tests/test_stats.py. */
object DigestSelfTest {
  def main(args: Array[String]): Unit = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("v", DoubleType), StructField("toks", ArrayType(StringType))))
    def row(i: Long, s: String, v: Double, toks: String*): InternalRow =
      new GenericInternalRow(Array[Any](i, UTF8String.fromString(s), v,
        new GenericArrayData(toks.map(t => UTF8String.fromString(t): Any).toArray)))
    val rows = (0 until 50).map(i => row(i % 7, s"name$i", i * 0.5, "a", s"t$i"))
    val unsafe = UnsafeProjection.create(schema)
    val asUnsafe = rows.map(r => unsafe(r).copy())
    val base = Digest.of(rows.iterator, schema)

    val rnd = new scala.util.Random(7)
    val checks = Seq(
      "reversed order" -> (Digest.of(rows.reverseIterator, schema) == base),
      "shuffled order" -> (Digest.of(rnd.shuffle(rows).iterator, schema) == base),
      "unsafe rows hash as their generic twins" ->
        (Digest.of(asUnsafe.iterator, schema) == base),
      "split into partitions" -> (Digest.combine(rows.grouped(9).map(p =>
        Digest.of(p.iterator, schema)).toSeq) == base),
      "changed value differs" -> (Digest.of(
        (rows.updated(3, row(3, "name3", 1.5000001, "a", "t3"))).iterator,
        schema) != base),
      "duplicated row differs" ->
        (Digest.of((rows :+ rows(4)).iterator, schema) != base),
      "dropped row differs" -> (Digest.of(rows.tail.iterator, schema) != base),
      "swapped values across rows differ" -> (Digest.of(
        rows.updated(0, row(0, "name1", 0.0, "a", "t0"))
          .updated(1, row(1, "name0", 0.5, "a", "t1")).iterator, schema) != base))
    val failed = checks.collect { case (name, false) => name }
    checks.foreach { case (name, ok) => println(s"${if (ok) "ok  " else "FAIL"} $name") }
    if (failed.nonEmpty) sys.exit(1)
  }
}
