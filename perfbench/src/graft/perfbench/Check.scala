package graft.perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Helpers shared by the output checks. A committed state is compared as
  * (row count, xor of per-row `xxhash64`) — computed by Spark over the
  * persisted files and by the brute-force reference over its own rows with
  * the same hash function (Spark's `xxhash64(a, b, …)` chains XXH64 with
  * seed 42, each column seeding the next). */
object Check {
  /** Fisher-Yates shuffle driven by the caller's seeded stream. */
  def shuffle[A](xs: Seq[A], r: java.util.SplittableRandom): Seq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }

  def micros(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000

  def hash(parts: Any*): Long = parts.foldLeft(42L) {
    case (h, s: String) => XXH64.hashUTF8String(UTF8String.fromString(s), h)
    case (h, l: Long) => XXH64.hashLong(l, h)
    case (h, null) => h
    case (_, x) => throw new IllegalArgumentException(s"unhashed type: $x")
  }

  def countXor(df: DataFrame, rowHash: Column): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(rowHash), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Logical payload bytes of a request row: UTF-8 strings plus 8 bytes per
    * numeric or timestamp field. */
  def rowBytes(r: Row): Long = r.toSeq.map {
    case s: String => s.getBytes("UTF-8").length.toLong
    case null => 0L
    case a: Seq[_] => 4L * a.length
    case _ => 8L
  }.sum
}
