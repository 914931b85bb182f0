package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** A hash of a multiset of rows that ignores row order: the row count,
  * the xor of the per-row hashes, and the sums of the high and low 32 bits
  * of each row hash hashed once more (so that the sums do not share the
  * xor's linear collisions). Equal multisets give equal digests whatever
  * the partitioning; the sums keep a duplicated row from cancelling out as
  * xor alone would.
  */
object OrderFreeHash {
  final case class Digest(count: Long, xor: Long, sumHi: Long, sumLo: Long) {
    override def toString: String = f"$count%d:$xor%016x:$sumHi%x:$sumLo%x"
  }

  /** Spark's `xxhash64` of one long column. */
  def mix(h: Long): Long = XXH64.hashLong(h, 42L)

  def of(hashes: IterableOnce[Long]): Digest = {
    var n = 0L; var x = 0L; var hi = 0L; var lo = 0L
    hashes.iterator.foreach { h =>
      val m = mix(h)
      n += 1; x ^= h; hi += m >>> 32; lo += m & 0xffffffffL
    }
    Digest(n, x, hi, lo)
  }

  /** Decimal places kept from floating columns before hashing: sums of
    * doubles may differ in their last bits with the order partial
    * aggregates arrive in, which must not change the digest.
    */
  val FloatDigits = 6

  private def canonical(df: DataFrame): Seq[Column] =
    df.schema.fields.sortBy(_.name).toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), FloatDigits)
        case ArrayType(DoubleType | FloatType, _) =>
          transform(c, x => round(x.cast(DoubleType), FloatDigits))
        case _ => c
      }
    }

  private def hashOf(df: DataFrame): Column = xxhash64(canonical(df): _*)

  private def digestAggs(h: Column): Seq[Column] = {
    val m = xxhash64(h)
    Seq(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(shiftrightunsigned(m, 32)), lit(0L)),
      coalesce(sum(m.bitwiseAND(lit(0xffffffffL))), lit(0L)))
  }

  private def digestAt(r: Row, i: Int): Digest =
    Digest(r.getLong(i), r.getLong(i + 1), r.getLong(i + 2), r.getLong(i + 3))

  /** Digest of a DataFrame's rows, computed by Spark over every column
    * (columns in name order, so column order does not matter either).
    */
  def of(df: DataFrame): Digest = {
    val a = digestAggs(col("__h"))
    digestAt(df.select(hashOf(df).as("__h")).agg(a.head, a.tail: _*).head(), 0)
  }

  /** One digest per value of `key`, next to the long aggregate `extra`
    * over the same rows; one Spark job.
    */
  def byKey(df: DataFrame, key: String, extra: Column): Map[Any, (Long, Digest)] =
    df.withColumn("__h", hashOf(df)).groupBy(key)
      .agg(extra, digestAggs(col("__h")): _*)
      .collect().map(r => r.get(0) -> (r.getLong(1), digestAt(r, 2))).toMap
}
