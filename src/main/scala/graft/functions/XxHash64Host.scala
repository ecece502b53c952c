package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Host-side (driver) `xxhash64`: Spark's own XXH64 kernel called
  * directly, so metadata-layer code (IceLite point lookups, key blooms,
  * text-index buckets) can derive a row's hash bucket without launching a
  * Spark job. Spark chains multi-column hashes by feeding each column's
  * hash as the next column's seed, starting at seed 42 — `hashColumns`
  * mirrors that, and the chaining and `pmod` bucket parity with the
  * `xxhash64` expression are property-tested (XxHash64HostSpec).
  */
object XxHash64Host {

  /** Fixed-width 8-byte input (Spark's hash of LongType / DoubleType bits /
    * TimestampType micros). */
  def hashLong(value: Long, seed: Long): Long = XXH64.hashLong(value, seed)

  /** Fixed-width 4-byte input (Spark's hash of Byte/Short/Int/Date/Float
    * bits — all promoted to int32). */
  def hashInt(value: Int, seed: Long): Long = XXH64.hashInt(value, seed)

  /** Spark's hash of StringType: the value's UTF-8 bytes. */
  def hashString(s: String, seed: Long): Long =
    XXH64.hashUTF8String(UTF8String.fromString(s), seed)

  /** Spark's default seed for the `xxhash64` SQL function. */
  val SparkSeed = 42L

  /** Is every value a type this host-side chain can hash exactly like
    * Spark's expression? (Callers fall back to a Spark job otherwise.) */
  def supports(values: Seq[Any]): Boolean = values.forall {
    case _: String | _: Long | _: Int | _: Short | _: Byte | _: Boolean => true
    case _ => false
  }

  /** `xxhash64(c1, c2, …)` parity: each column's hash seeds the next,
    * starting at 42; non-null semantics only (a NULL column leaves the
    * running hash unchanged in Spark — callers here pass full keys). */
  def hashColumns(values: Seq[Any], seed: Long = SparkSeed): Long =
    values.foldLeft(seed) {
      case (h, s: String) => hashString(s, h)
      case (h, l: Long) => hashLong(l, h)
      case (h, i: Int) => hashInt(i, h)
      case (h, i: Short) => hashInt(i.toInt, h)
      case (h, i: Byte) => hashInt(i.toInt, h)
      case (h, b: Boolean) => hashInt(if (b) 1 else 0, h)
      case (_, v) => throw new IllegalArgumentException(
        s"unsupported host-hash type: ${if (v == null) "null" else v.getClass.getName}")
    }

  /** `pmod(xxhash64(cols…), buckets)` — the IceLite bucket id, host-side. */
  def bucketOf(values: Seq[Any], buckets: Int): Int = {
    val m = hashColumns(values) % buckets
    (if (m < 0) m + buckets else m).toInt
  }
}
