package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.Lineage
import graft.lake.IceLite

/** Output checks. Every check counts as one attempted operation; a check
  * that fails counts as a failed one. */
object Checks {

  private val Sep = "\u0001"
  private val Null = "\u0000"

  /** One row's digest term: the first 15 hex digits of the sha256 of its
    * values (sorted-column order), as a number. */
  def rowHash(values: Seq[Any]): BigInt = {
    val s = values.map(v => if (v == null) Null else v.toString).mkString(Sep)
    val h = java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
    val hex = h.map(b => f"${b & 0xff}%02x").mkString
    BigInt(java.lang.Long.parseLong(hex.substring(0, 15), 16))
  }

  final case class Digest(rows: Long, sum: BigInt, liveBytes: Long)

  /** [[rowHash]] summed over a table read, computed by Spark: reads every
    * visible column of every live row. Also sums the bytes of those values,
    * the denominator of table_bytes_per_live_byte. */
  def digest(df: DataFrame, columns: Seq[String]): Digest = {
    val vals = columns.map(c => coalesce(col(c).cast("string"), lit(Null)))
    val h = conv(substring(sha2(concat_ws(Sep, vals: _*), 256), 1, 15), 16, 10)
      .cast("decimal(38,0)")
    val bytes = columns.map(c => coalesce(octet_length(col(c).cast("string")), lit(0)).cast("long"))
      .reduce(_ + _)
    val r = df.agg(count(lit(1)), sum(h), sum(bytes)).head()
    Digest(r.getLong(0),
      Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0)),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Every expected epoch is in the table's ledger and has exactly one
    * lineage row; returns the failures as messages. */
  def ledgerAndLineage(spark: SparkSession, table: String, epochIds: Seq[String]): Seq[String] = {
    val snap = IceLite.load(table)
    val missing = epochIds.filterNot(snap.hasEpoch).map(e => s"epoch $e not in the ledger")
    val rows = Lineage.read(spark, table).groupBy("epochId").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val lineage = epochIds.flatMap { e =>
      val n = rows.getOrElse(e, 0L)
      if (n == 1L) None else Some(s"epoch $e has $n lineage rows")
    }
    missing ++ lineage
  }

  /** The version that committed each epoch id (metadata only). */
  def versionsOf(table: String, epochIds: Seq[String]): Map[String, Int] = {
    val versions = IceLite.history(table)
    val snaps = versions.map(v => v -> IceLite.loadVersionMeta(table, v))
    epochIds.flatMap { e =>
      snaps.find(_._2.hasEpoch(e)).map(e -> _._1)
    }.toMap
  }

  /** Compare one lookup result with the oracle row. */
  def sameRow(got: Option[Map[String, Any]], want: Option[Map[String, Any]]): Boolean =
    (got, want) match {
      case (None, None) => true
      case (Some(g), Some(w)) => w.forall { case (k, v) => g.get(k).orNull == v }
      case _ => false
    }
}
