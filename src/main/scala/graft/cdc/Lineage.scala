package graft.cdc

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import graft.decode.RouteStatsAccumulator
import graft.lake.Merge.MergeStats

/** Per-epoch lineage + metrics ledger (north rule: "per-partition lineage +
  * metrics"), appended as a parquet table next to the data. NiFi provenance
  * equivalent (SURVEY.md §1.2). Each entry carries per-ROUTE counts
  * (success / invalid_schema / error — the dead-letter breakdown — plus
  * expectation when rules ran) and per-source-PARTITION event counts; the
  * decode routes come from an accumulator that rides the merge's own decode
  * pass (zero extra jobs). [[Epoch.apply]] yields one entry per applied
  * epoch on every path that consumes the log. */
object Lineage {

  final case class Entry(
      epochId: String,
      applied: Boolean,
      batchRows: Long,
      upserts: Long,
      deletes: Long,
      touchedBuckets: Int,
      cowBuckets: Int,
      rewrittenRows: Long,
      /** route counts: success / invalid_schema / error / expectation. */
      routes: Map[String, Long],
      /** events per source log partition. */
      partitions: Map[Int, Long])

  def entry(st: MergeStats, acc: RouteStatsAccumulator): Entry =
    Entry(st.epochId, st.applied, st.batchRows, st.upserts, st.deletes,
      st.touchedBuckets, st.cowBuckets, st.rewrittenRows, acc.byRoute, acc.byPartition)

  /** Appends serialize per table with the dead-letter flushes
    * ([[Epoch.appendLocked]]): two tails on one table append per batch.
    * The lock holds within one JVM only — appends from separate processes
    * to one table still share the committer's staging dir. */
  def appendAll(spark: SparkSession, tableDir: String, es: Seq[Entry]): Unit = {
    import spark.implicits._
    if (es.nonEmpty) Epoch.appendLocked(tableDir) {
      es.toDS().coalesce(1).write.mode("append").parquet(s"$tableDir/_lineage")
    }
  }

  /** The ledger, read under [[Entry]]'s schema (the one it is written with),
    * so no footer-inference job runs. */
  def read(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.schema(Encoders.product[Entry].schema).parquet(s"$tableDir/_lineage")
}
