package graft.cdc

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import scala.jdk.CollectionConverters._
import graft.decode.{ChangeEvent, Decode, Framing}
import graft.lake.Merge
import graft.registry.{DescriptorRegistry, SchemaKey}

/** THE epoch apply — the one decode → MERGE sequence every log-consuming
  * path runs (replay, selective replay, concurrent writers, dead-letter
  * retry, the streaming tail, the breaker, multi-table txn, expectations).
  * A deterministic micro-batch is a recomputable unit with one recorded
  * lineage (Discretized Streams): re-running [[apply]] on the same events
  * is a fenced no-op, and a conflict-aborted run is simply re-run whole.
  *
  * Sequence: optional expectations split (violating events leave, the
  * conforming rest go on) → [[Replay.decodeForMerge]] → keys pre-pass
  * (touched buckets + merge sizing, from the same per-event-schema decode)
  * → optional update transform → [[Merge.mergeEpoch]] → dead-letter flush
  * (direct when fenced) → the epoch's lineage entry. Callers append the
  * entries with [[Lineage.appendAll]]. */
object Epoch {

  /** Reader schema: the registry's latest version of the CDC message. */
  val DefaultKey: SchemaKey = SchemaKey(Cdc.SchemaId, -1)
  val KeyFields: Seq[String] = Seq("repo", "path")

  /** The six [[ChangeEvent]] columns of a log (or dead-letter) frame. */
  def events(df: Dataset[_]): Dataset[ChangeEvent] =
    df.select("payload", "schemaId", "schemaVersion", "messageType", "partition", "offset")
      .as(Encoders.product[ChangeEvent])

  /** Epoch numbers of a partitioned log, from its `epoch=` directories —
    * no Spark job. */
  def list(logDir: String): Vector[Long] =
    java.nio.file.Files.list(java.nio.file.Paths.get(logDir))
      .iterator().asScala.map(_.getFileName.toString)
      .collect { case s if s.startsWith("epoch=") => s.stripPrefix("epoch=").toLong }
      .toVector.sorted

  /** Apply one epoch of `events` to the table at `tableDir` under fence id
    * `epochId`. Returns the epoch's lineage entry, or `None` when the epoch
    * was already committed (fenced: the merge did no work; dead letters a
    * crashed prior attempt may not have flushed are recovered, both stores
    * dedup by event identity). */
  def apply(
      events: Dataset[ChangeEvent],
      registry: Broadcast[DescriptorRegistry],
      tableDir: String,
      epochId: String,
      framing: Framing.Value = Framing.Raw,
      /** keys-only pre-pass for touched-bucket pruning; off for large
        * batches that touch every bucket anyway (saves one payload scan). */
      pruneBuckets: Boolean = true,
      deltaThreshold: Int = 8,
      /** persist decode and expectation dead letters under the table's
        * `_deadletter`; off for the retry paths, which own their store. */
      deadLetters: Boolean = true,
      /** (partition, offset, failed_rules) from [[Expectations.violations]]:
        * those events are excluded from the merge and dead-letter with
        * route `expectation`. */
      violations: Option[DataFrame] = None,
      /** deterministic, schema-preserving rewrite of the decoded update
        * rows before the merge (see [[Tail.start]]'s transformUpdates). */
      transformUpdates: Option[DataFrame => DataFrame] = None): Option[Lineage.Entry] = {
    val spark = events.sparkSession
    val dld = s"$tableDir/_deadletter"
    val ev = violations.fold(events)(v => this.events(events.toDF()
      .join(v.select("partition", "offset"), Seq("partition", "offset"), "left_anti")))
    val batch = Replay.decodeForMerge(ev, registry,
      if (deadLetters) Some(dld) else None, framing)
    val keys =
      if (pruneBuckets)
        Some(Decode.decodeKeys(ev, registry, DefaultKey, Cdc.MessageType, KeyFields, framing))
      else None
    val updates = transformUpdates.fold(batch.updates)(_(batch.updates))
    val st = Merge.mergeEpoch(spark, tableDir, updates, "seq", "op", epochId, keys,
      deltaThreshold = deltaThreshold)
    // violating events per source partition (the expectation route)
    val violated: Map[Int, Long] = violations.fold(Map.empty[Int, Long])(
      _.groupBy("partition").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
    if (deadLetters) {
      batch.flushDeadLetters(st.applied)
      if (violated.nonEmpty)
        appendDeadLetters(dld, Expectations.letterRows(violations.get, events.toDF()))
    }
    if (!st.applied) None
    else {
      val e = Lineage.entry(st, batch.routeStats)
      Some(if (violated.isEmpty) e else e.copy(
        routes = e.routes + (Expectations.Route -> violated.values.sum),
        partitions = violated.foldLeft(e.partitions) { case (m, (p, n)) =>
          m.updated(p, m.getOrElse(p, 0L) + n) }))
    }
  }

  /** The merge stats an [[apply]] result stands for: `None` is a fenced
    * epoch that did no work. */
  def stats(epochId: String, entry: Option[Lineage.Entry]): Merge.MergeStats =
    entry.fold(Merge.MergeStats(epochId, applied = false, 0, 0, 0, 0, 0, 0))(e =>
      Merge.MergeStats(e.epochId, e.applied, e.batchRows, e.upserts, e.deletes,
        e.touchedBuckets, e.cowBuckets, e.rewrittenRows))

  private val appendLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Serializes parquet appends into one table's side stores (`_deadletter`
    * and `_lineage`): concurrent append jobs to one parquet dir share the
    * Hadoop committer's `_temporary/0` staging dir, and the first job's
    * cleanup deletes the second job's pending task output — two tails, or
    * [[Replay.replayLogsConcurrent]]'s writers, on one table. Different
    * tables' stores are disjoint and do not serialize. The lock is
    * JVM-local: it serializes appends within ONE JVM only; writers in
    * separate processes appending to the same table still race. */
  private[cdc] def appendLocked[T](tableDir: String)(body: => T): T =
    appendLocks.computeIfAbsent(
      java.nio.file.Paths.get(tableDir).toAbsolutePath.normalize.toString,
      _ => new Object).synchronized(body)

  /** Append `letters` to the dead-letter store `dld` (a table's
    * `_deadletter`). IDEMPOTENT by event identity (partition, offset): a
    * re-flush — the fenced-replay recovery path, or an idempotent
    * whole-replay re-run — skips letters already in the store instead of
    * appending duplicates. */
  /** The dead-letter store's event identity, typed as [[Decode.metaSchema]] types it. */
  private val deadLetterKey = org.apache.spark.sql.types.StructType(
    Decode.metaSchema.filter(f => f.name == "partition" || f.name == "offset"))

  private[cdc] def appendDeadLetters(dld: String, letters: DataFrame): Unit =
    appendLocked(java.nio.file.Paths.get(dld).getParent.toString) {
      val fresh =
        if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dld)))
          letters.join(letters.sparkSession.read.schema(deadLetterKey)
            .parquet(dld).distinct(), Seq("partition", "offset"), "left_anti")
        else letters
      fresh.write.mode("append").parquet(dld)
    }
}
