package graft.cdc

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.decode.ChangeEvent
import graft.lake.IceLite

/** Structured-Streaming change-log tail → IceLite upsert
  * (north_star: "change-event tail ... foreachBatch ... MERGE INTO").
  *
  * Exactly-once: Spark checkpoints source offsets per micro-batch; the sink
  * fences on epochId inside the IceLite commit, so a replayed batch after
  * crash/restart is a provable no-op (SURVEY.md §2.3).
  *
  * Fence namespacing: streaming batchIds restart at 0 with a fresh/wiped
  * checkpoint, and batch replays fence on log partition numbers — raw ids
  * from the two namespaces against the same table would make hasEpoch()
  * silently drop whole batches. Each CHECKPOINT therefore owns a random
  * source id (persisted as `graft-source-id` inside the checkpoint dir):
  * restart-with-same-checkpoint → same id → replayed batchIds fence
  * correctly; fresh checkpoint → new id → nothing false-fences, and
  * re-applied events are absorbed by the version-ordered MERGE (LWW by seq,
  * tombstones persist), so state stays correct either way.
  */
object Tail {

  /** Per-checkpoint fence namespace, created on first use. */
  def sourceId(checkpointDir: String): String = {
    val p = java.nio.file.Paths.get(checkpointDir, "graft-source-id")
    if (java.nio.file.Files.exists(p))
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
    else {
      java.nio.file.Files.createDirectories(p.getParent)
      val id = "tail-" + java.util.UUID.randomUUID().toString.take(8)
      java.nio.file.Files.write(p, id.getBytes("UTF-8"))
      id
    }
  }

  def start(
      spark: SparkSession,
      streamDir: String,
      tableDir: String,
      checkpointDir: String,
      buckets: Int = 32,
      maxFilesPerTrigger: Int = 4,
      /** merge-on-read policy, forwarded to Merge.mergeEpoch. */
      deltaThreshold: Int = 8,
      /** get-or-load escape hatch: between micro-batches, (schemaId,
        * version) pairs referenced by the batch but absent from the
        * registry load from this directory on the DRIVER and the registry
        * re-broadcasts — the streaming mirror of replayLog's schemaDir
        * (reference: per-record schema paths, ProtobufService.java:85-87). */
      schemaDir: Option[String] = None,
      /** called after each APPLIED micro-batch's commit (merge + lineage),
        * with the batch id — the hook streaming-publication policies plug
        * into (e.g. [[graft.lake.Export.publishStep]] growing an export
        * chain that tracks the stream). Replayed (fenced) batches skip it:
        * their work is already committed, so a crash between commit and
        * hook defers the hook's effect to the next batch — policies must
        * be idempotent against the CURRENT snapshot, not the batch. */
      onBatchCommitted: Option[(SparkSession, Long) => Unit] = None,
      /** ingest expectations ([[Expectations]], q184) enforced per
        * micro-batch: violating UPSERTs dead-letter with
        * route='expectation' + per-rule attribution + the ORIGINAL
        * payload, and only conforming events reach the MERGE — the same
        * contract the batch replay enforces, under the stream's
        * exactly-once fencing (a replayed batch neither re-merges nor
        * duplicates its dead letters). */
      rules: Seq[Expectations.Rule] = Nil,
      /** ingest-time column transform applied to each micro-batch's decoded
        * update rows BEFORE the merge (e.g. [[graft.lake.CryptoShred
        * .encryptInPlace]] for encrypt-at-ingest, a redaction pass, a
        * normalization). MUST be deterministic and schema-preserving: a
        * fenced replay re-runs it and the merge fences on identical
        * content; the table schema is the transform's output schema. */
      transformUpdates: Option[(SparkSession, org.apache.spark.sql.DataFrame) =>
        org.apache.spark.sql.DataFrame] = None): StreamingQuery = {
    import spark.implicits._

    if (!IceLite.exists(tableDir)) Replay.createTable(tableDir, buckets)
    var reg = Cdc.registry
    var registry = spark.sparkContext.broadcast(reg)
    val src = sourceId(checkpointDir)

    val eventSchema = implicitly[org.apache.spark.sql.Encoder[ChangeEvent]].schema
    val stream = spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(streamDir)
      .as[ChangeEvent]

    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[ChangeEvent], batchId: Long) =>
        schemaDir.foreach { dir =>
          // cheap columnar scan (payload column never read)
          val seen = batch.select("schemaId", "schemaVersion").distinct().collect()
            .map(r => graft.registry.SchemaKey(r.getString(0), r.getInt(1)))
          val reg2 = reg.withLoadedFrom(java.nio.file.Paths.get(dir), seen.toSeq)
          if (reg2 ne reg) {
            reg = reg2
            val superseded = registry
            registry = batch.sparkSession.sparkContext.broadcast(reg)
            superseded.unpersist(blocking = false) // don't leak the old registry
          }
        }
        // ingest expectations: rule violations leave the batch BEFORE the
        // merge (the q184 batch-path contract); a replayed batch fences, and
        // its dead-letter recovery flushes dedup by event identity
        val applied = Epoch(batch, registry, tableDir, s"$src-$batchId",
          deltaThreshold = deltaThreshold,
          violations =
            if (rules.isEmpty) None else Some(Expectations.violations(batch, registry, rules)),
          transformUpdates = transformUpdates.map(f => f(batch.sparkSession, _)))
        Lineage.appendAll(batch.sparkSession, tableDir, applied.toSeq)
        if (applied.isDefined) onBatchCommitted.foreach(_(batch.sparkSession, batchId))
      }
      .start()
  }
}
