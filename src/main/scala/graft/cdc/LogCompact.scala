package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.decode.{ChangeEvent, Decode, Framing, Route}
import graft.registry.{DescriptorRegistry, SchemaKey}

/** CHANGELOG COMPACTION — Kafka-style log compaction for the replayable
  * binlog: keep, per key, only the newest event (by `seq`), so a consumer
  * bootstrapping from offset 0 replays O(live keys) events instead of
  * O(history). The reference processes each flowfile independently and has
  * no notion of a log, but any CDC deployment that retains its change log
  * indefinitely needs this: at 10^10 events with ~10^8 live keys the
  * compacted log is ~100× smaller and replays in ~1/100 the time while
  * producing the IDENTICAL final table state (the LWW merge only ever keeps
  * the max-seq row per key, so dropping dominated events is invisible
  * to it).
  *
  * Semantics (mirrors Kafka log cleaner contracts):
  *   - per (repo, path) key, the max-seq event survives VERBATIM — the
  *     payload bytes are never re-encoded, so downstream decode behavior
  *     (schema refs, field presence, round-trip byte equality) is
  *     untouched;
  *   - a key whose newest event is a DELETE keeps that tombstone (a fresh
  *     consumer must still learn the key is gone);
  *   - events that do NOT decode to route=success are kept verbatim too —
  *     compaction cannot key them, and dropping them would silently change
  *     the dead-letter contract of a replay;
  *   - every survivor keeps its ORIGINAL epoch, so epoch fencing, partition
  *     dirs, and resumability work on the compacted log exactly as on the
  *     full one (epochs whose every event was dominated simply vanish).
  *
  * SCOPE: the identical-final-state contract holds for PLAIN LWW replay
  * ([[Replay.replayLog]] and friends). It does NOT hold for
  * expectation-GATED replay ([[Expectations.replayWithExpectations]]):
  * rules fall back to a key's last CONFORMING version, and compaction
  * keeps only the max-seq version — if that one violates, the conforming
  * history it would have fallen back to is gone. Keep the full log for
  * rule-gated consumers; compact for LWW-complete ones.
  *
  * Scale shape: one decode pass over the log (the same distributed
  * mapPartitions decode replay itself uses), ONE shuffle on the key for the
  * per-key argmax, one shuffle join on (partition, offset) to carry the
  * surviving raw events — no driver-side state, no collect. The keyed
  * projection cached between the argmax and the stats is (key, seq, route)
  * only, never payloads. */
object LogCompact {

  final case class CompactLogStats(
      eventsIn: Long,
      eventsOut: Long,
      /** survivors whose op is DELETE — retained tombstones. */
      tombstonesKept: Long,
      /** non-success (undecodable / unresolvable-schema) events kept
        * verbatim. */
      undecodableKept: Long)

  /** Compact the parquet change log at `logDir` (epoch-partitioned, as
    * written by [[LogGen.writeLog]]) into `outDir` with the same layout.
    * Deterministic: seq ties (not produced by LogGen, but possible in a
    * merged log) break by (partition, offset) descending, so the survivor
    * set is a pure function of the log contents. */
  /** (slim key projection, keyed winners, surviving raw events) — the
    * shared selection both [[compactLog]] and the plan-review surface
    * build. `slim` is returned un-cached; compactLog caches it for its
    * multi-action run, [[selectionPlan]] explains `out` as-is. */
  private def selection(
      spark: SparkSession,
      logDir: String,
      registry: Option[DescriptorRegistry],
      framing: Framing.Value,
      slimCache: DataFrame => DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val log = spark.read.parquet(logDir)
    val ev = log
      .transform(Epoch.events)
    val reg = spark.sparkContext.broadcast(registry.getOrElse(Cdc.registry))
    val decoded = Decode.decode(ev, reg, SchemaKey(Cdc.SchemaId, -1), Cdc.MessageType, framing)

    // narrow projection: identity + key + seq + op + route — cached by the
    // caller so the decode pass runs once across argmax, stats, keep-set
    val slim = slimCache(decoded.select(
      col("partition"), col("offset"), col("route"),
      col("msg.repo").as("repo"), col("msg.path").as("path"),
      col("msg.seq").as("seq"), col("msg.op").as("op")))
    val w = Window.partitionBy("repo", "path")
      .orderBy(col("seq").desc, col("offset").desc, col("partition").desc)
    val winners = slim.filter(col("route") === Route.Success)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
    val keepRaw = slim.filter(col("route") =!= Route.Success).select("partition", "offset")
    val keep = winners.select("partition", "offset").unionByName(keepRaw)
    // LEFT SEMI, not inner: identical result (keep is unique per event) but
    // the planner always BUILDS the keep-set side — the raw log with its
    // payloads streams past it and is never the hashed/broadcast side
    // (an inner join here was observed to broadcast the LOG at small scale)
    (slim, winners, keepRaw, log.join(keep, Seq("partition", "offset"), "left_semi"))
  }

  /** The compaction's selection plan (decode → per-key argmax → identity
    * join back to the raw events), un-executed — the Explain/PLANS.md
    * review surface. */
  def selectionPlan(spark: SparkSession, logDir: String,
      registry: Option[DescriptorRegistry] = None,
      framing: Framing.Value = Framing.Raw): DataFrame =
    selection(spark, logDir, registry, framing, identity)._4

  def compactLog(
      spark: SparkSession,
      logDir: String,
      outDir: String,
      registry: Option[DescriptorRegistry] = None,
      framing: Framing.Value = Framing.Raw): CompactLogStats = {
    val (slim, winners, keepRaw, out) =
      selection(spark, logDir, registry, framing, _.cache())
    try {
      out.write.option("parquet.block.size", 16 * 1024 * 1024)
        .partitionBy("epoch").mode("overwrite").parquet(outDir)
      CompactLogStats(
        eventsIn = slim.count(),
        eventsOut = spark.read.parquet(outDir).count(),
        tombstonesKept = winners.filter(col("op") === "DELETE").count(),
        undecodableKept = keepRaw.count())
    } finally slim.unpersist()
  }
}
