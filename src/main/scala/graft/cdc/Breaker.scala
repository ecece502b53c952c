package graft.cdc

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.decode.Decode
import graft.lake.{IceLite, Merge}

/** POISON-BATCH CIRCUIT BREAKER — the safety valve between per-event
  * routing and the table. Dead-letter routing (q49) is the right answer
  * for the steady trickle of individually bad events; it is the WRONG
  * answer when an upstream deploy poisons a whole batch — silently
  * dead-lettering 60% of an epoch "succeeds" while quietly shipping a
  * mostly-empty epoch into the table and a flood into the DL store.
  * [[replayGuarded]] instead REFUSES any epoch whose non-success route
  * fraction exceeds the threshold: no merge, no dead-letter flush, a
  * quarantine marker under the table's `_quarantine/` recording the
  * verdict. Healthy epochs before and after apply normally (sequence-LWW
  * makes epoch order immaterial), so one poisoned batch never stalls the
  * pipeline. After the upstream fix an operator [[release]]s the epoch —
  * the normal decode/routing path, marker removed on success.
  *
  * The health check is a routes-only decode pass (no shuffle, payloads
  * never leave the scan); the merge pass runs only for healthy epochs.
  * At scale the check can ride the merge's Observation instead of a
  * second pass — kept separate here because refusal must happen before
  * any file is staged. */
object Breaker {

  final case class EpochVerdict(epoch: Long, total: Long, bad: Long,
      quarantined: Boolean)

  private[cdc] def qDir(tableDir: String) = Paths.get(tableDir, "_quarantine")
  private[cdc] def marker(tableDir: String, e: Long) =
    qDir(tableDir).resolve(s"epoch-$e.json")

  /** Epochs currently held in quarantine for this table. */
  def quarantined(tableDir: String): Seq[Long] = {
    val d = qDir(tableDir)
    if (!Files.exists(d)) return Seq.empty
    Files.list(d).iterator().asScala.map(_.getFileName.toString)
      .collect { case s if s.startsWith("epoch-") && s.endsWith(".json") =>
        s.stripPrefix("epoch-").stripSuffix(".json").toLong }
      .toSeq.sorted
  }

  private def events(spark: SparkSession, logDir: String, e: Long) =
    Epoch.events(spark.read.parquet(logDir).filter(col("epoch") === e))

  /** Replay every epoch of `logDir`, refusing any whose bad-route fraction
    * strictly exceeds `maxBadFraction` (an epoch AT the threshold applies —
    * the knob reads "tolerate up to this much"). */
  def replayGuarded(spark: SparkSession, logDir: String, tableDir: String,
      maxBadFraction: Double, buckets: Int = 32,
      namespace: String = "replay"): Seq[EpochVerdict] = {
    require(maxBadFraction >= 0.0 && maxBadFraction < 1.0,
      s"maxBadFraction must be in [0, 1): $maxBadFraction")
    if (!IceLite.exists(tableDir)) Replay.createTable(tableDir, buckets)
    val registry = spark.sparkContext.broadcast(Cdc.registry)
    val verdicts = Epoch.list(logDir).map { e =>
      val ev = events(spark, logDir, e)
      val counts = Decode.decode(ev, registry, Epoch.DefaultKey, Cdc.MessageType)
        .groupBy("route").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val total = counts.values.sum
      val bad = total - counts.getOrElse("success", 0L)
      if (total > 0 && bad.toDouble > maxBadFraction * total) {
        Files.createDirectories(qDir(tableDir))
        Files.write(marker(tableDir, e),
          s"""{"epoch":$e,"total":$total,"bad":$bad}""".getBytes("UTF-8"))
        (EpochVerdict(e, total, bad, quarantined = true), None)
      } else
        (EpochVerdict(e, total, bad, quarantined = false),
          Epoch(ev, registry, tableDir, s"$namespace-$e"))
    }
    Lineage.appendAll(spark, tableDir, verdicts.flatMap(_._2))
    verdicts.map(_._1)
  }

  /** Operator-confirmed release of a quarantined epoch: the NORMAL decode
    * path (good rows merge, bad rows dead-letter), marker removed after the
    * fenced commit. Idempotent — a fenced re-release only clears the
    * marker. */
  def release(spark: SparkSession, logDir: String, tableDir: String,
      epoch: Long, namespace: String = "replay"): Merge.MergeStats = {
    require(Files.exists(marker(tableDir, epoch)),
      s"epoch $epoch is not quarantined for $tableDir")
    val registry = spark.sparkContext.broadcast(Cdc.registry)
    val id = s"$namespace-$epoch"
    val applied = Epoch(events(spark, logDir, epoch), registry, tableDir, id)
    Lineage.appendAll(spark, tableDir, applied.toSeq)
    Files.deleteIfExists(marker(tableDir, epoch))
    Epoch.stats(id, applied)
  }
}
