package graft.cdc

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.lake.{IceLite, Merge}

/** MULTI-TABLE ATOMIC APPLY — one change log feeding SEVERAL tables (one
  * per source partition class: the classic "one topic, many entities" CDC
  * shape), where downstream consumers need cross-table consistency: an
  * epoch must become visible on ALL tables or none, even across a crash
  * between per-table commits.
  *
  * Protocol (presumed-redo, riding the tables' own epoch fencing):
  *   1. `intent-<e>.json` is staged and atomically renamed into the txn
  *      log BEFORE any table commit — it names the epoch, the participant
  *      tables, and the routing rule, everything recovery needs to redo.
  *   2. each participant applies its slice as a normal fenced MERGE with
  *      epoch id `txn-<e>` (idempotent: a re-run of a committed slice is a
  *      no-op).
  *   3. `done-<e>` is written LAST. Only done epochs are transactionally
  *      visible; [[committedEpochs]] is the read barrier consumers gate on.
  *
  * A crash anywhere leaves either (no intent → nothing happened), or
  * (intent, partial commits → [[recover]] REDOES the epoch; fenced
  * participants no-op, the rest apply) — the all-or-nothing guarantee is
  * eventual-all under redo, with visibility withheld until `done`. This is
  * exactly the write-ahead-intent pattern two-phase commit degenerates to
  * when every participant is idempotent.
  *
  * Routing: event → table by `partition % tables.length` — a metadata-only
  * rule (no decode needed to route), standing in for topic/entity routing.
  * Scale shape: per epoch, one decode pass per participant over ITS slice
  * (partition pruning pushes the filter into the scan), each slice's merge
  * is the ordinary O(batch) epoch apply. The txn log is O(epochs) tiny
  * JSON files on the driver — never a bottleneck. */
object Txn {

  final case class TxnStats(epoch: Long, perTable: Seq[Merge.MergeStats])

  private def intentPath(txnDir: String, e: Long) = Paths.get(txnDir, s"intent-$e.json")
  private def donePath(txnDir: String, e: Long) = Paths.get(txnDir, s"done-$e")

  /** Epochs whose transactions are complete — the consumer read barrier. */
  def committedEpochs(txnDir: String): Set[Long] = {
    val p = Paths.get(txnDir)
    if (!Files.isDirectory(p)) return Set.empty
    import scala.jdk.CollectionConverters._
    Files.list(p).iterator().asScala.map(_.getFileName.toString)
      .collect { case s if s.startsWith("done-") => s.stripPrefix("done-").toLong }
      .toSet
  }

  /** Intents with no done marker — what [[recover]] will redo. */
  def pendingEpochs(txnDir: String): Vector[Long] = {
    val p = Paths.get(txnDir)
    if (!Files.isDirectory(p)) return Vector.empty
    import scala.jdk.CollectionConverters._
    val done = committedEpochs(txnDir)
    Files.list(p).iterator().asScala.map(_.getFileName.toString)
      .collect { case s if s.startsWith("intent-") =>
        s.stripPrefix("intent-").stripSuffix(".json").toLong }
      .filterNot(done).toVector.sorted
  }

  private def writeIntent(txnDir: String, e: Long, tables: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(txnDir))
    val stage = Paths.get(txnDir, s".intent-$e.json.tmp")
    val json = s"""{"epoch":$e,"tables":[${tables.map(t => s""""$t"""").mkString(",")}]}"""
    Files.write(stage, json.getBytes("UTF-8"))
    Files.move(stage, intentPath(txnDir, e),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The participant list a prior (possibly crashed) attempt RECORDED —
    * routing is positional (`partition % tables.length`), so recovery must
    * redo with exactly this list, never the caller's. */
  private def readIntentTables(txnDir: String, e: Long): Option[Seq[String]] = {
    val p = intentPath(txnDir, e)
    if (!Files.exists(p)) return None
    val json = new String(Files.readAllBytes(p), "UTF-8")
    val arr = """"tables":\[([^\]]*)\]""".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalStateException(s"corrupt intent $p: $json"))
      .group(1)
    Some(""""([^"]*)"""".r.findAllMatchIn(arr).map(_.group(1)).toSeq)
  }

  /** Apply one epoch of the log to every participant atomically.
    * `crashPoint` is a test seam, called with "intent-<e>" after the
    * intent lands and "committed-<e>-<i>" after each table's commit. */
  def applyEpoch(spark: SparkSession, logDir: String, txnDir: String,
      tables: Seq[String], epoch: Long, buckets: Int = 8,
      crashPoint: String => Unit = _ => ()): TxnStats = {
    require(tables.nonEmpty, "need at least one participant table")
    if (committedEpochs(txnDir).contains(epoch))
      return TxnStats(epoch, Nil) // fully fenced
    // a surviving intent GOVERNS: routing is positional, so a recovery
    // called with a different table order/count would mis-route slices
    // onto already-fenced participants (events applied to no table at
    // all) — redo must use exactly the recorded participants
    val routed: Seq[String] = readIntentTables(txnDir, epoch) match {
      case Some(recorded) => recorded
      case None => writeIntent(txnDir, epoch, tables); tables
    }
    routed.foreach(t => if (!IceLite.exists(t)) Replay.createTable(t, buckets))
    crashPoint(s"intent-$epoch")

    val log = spark.read.parquet(logDir)
    val registry = spark.sparkContext.broadcast(Cdc.registry)
    val n = routed.length
    val stats = routed.zipWithIndex.map { case (dir, i) =>
      val ev = Epoch.events(
        log.filter(col("epoch") === epoch && pmod(col("partition"), lit(n)) === i))
      // dead letters and the ledger row go to the slice's own table, like
      // every other replay path; the row lands with the commit, before the
      // crash seam, so a redo (fenced) never writes a second one
      val applied = Epoch(ev, registry, dir, s"txn-$epoch")
      Lineage.appendAll(spark, dir, applied.toSeq)
      crashPoint(s"committed-$epoch-$i")
      Epoch.stats(s"txn-$epoch", applied)
    }
    // the done marker pins each participant's snapshot VERSION at commit
    // time — [[consistentRead]]'s cross-table cut. Staged + renamed so a
    // reader never sees a half-written marker.
    val versions = routed.map(t => t -> IceLite.load(t).version)
    val doneJson = s"""{"epoch":$epoch,"versions":{${versions
      .map { case (t, v) => s""""$t":$v""" }.mkString(",")}}}"""
    val stage = Paths.get(txnDir, s".done-$epoch.tmp")
    Files.write(stage, doneJson.getBytes("UTF-8"))
    Files.move(stage, donePath(txnDir, epoch),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    TxnStats(epoch, stats)
  }

  /** Transactionally-consistent snapshots: each participant pinned at the
    * version recorded by the NEWEST done epoch — a reader holding these
    * never observes a half-applied transaction, even while an apply (or a
    * recovery) is racing ahead on the raw table heads. Tables default to
    * their empty create version (0) before any transaction completes. */
  def consistentRead(txnDir: String, tables: Seq[String]): Seq[(String, IceLite.Snapshot)] = {
    val done = committedEpochs(txnDir)
    val pinned: Map[String, Int] =
      if (done.isEmpty) Map.empty
      else {
        val newest = done.max
        val json = new String(Files.readAllBytes(donePath(txnDir, newest)), "UTF-8")
        // minimal parse of {"epoch":N,"versions":{"<dir>":V,...}} — dirs
        // never contain quotes; legacy empty done markers pin nothing
        val m = """"([^"]+)":(\d+)""".r
        m.findAllMatchIn(json).collect {
          case g if g.group(1) != "epoch" => g.group(1) -> g.group(2).toInt
        }.toMap
      }
    tables.map { t =>
      t -> pinned.get(t).map(v => IceLite.loadVersion(t, v)).getOrElse {
        val snap = IceLite.load(t)
        if (snap.version == 0) snap else IceLite.loadVersion(t, 0)
      }
    }
  }

  /** Apply every epoch of the log in order, completing any pending
    * transaction first (crash recovery). Idempotent end to end. */
  def applyLog(spark: SparkSession, logDir: String, txnDir: String,
      tables: Seq[String], buckets: Int = 8,
      crashPoint: String => Unit = _ => ()): Seq[TxnStats] = {
    val pending = pendingEpochs(txnDir)
    val epochs = Epoch.list(logDir)
    (pending ++ epochs.filterNot(pending.contains)).distinct.sorted.map { e =>
      applyEpoch(spark, logDir, txnDir, tables, e, buckets, crashPoint)
    }
  }

  /** Complete every pending transaction (redo; fenced slices no-op). */
  def recover(spark: SparkSession, logDir: String, txnDir: String,
      tables: Seq[String], buckets: Int = 8): Seq[TxnStats] =
    pendingEpochs(txnDir).map(e =>
      applyEpoch(spark, logDir, txnDir, tables, e, buckets))
}
