package graft.cdc

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.decode.{ChangeEvent, Decode}
import graft.lake.IceLite
import graft.registry.DescriptorRegistry

/** INGEST-TIME ROW EXPECTATIONS — declarative CHECK constraints evaluated
  * on every decoded change event BEFORE it reaches the table, the
  * DLT-expectations / Delta-constraints shape. This closes the routing
  * taxonomy the reference opened (ProtobufProcessor.java:93-106): decode
  * failures route `error`, unresolvable schemas route `invalid_schema`
  * (both q49), and now SEMANTICALLY invalid rows — ones that decode fine
  * but violate a table contract — route `expectation`, keeping the
  * ORIGINAL payload + schema refs in the same self-contained dead-letter
  * store (so a retry after a rule fix follows [[Replay.retryDeadLetters]]'s
  * path). Distinct from [[graft.lake.Audit]] (q71), which gates a
  * WAP branch AFTER the write: expectations stop bad rows from ever
  * committing, per event, with per-rule attribution.
  *
  * Semantics: a rule is a SQL predicate over the decoded row; NULL or
  * false = violation (the Audit convention). Rules guard UPSERT rows
  * only — DELETE carries no payload to validate (and vetoing a delete
  * would resurrect data). A violating event is excluded from the merge,
  * so LWW falls back to the key's last CONFORMING version — the oracle
  * folds exactly that. Violations of several rules report every failed
  * rule name (comma-joined in declaration order).
  *
  * Shared path: every enforcing caller — batch replay, quarantine
  * release, rule retry and the streaming [[Tail]] — computes the
  * violating (partition, offset, failed_rules) set with [[violations]]
  * and hands it to [[Epoch.apply]], the one decode → MERGE sequence. There
  * the conforming events (the raw events anti-joined against the
  * violations) run the normal decode → keys pre-pass → MERGE, the
  * violations dead-letter with the ORIGINAL payload, and the epoch's
  * lineage row counts them under route `expectation`.
  *
  * Exactly-once: the merge fences per epoch as usual; a fenced epoch
  * writes no lineage row and its dead-letter flushes dedup by event
  * identity, so a replayed epoch neither re-merges nor duplicates its dead
  * letters.
  *
  * Scale shape: the rule pass is one decode + a narrow filter whose
  * violating projection is localCheckpointed — O(violations), and the
  * conforming side anti-joins the raw events against it (broadcast-size
  * in any healthy pipeline: violations ≫ events means the contract, not
  * the engine, is the problem). The gate pays a second decode for
  * composing the public operators unmodified; the fused form — rules
  * evaluated as a fourth route inside the decode pass — is the
  * single-decode production shape and changes nothing observable. */
object Expectations {

  /** name → SQL predicate over the decoded row (NULL/false = violation). */
  final case class Rule(name: String, predicate: String)

  final case class ExpectationStats(epochs: Int, violations: Long)

  /** Result of [[retryExpectations]]: `attempted` expectation dead letters
    * re-evaluated, `merged` rows (now conforming) applied to the table,
    * `remaining` still violating (kept with refreshed attribution). */
  final case class RetryStats(attempted: Long, applied: Boolean,
      merged: Long, remaining: Long)

  val Route = "expectation"

  /** (partition, offset, failed_rules) for every decoded UPSERT violating
    * ≥1 rule — comma-joined names in declaration order; NULL predicates
    * count as violations. */
  private[cdc] def violationsOf(decoded: DataFrame, rules: Seq[Rule]): DataFrame = {
    // FAIL CLOSED on v5 PATCH events: a rule can only be judged against
    // the POST-RESOLUTION row (pre-image + masked fields), which this
    // pre-merge gate cannot see — a PATCH sliding through unjudged would
    // let Merge.resolvePatches materialize contract-violating values while
    // the stats report zero violations. Until resolution-aware enforcement
    // exists, refuse loudly rather than silently bypass the contract.
    require(!decoded.columns.contains(graft.lake.Merge.PatchMaskCol) ||
        decoded.filter(col("op") === "PATCH").isEmpty,
      "ingest expectations cannot guard v5 PATCH events (a rule would " +
        "judge the sparse patch row, not the resolved one) — replay patch " +
        "logs without rules, or materialize patches before enforcement")
    val failCols = rules.map(r =>
      when(col("op") === "UPSERT" && !coalesce(expr(r.predicate), lit(false)),
        lit(r.name)))
    decoded
      .withColumn("failed_rules", concat_ws(",", array(failCols: _*)))
      .filter(col("failed_rules") =!= "")
      .select(col("partition"), col("offset"), col("failed_rules"))
  }

  /** The (partition, offset, failed_rules) violations of `rules` among
    * `events`, decoded under the default reader schema and pinned
    * (localCheckpoint) — the input [[Epoch.apply]] splits an epoch by. */
  private[cdc] def violations(events: Dataset[ChangeEvent],
      registry: Broadcast[DescriptorRegistry], rules: Seq[Rule]): DataFrame =
    violationsOf(Decode.success(
      Decode.decode(events, registry, Epoch.DefaultKey, Cdc.MessageType)), rules)
      .localCheckpoint()

  /** SELF-CONTAINED dead-letter rows for `viol` (route='expectation',
    * per-rule attribution, the ORIGINAL payload + schema refs joined back
    * from `originals` so [[Replay.retryDeadLetters]] can re-decode them
    * later). The ONE projection every enforcement path shares, so the
    * dead-letter store schema can never fork between them. */
  private[cdc] def letterRows(viol: DataFrame, originals: DataFrame): DataFrame =
    viol.join(
      originals.select("partition", "offset", "payload",
        "schemaId", "schemaVersion", "messageType"),
      Seq("partition", "offset"))
      .select(lit(Route).as("route"), col("failed_rules").as("error"),
        col("partition"), col("offset"), col("payload"),
        col("schemaId"), col("schemaVersion"), col("messageType"))

  /** Replay `logDir` into `tableDir` with `rules` enforced per event.
    *
    * `maxViolationFraction` is the epoch-level guard ([[Breaker]]'s
    * poison-batch logic applied to SEMANTIC badness): row-level
    * dead-lettering is right for a steady trickle of bad events and wrong
    * for a bad upstream deploy that floods an epoch — quietly
    * dead-lettering 90% of a batch "succeeds" while shipping a hollow
    * epoch and burying the incident in the DL store. When an epoch's
    * violating fraction of UPSERTs strictly exceeds the guard, the WHOLE
    * epoch is refused: no merge, no dead letters, a quarantine marker
    * under `_quarantine/` (shared with [[Breaker]] — `reason:
    * "expectation"` distinguishes it) for an operator to inspect and
    * [[releaseQuarantined]] under corrected rules. Healthy epochs before
    * and after apply normally (sequence-LWW makes epoch order
    * immaterial). */
  def replayWithExpectations(
      spark: SparkSession,
      logDir: String,
      tableDir: String,
      rules: Seq[Rule],
      buckets: Int = 8,
      namespace: String = "expect",
      maxViolationFraction: Option[Double] = None): ExpectationStats = {
    require(rules.nonEmpty, "no rules — use Replay.replayLog")
    if (!IceLite.exists(tableDir)) Replay.createTable(tableDir, buckets)
    val log = spark.read.parquet(logDir)
    val registry = spark.sparkContext.broadcast(Cdc.registry)
    val epochs = Epoch.list(logDir)
    val applied = epochs.flatMap { e =>
      val ev = Epoch.events(log.filter(col("epoch") === e))
      val viol = violations(ev, registry, rules)
      val guardTripped = maxViolationFraction.exists { f =>
        val nUpserts = Decode.success(
            Decode.decode(ev, registry, Epoch.DefaultKey, Cdc.MessageType))
          .filter(col("op") === "UPSERT").count()
        val nBad = viol.count()
        val tripped = nUpserts > 0 && nBad.toDouble > f * nUpserts
        if (tripped) {
          java.nio.file.Files.createDirectories(Breaker.qDir(tableDir))
          java.nio.file.Files.write(Breaker.marker(tableDir, e),
            s"""{"epoch":$e,"total":$nUpserts,"bad":$nBad,"reason":"expectation"}"""
              .getBytes("UTF-8"))
        }
        tripped
      }
      if (guardTripped) None
      else Epoch(ev, registry, tableDir, s"$namespace-$e", violations = Some(viol))
    }
    Lineage.appendAll(spark, tableDir, applied)
    ExpectationStats(epochs.length, applied.map(violated).sum)
  }

  /** Expectation-route count of an applied epoch's lineage entry. */
  private def violated(e: Lineage.Entry): Long = e.routes.getOrElse(Route, 0L)

  /** Operator-confirmed release of an expectation-quarantined epoch under
    * the CURRENT (presumably corrected) rules: the normal per-event split —
    * conforming rows merge at their true sequence, still-violating rows
    * dead-letter with route='expectation' — then the marker is removed.
    * The merge fences on the same `<namespace>-<epoch>` id the guarded
    * replay would have used, so release-after-partial-crash is
    * idempotent. */
  def releaseQuarantined(
      spark: SparkSession,
      logDir: String,
      tableDir: String,
      epoch: Long,
      rules: Seq[Rule],
      namespace: String = "expect"): ExpectationStats = {
    require(rules.nonEmpty, "no rules — use Breaker.release")
    require(java.nio.file.Files.exists(Breaker.marker(tableDir, epoch)),
      s"epoch $epoch is not quarantined for $tableDir")
    val registry = spark.sparkContext.broadcast(Cdc.registry)
    val ev = Epoch.events(spark.read.parquet(logDir).filter(col("epoch") === epoch))
    val applied = Epoch(ev, registry, tableDir, s"$namespace-$epoch",
      violations = Some(violations(ev, registry, rules)))
    Lineage.appendAll(spark, tableDir, applied.toSeq)
    java.nio.file.Files.deleteIfExists(Breaker.marker(tableDir, epoch))
    ExpectationStats(1, applied.map(violated).sum)
  }

  /** Retry expectation dead letters after the rules changed (relaxed, or
    * the contract was re-cut): re-evaluate `rules` against the KEPT
    * original payloads; now-conforming rows merge at their TRUE sequence
    * (so LWW ordering vs rows that arrived meanwhile is correct — the
    * [[Replay.retryDeadLetters]] late-retry property); still-violating
    * rows stay in the store with REFRESHED attribution (the failed-rule
    * set under the new rules, not the old ones). Decode-type dead letters
    * (route error/invalid_schema) are untouched — they need a registry
    * fix and [[Replay.retryDeadLetters]], not a rule change; that
    * operator symmetrically leaves `expectation` rows alone, so the two
    * retries compose in either order. Store rewrite is the same
    * stage-then-atomic-rename swap retryDeadLetters uses. */
  def retryExpectations(
      spark: SparkSession,
      tableDir: String,
      rules: Seq[Rule],
      epochTag: String): RetryStats = {
    require(rules.nonEmpty, "no rules — use Replay.retryDeadLetters for decode failures")
    val dld = s"$tableDir/_deadletter"
    val dldPath = java.nio.file.Paths.get(dld)
    if (!java.nio.file.Files.isDirectory(dldPath))
      return RetryStats(0, applied = false, 0, 0)
    // pin the store's contents before the directory is swapped out under it
    val dl = spark.read.parquet(dld).localCheckpoint()
    val exp = dl.filter(col("route") === Route)
    val attempted = exp.count()
    if (attempted == 0) return RetryStats(0, applied = false, 0, 0)
    val registry = spark.sparkContext.broadcast(Cdc.registry)
    val ev = Epoch.events(exp)
    val still = violations(ev, registry, rules)
    // the store is rewritten below, so the epoch appends no dead letters
    val applied = Epoch(ev, registry, tableDir, epochTag, deadLetters = false,
      violations = Some(still))
    Lineage.appendAll(spark, tableDir, applied.toSeq)
    // FENCED retry (a reused epochTag): the merge applied nothing, so the
    // store must stay untouched — rewriting it would destroy the now-
    // conforming rows unmerged. Retry under a fresh tag instead.
    if (applied.isEmpty) return RetryStats(attempted, applied = false, 0, attempted)
    // rebuild: decode-type rows untouched + still-violating expectation
    // rows with attribution refreshed to the CURRENT rule set
    val keep = dl.filter(col("route") =!= Route).unionByName(letterRows(still, exp))
      .localCheckpoint()
    val keepN = keep.count()
    val stage = java.nio.file.Paths.get(s"$tableDir/.deadletter-expret-$epochTag")
    val old = java.nio.file.Paths.get(s"$tableDir/.deadletter-expold-$epochTag")
    org.apache.commons.io.FileUtils.deleteQuietly(old.toFile)
    if (keepN > 0) {
      keep.write.mode("overwrite").parquet(stage.toString)
      java.nio.file.Files.move(dldPath, old, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      java.nio.file.Files.move(stage, dldPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      // everything consumed — an absent store is the normal empty state
      java.nio.file.Files.move(dldPath, old, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(old.toFile)
    RetryStats(attempted, applied = true, applied.get.batchRows, violated(applied.get))
  }
}
