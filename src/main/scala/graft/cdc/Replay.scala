package graft.cdc

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.decode.{ChangeEvent, Decode, Framing, RouteStatsAccumulator, SparkSchema}
import graft.lake.{IceLite, Merge}
import graft.registry.{DescriptorRegistry, SchemaKey}

/** Batch replay of a change log into an IceLite table — the epoch loop
  * over [[Epoch.apply]]'s decode → MERGE (SURVEY.md §3.4) — plus the
  * decode-for-merge shaping that apply (and the oracle folds) share. */
object Replay {

  /** The v2 envelope's data fields, for tests and docs. The merge
    * projection does NOT use this list — it derives data columns from the
    * reader descriptor, so a grown registry (e.g. v3's size_bytes, q105)
    * flows through without touching it. */
  val dataColNames = Seq("repo", "path", "commit", "lang", "content", "author")

  /** Initialize the target table from the v1 descriptor-derived schema
    * (columns carry proto field numbers as field IDs). */
  def createTable(dir: String, buckets: Int): IceLite.Snapshot = {
    val fs = Cdc.fsV1
    val desc = fs.findMessage(Cdc.MessageType).get
    val struct = SparkSchema.structFor(fs, desc)
    val cols = IceLite.colDefsOf(struct).filter(c => Seq("repo", "path", "commit", "lang", "content").contains(c.name))
    IceLite.create(dir, IceLite.withCdcCols(cols), Vector("repo", "path"), buckets)
  }

  /** A decoded batch ready to MERGE: update rows, the lazy dead-letter
    * flush, and the (partition, route) lineage counters that ride the merge
    * action itself (read them AFTER the merge). */
  final case class DecodedBatch(
      updates: DataFrame,
      /** Persist this batch's dead letters; call after the merge with
        * whether it applied. An applied merge counted the non-success rows
        * on `routeStats` during its own action. A FENCED merge never
        * consumed `updates`, so the counter stays empty: the count pays one
        * direct decode pass instead. A crashed prior attempt may already
        * have flushed; the write dedups by event identity, and a crash
        * between its commit and its flush can no longer LOSE letters.
        * Returns the non-success row count. */
      flushDeadLetters: Boolean => Long,
      routeStats: RouteStatsAccumulator)

  /** Decode one epoch's events and shape them for the MERGE: data columns
    * (with field-ID metadata) + seq + op.
    *
    * Dead letters cost ZERO extra decode passes in the happy path: the
    * route counter on the decode (the one lineage reads) counts non-success
    * rows during the merge's own action; only when that count is > 0 does
    * the flush re-run decode to persist the dead letters. */
  def decodeForMerge(
      events: Dataset[ChangeEvent],
      registry: Broadcast[DescriptorRegistry],
      deadLetterDir: Option[String],
      framing: Framing.Value = Framing.Raw): DecodedBatch = {

    val defaultKey = Epoch.DefaultKey
    val acc = new RouteStatsAccumulator
    events.sparkSession.sparkContext.register(acc, "graft.decode.routeStats")
    def decodeAll() = Decode.decode(events, registry, defaultKey, Cdc.MessageType, framing)
    val decoded = Decode.decode(events, registry, defaultKey, Cdc.MessageType, framing,
      stats = Some(acc))

    def writeLetters(dld: String): Unit = {
      // SELF-CONTAINED store: the schema refs ride along with the kept
      // original payload (the reference keeps the flowfile's attributes
      // with the routed original, ProtobufProcessor.java:93-106), so a
      // later [[Replay.retryDeadLetters]] can re-decode after a registry
      // fix without the source log.
      Epoch.appendDeadLetters(dld, Decode.deadLetter(decodeAll())
        .join(events.toDF().select("partition", "offset", "schemaId", "schemaVersion", "messageType"),
          Seq("partition", "offset")))
    }
    val flushDeadLetters: Boolean => Long = merged => {
      val bad =
        if (merged) (acc.byRoute - graft.decode.Route.Success).values.sum
        else Decode.deadLetter(decodeAll()).count()
      if (bad > 0L) deadLetterDir.foreach(writeLetters)
      bad
    }

    val ok = Decode.success(decoded)
    // select("msg.*") drops struct-field metadata, so re-attach the proto
    // field numbers as graft.fieldId — the IceLite evolution identity.
    // Data columns come from the READER descriptor itself (every field
    // except the seq/op envelope), so a registry that grows a new field
    // (e.g. v3's size_bytes, q105) flows through the merge and triggers
    // IceLite add/widen evolution — no hardcoded column list.
    val latest = registry.value.resolveKey(defaultKey)
    val readerFields = registry.value.descriptor(latest, Cdc.MessageType).get._2
      .fieldsInNumberOrder
    val fieldIds = readerFields.map(f => f.name -> f.number).toMap
    val avail = ok.columns.toSet
    // `changed_fields` is ENVELOPE, not data: it is the v5 PATCH mask
    // (Merge.resolvePatches consumes and drops it), never a table column
    val envelope = Seq("seq", "op", Merge.PatchMaskCol)
    val cols = readerFields.map(_.name).filterNot(envelope.contains)
      .filter(avail.contains).map { c =>
        col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
          .putLong(SparkSchema.FieldIdKey, fieldIds(c).toLong).build())
      } ++ Seq(col("seq"), col("op")) ++
      (if (fieldIds.contains(Merge.PatchMaskCol) && avail(Merge.PatchMaskCol))
        Seq(col(Merge.PatchMaskCol)) else Nil)
    DecodedBatch(ok.select(cols: _*), flushDeadLetters, acc)
  }

  final case class ReplayResult(epochs: Int, stats: Seq[Merge.MergeStats])

  /** Replay a parquet change log (written by LogGen.writeLog, partitioned by
    * `epoch`) into the table. Resumable: epochs already in the snapshot are
    * fenced no-ops, so re-running from 0 is idempotent. */
  def replayLog(
      spark: SparkSession,
      logDir: String,
      tableDir: String,
      buckets: Int = 32,
      framing: Framing.Value = Framing.Raw,
      /** keys-only pre-pass for touched-bucket pruning; turn off for large
        * batches that touch every bucket anyway (saves one payload scan). */
      pruneBuckets: Boolean = true,
      /** get-or-load escape hatch (mirrors the reference resolving schema
        * files named per record, ProtobufService.java:85-87, without the
        * per-record cost): when set, (schemaId, version) pairs referenced by
        * the log but absent from the registry are loaded from this directory
        * (files named `<schemaId>-v<version>.desc` / `.proto`) on the DRIVER
        * before the broadcast — executors never do I/O for schemas. */
      schemaDir: Option[String] = None,
      /** passthrough to [[Merge.mergeEpoch]]'s merge-on-read policy; gates
        * that need a structurally delta-heavy table raise it so no bucket
        * compacts inline regardless of task-count-dependent file counts. */
      deltaThreshold: Int = 8,
      /** fence namespace: epoch ids commit as `<namespace>-<epoch>`. Two
        * DIFFERENT logs feeding one table (e.g. a backfill log replayed
        * onto a WAP branch of a table that already consumed the main log)
        * must use distinct namespaces, or the second log's epoch numbers
        * fence against the first's. */
      namespace: String = "replay",
      /** registry to decode against (default: the built-in CDC registry).
        * An INCOMPLETE registry routes the unresolvable events to the
        * dead-letter store instead of failing — pair with
        * [[retryDeadLetters]] once the missing schema lands. */
      baseRegistry: Option[graft.registry.DescriptorRegistry] = None,
      /** per-epoch rewrite of the raw event frame BEFORE decode — the hook
        * transport-level concerns plug into (e.g.
        * [[ClaimCheck.resolver]] re-inlining out-of-line payloads). Runs
        * inside the epoch's plan, so whatever it joins/derives fuses with
        * the decode scan instead of materializing a resolved copy. */
      eventTransform: Option[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = None): ReplayResult = {
    if (!IceLite.exists(tableDir)) createTable(tableDir, buckets)

    // ONE relation (file listing + schema) reused across epochs — a fresh
    // spark.read.parquet per epoch costs a serial driver job each time
    val log = spark.read.parquet(logDir)

    val reg0 = baseRegistry.getOrElse(Cdc.registry)
    val reg = schemaDir match {
      case Some(dir) =>
        // cheap columnar scan (payload never read) for referenced keys
        val seen = log.select("schemaId", "schemaVersion").distinct().collect()
          .map(r => SchemaKey(r.getString(0), r.getInt(1)))
        reg0.withLoadedFrom(java.nio.file.Paths.get(dir), seen.toSeq)
      case None => reg0
    }
    val registry = spark.sparkContext.broadcast(reg)

    val applied = Epoch.list(logDir).map { e =>
      val raw = log.filter(col("epoch") === e) // partition-dir prune
      // namespaced fence id: replay partition numbers can never collide with
      // a streaming tail's batchIds on the same table
      val id = s"$namespace-$e"
      id -> Epoch(Epoch.events(eventTransform.fold(raw)(_(raw))), registry, tableDir, id,
        framing, pruneBuckets, deltaThreshold)
    }
    // one ledger write per replay; fenced (already-committed) epochs did no
    // work and write no (misleading) rows
    Lineage.appendAll(spark, tableDir, applied.flatMap(_._2))
    ReplayResult(applied.length, applied.map((Epoch.stats _).tupled))
  }

  /** SELECTIVE REPLAY — rebuild one key slice (a tenant, a hot repo) from
    * the log WITHOUT full-decoding everything else: a keys-only decode
    * pass ([[Decode.decodeKeysWithId]] — every non-key field wire-skipped,
    * payload bodies never materialized) finds the matching events per
    * epoch, then only those events run the full decode → MERGE path. The
    * match set is broadcast back against the raw log by (partition,
    * offset) — selective by contract (a predicate matching most of the
    * log should use [[replayLog]]; this is the path for the slice
    * rebuild where full decode of a 100 TB log to recover one key range
    * would be the dominant cost).
    *
    * The target table holds ONLY the slice — fence namespace per epoch as
    * usual, so re-running is a no-op and the slice table supports every
    * normal read path. */
  def replaySelective(
      spark: SparkSession,
      logDir: String,
      tableDir: String,
      predicateSql: String,
      keyFields: Seq[String] = Seq("repo", "path"),
      buckets: Int = 32,
      namespace: String = "selective",
      framing: Framing.Value = Framing.Raw): ReplayResult = {
    if (!IceLite.exists(tableDir)) createTable(tableDir, buckets)
    val log = spark.read.parquet(logDir)
    val registry = spark.sparkContext.broadcast(Cdc.registry)
    val applied = Epoch.list(logDir).map { e =>
      val raw = log.filter(col("epoch") === e)
      val ids = Decode.decodeKeysWithId(Epoch.events(raw), registry,
          Epoch.DefaultKey, Cdc.MessageType, keyFields, framing)
        .filter(expr(predicateSql))
        .select("partition", "offset").distinct()
      // re-apply the predicate post-decode: under VarintDelimited framing a
      // (partition, offset) names a whole SEGMENT of inner messages, so the
      // id join admits every message sharing a segment with a match — the
      // slice table must hold ONLY predicate rows, not their neighbors
      val id = s"$namespace-$e"
      id -> Epoch(Epoch.events(raw.join(broadcast(ids), Seq("partition", "offset"))),
        registry, tableDir, id, framing, deadLetters = false,
        transformUpdates = Some(_.filter(expr(predicateSql))))
    }
    Lineage.appendAll(spark, tableDir, applied.flatMap(_._2))
    ReplayResult(applied.length, applied.map((Epoch.stats _).tupled))
  }

  /** MULTI-WRITER INGEST — replay several change logs into ONE table
    * CONCURRENTLY (one writer thread per log) under optimistic concurrency
    * at the snapshot layer. Benign races (two delta-append commits
    * interleaving) rebase inside the commit CAS loop; a GENUINE validation
    * conflict — another writer COW-compacted or rewrote a bucket this
    * epoch touches, or purged delta files its LWW depends on — aborts the
    * merge with ConcurrentModificationException, and the epoch is RE-RUN
    * against the fresh snapshot (Iceberg's validation-then-retry
    * protocol; the aborted attempt's staged files become vacuum-swept
    * orphans). The final state is interleaving-independent: merges are
    * seq-LWW order-independent across epochs (the q92 out-of-order
    * contract), fences are per-namespace, and dead-letter and ledger
    * appends are serialized per table ([[Epoch.appendLocked]]). Namespaces
    * MUST be distinct per log or the writers would fence each other's
    * epoch numbers. Returns per-log results plus the total conflict-retry
    * count (usually 0 — the bound exists so a pathological livelock
    * fails loudly instead of spinning). */
  def replayLogsConcurrent(
      spark: SparkSession,
      logs: Seq[(String, String)],
      tableDir: String,
      buckets: Int = 32,
      framing: Framing.Value = Framing.Raw,
      deltaThreshold: Int = 8,
      maxRetriesPerEpoch: Int = 20): (Seq[ReplayResult], Int) = {
    require(logs.map(_._2).distinct.size == logs.size,
      s"fence namespaces must be distinct, got ${logs.map(_._2)}")
    if (!IceLite.exists(tableDir)) createTable(tableDir, buckets)
    val registry = spark.sparkContext.broadcast(Cdc.registry)
    val retries = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(logs.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val futures = logs.map { case (logDir, ns) =>
        scala.concurrent.Future {
          val log = spark.read.parquet(logDir)
          val applied = Epoch.list(logDir).map { e =>
            val ev = Epoch.events(log.filter(col("epoch") === e))
            val id = s"$ns-$e"
            // a conflict aborts the whole epoch: re-run it from the decode,
            // so the retry carries fresh lineage counters, not the sum of
            // both attempts
            var attempt = 0
            var done: Option[Option[Lineage.Entry]] = None
            while (done.isEmpty) {
              try done = Some(Epoch(ev, registry, tableDir, id, framing,
                deltaThreshold = deltaThreshold))
              catch {
                case cme: java.util.ConcurrentModificationException =>
                  attempt += 1
                  retries.incrementAndGet()
                  if (attempt > maxRetriesPerEpoch)
                    throw new IllegalStateException(
                      s"epoch $id: conflict retry limit ($maxRetriesPerEpoch) exceeded", cme)
              }
            }
            id -> done.get
          }
          (ReplayResult(applied.length, applied.map((Epoch.stats _).tupled)), applied.flatMap(_._2))
        }
      }
      val settled = futures.map(f =>
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
      Lineage.appendAll(spark, tableDir, settled.flatMap(_._2))
      (settled.map(_._1), retries.get())
    } finally pool.shutdown()
  }

  /** SNAPSHOT BOOTSTRAP — how a CDC consumer attaches to a table that
    * already exists: bulk-load a consistent snapshot dump (every live row
    * with the sequence it was valid at) as ONE fenced epoch, then point
    * [[replayLog]] at the change log from around the cut. The handoff
    * tolerates OVERLAP (at-least-once delivery): a re-delivered event at or
    * below its key's snapshot sequence ties with / loses to the snapshot
    * row under the LWW merge, so replaying from before the cut is safe —
    * no offset bookkeeping has to be exact, which is what makes bootstrap
    * operationally survivable at 10^10 rows.
    *
    * `snapshot` carries the data columns plus `seqCol`; field ids are
    * pinned from the registry's latest descriptor (same identity the
    * decode path writes), so later log epochs evolve the schema
    * consistently. */
  /** Pin the registry's proto field numbers onto `dataCols` as Spark
    * field-ID metadata (the identity the merge path evolves columns by);
    * refuses columns the registry's message doesn't know. Shared by every
    * path that feeds externally-shaped rows into a merge (bootstrap,
    * replication, anti-entropy repair). */
  private[graft] def pinnedDataCols(dataCols: Seq[String],
      /** (name → field id) from the SOURCE TABLE's schema — authoritative
        * for columns the default registry's message doesn't know (the
        * source consumed an evolved v3+ log, or a rename was applied).
        * Without it, replication would throw on every evolved column. */
      sourceFieldIds: Map[String, Int] = Map.empty): Seq[org.apache.spark.sql.Column] = {
    val latest = Cdc.registry.resolveKey(Epoch.DefaultKey)
    val fromRegistry = Cdc.registry.descriptor(latest, Cdc.MessageType).get._2
      .fields.map(f => f.name -> f.number).toMap
    // the source table's ids win: they ARE the field numbers the decode
    // path stamped (same identity), and they track evolution/renames
    val fieldIds = fromRegistry ++ sourceFieldIds
    dataCols.map { c =>
      require(fieldIds.contains(c),
        s"column '$c' has no field id: not in the registry's " +
          s"${Cdc.MessageType} and no source-schema ids supplied")
      col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
        .putLong(SparkSchema.FieldIdKey, fieldIds(c).toLong).build())
    }
  }

  def bootstrap(
      spark: SparkSession,
      snapshot: org.apache.spark.sql.DataFrame,
      seqCol: String,
      tableDir: String,
      buckets: Int = 32,
      epochId: String = "bootstrap-0",
      sourceFieldIds: Map[String, Int] = Map.empty): Merge.MergeStats = {
    if (!IceLite.exists(tableDir)) createTable(tableDir, buckets)
    val dataCols = snapshot.columns.filterNot(_ == seqCol).toIndexedSeq
    val batch = snapshot.select(
      pinnedDataCols(dataCols, sourceFieldIds) ++
        Seq(col(seqCol), lit("UPSERT").as("__op")): _*)
    Merge.mergeEpoch(spark, tableDir, batch, seqCol, "__op", epochId)
  }

  /** One CHUNK of a DBLog-style incremental snapshot: copy the source's
    * CURRENT live rows in `srcBuckets` — original sequences preserved,
    * scan bucket-pruned to the chunk (O(chunk), never O(table)) — into
    * the replica as one fenced epoch (`chunk-<id>`). Chunks are taken at
    * DIFFERENT source versions while the source keeps committing; with
    * the change feed shipped from the FIRST chunk's version
    * ([[applyChanges]]) the replica still converges, because LWW on
    * original sequences makes chunk/feed interleaving commutative — the
    * DBLog chunk-watermark argument (Andradinata et al., "DBLog: A
    * Watermark Based Change-Data-Capture Framework", 2020) expressed as
    * merge algebra on a merge-capable sink instead of a low/high
    * watermark bracket over a quiesced select. No source pause, no
    * global lock, no exact offset bookkeeping. Returns the source
    * version the chunk saw plus the merge stats. */
  def bootstrapChunk(
      spark: SparkSession,
      srcDir: String,
      replicaDir: String,
      srcBuckets: Set[Int],
      chunkId: Int,
      buckets: Int = 32): (Int, Merge.MergeStats) = {
    val snap = IceLite.load(srcDir)
    val dataCols = snap.currentSchema.filterNot(_.hidden).map(_.name)
    val rows = IceLite.read(spark, snap, f => srcBuckets(f.bucket), includeHidden = true)
      .filter(!coalesce(col(IceLite.DelCol.name), lit(false)))
      .select(dataCols.map(col) :+ col(IceLite.SeqCol.name).as("__snap_seq"): _*)
    (snap.version,
      bootstrap(spark, rows, "__snap_seq", replicaDir, buckets, s"chunk-$chunkId",
        sourceFieldIds = snap.currentSchema.filterNot(_.hidden)
          .map(c => c.name -> c.id).toMap))
  }

  /** CHANGE-FEED REPLICATION — apply another table's incremental change
    * feed ([[graft.lake.IceLite.changes]] rows: data cols + `__seq` +
    * `__del`) to THIS table as one fenced epoch. With [[bootstrap]] this
    * closes the replication loop: seed a replica from a snapshot export,
    * then keep it converged by shipping each source version's feed —
    * O(changes) per hop, original sequences preserved (so hops may
    * overlap or arrive late, the LWW merge absorbs both), and the fence
    * (`repl-<v>`) makes re-shipping a version a no-op. The replica's
    * bucket count / layout is independent of the source's — replication
    * is logical, not file copying. */
  def applyChanges(
      spark: SparkSession,
      feed: org.apache.spark.sql.DataFrame,
      tableDir: String,
      epochId: String,
      buckets: Int = 32,
      /** (name → field id) from the source table's schema — required for
        * columns the default registry doesn't know (evolved/renamed). */
      sourceFieldIds: Map[String, Int] = Map.empty,
      /** caller-known feed row estimate (e.g. IceLite.changesRowEstimate)
        * for the merge's scale-adaptive task sizing. */
      feedRowsHint: Option[Long] = None): Merge.MergeStats = {
    if (!IceLite.exists(tableDir)) createTable(tableDir, buckets)
    val dataCols = feed.columns
      .filterNot(c => c == IceLite.SeqCol.name || c == IceLite.DelCol.name)
      .toIndexedSeq
    val batch = feed.select(
      pinnedDataCols(dataCols, sourceFieldIds) ++
        Seq(col(IceLite.SeqCol.name).as("__sq"),
          when(coalesce(col(IceLite.DelCol.name), lit(false)), "DELETE")
            .otherwise("UPSERT").as("__op")): _*)
    Merge.mergeEpoch(spark, tableDir, batch, "__sq", "__op", epochId,
      batchRowsHint = feedRowsHint)
  }

  /** Catch a replica up to the source head: the replica's own `repl`
    * ledger namespace IS the replication watermark (atomic with the data,
    * same design as MatView/Scd2), so this is safe to run from cron —
    * each unapplied source version ships as one fenced epoch, adjacent
    * windows so per-epoch change granularity is preserved. Returns the
    * number of versions shipped. */
  def replicate(spark: SparkSession, srcDir: String, replicaDir: String,
      buckets: Int = 32): Int = {
    val srcSnap = IceLite.load(srcDir)
    val head = srcSnap.version
    // evolved/renamed source columns carry their field ids in the SOURCE
    // schema — without this the hardcoded registry refuses them forever
    val srcIds = srcSnap.currentSchema.filterNot(_.hidden)
      .map(c => c.name -> c.id).toMap
    val from =
      if (!IceLite.exists(replicaDir)) -1
      else {
        // resume at the end of the CONTIGUOUS applied prefix: max(applied)
        // would silently skip gap versions below an out-of-band
        // applyChanges, and those versions' keys would diverge forever
        val led = IceLite.load(replicaDir).ledger
        var v = -1L
        while (led.contains(s"repl-${v + 1}")) v += 1
        v.toInt
      }
    // a fresh replica ships "repl-0" (the empty create window) first, so
    // the ledger watermark is 0-anchored and compacts to one number
    // instead of accumulating every version in the `recent` set forever.
    // Already-fenced versions are skipped BEFORE building their change
    // window — their source snapshots may be expired by now.
    val fenced = if (IceLite.exists(replicaDir))
      Some(IceLite.load(replicaDir).ledger) else None
    (from + 1 to head).count { v =>
      if (fenced.exists(_.contains(s"repl-$v"))) false
      else applyChanges(spark,
        IceLite.changes(spark, srcDir, math.max(0, v - 1), v),
        replicaDir, s"repl-$v", buckets, sourceFieldIds = srcIds,
        feedRowsHint = Some(
          IceLite.changesRowEstimate(srcDir, math.max(0, v - 1), v))).applied
    }
  }

  final case class RetryStats(attempted: Long, applied: Boolean,
      merged: Long, remaining: Long)

  /** DEAD-LETTER RETRY — closes the loop the three-route contract opens:
    * the store keeps each failed event's ORIGINAL payload plus its schema
    * refs, so once the failure cause is fixed (typically: the registry
    * gains the schema version the events were encoded with), the dead
    * letters re-decode and MERGE into the table as one fenced epoch.
    *
    * Ordering is free: `seq` travels INSIDE the payload, so a retried
    * event merges at its true sequence — the LWW fold converges to exactly
    * the state it would have reached had the event never failed, even when
    * later epochs were already applied (a retried stale version loses to
    * them, a retried newest version wins).
    *
    * Rows that STILL fail (e.g. genuinely corrupt payloads) stay in the
    * store with their fresh route/error; consumed rows leave. The rewrite
    * swaps move-before-delete (the superseded store survives a crash as
    * `.deadletter-old-<tag>` — duplicates are recoverable, an empty store
    * is not), and the MERGE fence makes a replayed retry idempotent.
    *
    * `expectation`-route rows ([[Expectations]], q184) are NOT retried
    * here and pass through the store rewrite untouched: they decode FINE —
    * a decode retry would re-merge contract-violating rows and silently
    * bypass the table's rules. They are retried by rule re-evaluation
    * ([[Expectations.retryExpectations]]), which symmetrically leaves
    * decode-type rows alone; the two retries compose in either order. */
  def retryDeadLetters(
      spark: SparkSession,
      tableDir: String,
      registry: Broadcast[DescriptorRegistry],
      epochTag: String,
      framing: Framing.Value = Framing.Raw): RetryStats = {
    val dld = s"$tableDir/_deadletter"
    val dldPath = java.nio.file.Paths.get(dld)
    if (!java.nio.file.Files.isDirectory(dldPath))
      return RetryStats(0, applied = false, 0, 0)
    // pin the store's contents before the directory is swapped out under it
    val all = spark.read.parquet(dld).localCheckpoint()
    // expectation rows decode fine — retrying them here would bypass the
    // table's rules; they ride through the rewrite untouched
    val dl = all.filter(col("route") =!= Expectations.Route)
    val expKept = all.filter(col("route") === Expectations.Route)
    val attempted = dl.count()
    if (attempted == 0) return RetryStats(0, applied = false, 0, 0)
    val ev = Epoch.events(dl)
    // the keys pre-pass runs with the FIXED registry: still-failing
    // payloads yield no key row (and no update row)
    val applied = Epoch(ev, registry, tableDir, epochTag, framing, deadLetters = false)
    Lineage.appendAll(spark, tableDir, applied.toSeq)
    // FENCED retry (a reused epochTag) must leave the store UNTOUCHED: the
    // merge applied nothing, so rewriting the store would destroy every
    // now-decodable row unmerged — the one unrecoverable outcome. The
    // caller gets applied=false and retries under a fresh tag.
    if (applied.isEmpty) return RetryStats(attempted, applied = false, 0, attempted)
    // still-failing rows keep their (kept-original) payload + schema refs
    val still = Decode.deadLetter(
        Decode.decode(ev, registry, Epoch.DefaultKey, Cdc.MessageType, framing))
      .join(dl.select("partition", "offset", "schemaId", "schemaVersion", "messageType"),
        Seq("partition", "offset"))
      .localCheckpoint()
    val remaining = still.count()
    val keep = still.unionByName(expKept.select(still.columns.map(col): _*))
    val keepN = remaining + expKept.count()
    val stage = java.nio.file.Paths.get(s"$tableDir/.deadletter-retry-$epochTag")
    val old = java.nio.file.Paths.get(s"$tableDir/.deadletter-old-$epochTag")
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
    RetryStats(attempted, applied = true, applied.get.batchRows, remaining)
  }

  /** The oracle fold (FIXTURES.md §C): expected final state computed directly
    * from the decoded log with plain Spark ops — last-writer-wins by seq,
    * DELETE removes the key. */
  def oracleFold(spark: SparkSession, logDir: String,
      framing: Framing.Value = Framing.Raw): DataFrame = {
    val registry = spark.sparkContext.broadcast(Cdc.registry)
    val upd = decodeForMerge(Epoch.events(spark.read.parquet(logDir)), registry, None,
      framing).updates
    val cols = upd.columns
    upd.groupBy(col("repo"), col("path"))
      .agg(max_by(struct(cols.toIndexedSeq.map(col): _*), col("seq")).as("__r"))
      .select(cols.toIndexedSeq.filterNot(Seq("repo", "path").contains).map(c => col(s"__r.$c").as(c)) ++
        Seq(col("repo"), col("path")): _*)
      .filter(col("op") =!= "DELETE")
      .drop("op", "seq")
  }
}
