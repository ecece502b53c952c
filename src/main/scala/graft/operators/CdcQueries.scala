package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.{Cdc, Epoch, Lineage, LogGen, Replay}
import graft.lake.{Compaction, Diff, Dml, IceLite}

/** The engine's own CDC operators surfaced through the driver gate.
  * q00 is the flagship: it generates a seeded protobuf change log, replays
  * it through decode → version-ordered MERGE → IceLite commit, and returns
  * the final table state. Its DuckDB oracle folds the DECODED change log
  * (dumped as parquet by the same query run) with a seq-ordered
  * last-writer-wins + DELETE filter — an independent re-derivation of the
  * MERGE semantics, gated on rows/schema/hash incl. per-row content sha256
  * (the reference's round-trip contract, ProtobufEncoderTest.java:85-88). */
object CdcQueries {

  /** Deterministic tmp table path per (tag, sf dir) — reruns overwrite. */
  private def workDir(tag: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-$tag"

  /** Per-phase wall seconds of the LAST run of each lifecycle gate
    * (q29/q30/q36/q42/q50) — these queries are pipelines (seeded log
    * generation + replay + maintenance + read; or IVF train + build +
    * probe), so their headline seconds need attribution. Bench embeds this
    * map in the JSON line; a final READ phase that executes lazily in the
    * caller is the measured total minus the sum recorded here. Entries
    * suffixed `_ms` are point metrics (per-lookup latency), not phases. */
  val phaseTimes = new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Double)]]()

  /** Record a point metric (not a wall phase) under a gate's tag. */
  def putMetric(tag: String, name: String, value: Double): Unit = {
    val cur = Option(phaseTimes.get(tag)).getOrElse(Seq.empty)
    phaseTimes.put(tag, cur.filterNot(_._1 == name) :+ (name -> value))
  }

  private[graft] final class PhaseClock(tag: String) {
    private val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def apply[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      acc(name) = acc.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
      phaseTimes.put(tag, acc.toSeq)
      r
    }
  }

  def replayFinalState(spark: SparkSession, nEvents: Long, tag: String,
      dumpDecodedLog: Boolean = false): DataFrame = {
    val root = workDir(tag)
    val logDir = s"$root/log"
    val tableDir = s"$root/table"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    LogGen.writeLog(spark, LogGen.Params(nEvents = nEvents, nRepos = 50,
      pathsPerRepo = 40, v1Fraction = 0.7), logDir, epochs = 2)
    if (dumpDecodedLog) {
      // the oracle's input: the decoded change rows (data cols + seq + op),
      // so DuckDB can re-derive the final state independently of the MERGE
      import spark.implicits._
      val registry = spark.sparkContext.broadcast(Cdc.registry)
      val ev = spark.read.parquet(logDir)
        .transform(Epoch.events)
      val upd = Replay.decodeForMerge(ev, registry, None).updates
      upd.write.mode("overwrite").parquet(s"$root/decoded")
    }
    Replay.replayLog(spark, logDir, tableDir, buckets = 8)
    IceLite.read(spark, IceLite.load(tableDir))
      .select(col("repo"), col("path"), col("commit"), col("lang"),
        sha2(col("content"), 256).as("content_sha"), col("author"))
      .orderBy("repo", "path")
  }

  /** q29: the incremental CHANGE FEED (CDC out), driver-gated. Replays a
    * seeded log in 3 epochs, then reads `IceLite.changes` between the
    * snapshots after epoch 0 and after epoch 2 — exactly epochs 1..2's
    * change rows (upserts AND tombstones), each epoch LWW'd per key. The
    * oracle re-derives that from the decoded log dumped by this same run:
    * row_number per (epoch, key) ordered by seq DESC, epochs ≥ 1. */
  /** Oracle-input dump shared by the epoch-fixture gates: decode every
    * epoch of `logDir` and write the change rows WITH their epoch to
    * `<root>/decoded` (the dump-then-refold oracle pattern). */
  /** A (repo → tier) dimension table the join-view gates maintain by
    * hand-rolled fenced merges; every batch is also dumped (repo, tier,
    * dseq, del) so the DuckDB oracle can fold the dim history itself. */
  private def createTierDim(s: SparkSession, dDir: String): Unit =
    IceLite.create(dDir, IceLite.withCdcCols(Vector(
      IceLite.ColDef(1, "repo", "STRING"), IceLite.ColDef(2, "tier", "STRING"))),
      Vector("repo"), 4)

  private def applyTierDim(s: SparkSession, dDir: String, dumpDir: String,
      rows: Seq[(String, String, Long, String)], tag: String): Unit = {
    import s.implicits._
    val df = rows.toDF("repo", "tier", "__sq", "__op")
    val pinned = df.select(
      Seq(("repo", 1L), ("tier", 2L)).map { case (c, id) =>
        col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
          .putLong(graft.decode.SparkSchema.FieldIdKey, id).build()) } ++
        Seq(col("__sq"), col("__op")): _*)
    graft.lake.Merge.mergeEpoch(s, dDir, pinned, "__sq", "__op", tag)
    df.select(col("repo"), col("tier"), col("__sq").as("dseq"),
      (col("__op") === "DELETE").as("del"))
      .write.mode("append").parquet(dumpDir)
  }

  def dumpDecodedByEpoch(spark: SparkSession, logDir: String, root: String,
      epochs: Int): Unit = {
    import spark.implicits._
    val registry = spark.sparkContext.broadcast(Cdc.registry)
    val log = spark.read.parquet(logDir)
    (0 until epochs).map { e =>
      val ev = log.filter(col("epoch") === e)
        .transform(Epoch.events)
      Replay.decodeForMerge(ev, registry, None).updates.withColumn("epoch", lit(e))
    }.reduce(_.unionByName(_)).write.mode("overwrite").parquet(s"$root/decoded")
  }

  def changeFeed(spark: SparkSession, nEvents: Long, tag: String): DataFrame = {
    import spark.implicits._
    val clock = new PhaseClock(tag)
    val root = workDir(tag)
    val logDir = s"$root/log"
    val tableDir = s"$root/table"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    clock("gen") {
      LogGen.writeLog(spark, LogGen.Params(nEvents = nEvents, nRepos = 40,
        pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
    }
    // oracle input: decoded change rows WITH their epoch
    clock("decode_dump") { dumpDecodedByEpoch(spark, logDir, root, epochs = 3) }
    clock("replay") { Replay.replayLog(spark, logDir, tableDir, buckets = 8) }
    // table versions: v0 = create, v1..v3 = the three epochs
    IceLite.changes(spark, tableDir, fromVersion = 1, toVersion = 3)
      .select(col("repo"), col("path"), col("commit"), col("lang"),
        sha2(col("content"), 256).as("content_sha"), col("author"),
        col(IceLite.SeqCol.name).as("seq"),
        col(IceLite.DelCol.name).as("is_delete"))
      .orderBy("seq")
  }

  val queries: Seq[OpQuery] = Seq(
    OpQuery("q00_cdc_replay",
      (s, _) => replayFinalState(s, nEvents = 5000, tag = "q00", dumpDecodedLog = true),
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q00")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q30_maintenance_lifecycle",
      // the full table-maintenance lifecycle, driver-gated: replay a seeded
      // log, compact HALF the buckets incrementally (tombstones purged
      // there), REBUCKET the table to a different bucket count, expire old
      // snapshots and vacuum — the final state must still equal the
      // oracle's LWW fold of the decoded log. Exercises: incremental
      // compaction, rebucket commit, manifest rewrite, expire + vacuum,
      // and reads across mixed pre/post-maintenance files.
      (s, _) => {
        val clock = new PhaseClock("q30")
        val root = workDir("q30")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 4000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 2)
        }
        // oracle input: decoded change rows
        import s.implicits._
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = s.read.parquet(logDir)
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        clock("replay") { Replay.replayLog(s, logDir, tableDir, buckets = 8) }
        clock("compact") {
          graft.lake.Compaction.compact(s, tableDir, "q30-compact", Some(Set(0, 1, 2, 3)))
        }
        clock("rebucket") {
          graft.lake.Compaction.rebucket(s, tableDir, newBuckets = 16, epochId = "q30-rebucket")
        }
        clock("expire_vacuum") {
          graft.lake.Compaction.expire(tableDir, keepLast = 1)
          // retention 0: this gate is strictly single-writer, no commit in flight
          graft.lake.Compaction.vacuum(tableDir, olderThanMs = 0L)
        }
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q30")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q41_encode_roundtrip",
      // the ENCODE service under the hard gate (§2.1 ops #2/#5/#6): decoded
      // change rows are re-encoded to RepoChange v2 wire bytes (canonical
      // field order, proto3 defaults omitted) and decoded AGAIN through the
      // full decode stage; the result must equal the ORIGINAL decode dump
      // row for row (content by sha256). Any encode defect — wrong tag,
      // bad varint, dropped field, enum-name mismatch — breaks re-decode
      // equality. v1-origin rows ride the v2 descriptor with author absent,
      // so the version-evolution path is exercised on the encode side too.
      (s, _) => {
        import s.implicits._
        val root = workDir("q41")
        val logDir = s"$root/log"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 1)
        val registry = s.sparkContext.broadcast(Cdc.registry)
        val ev = s.read.parquet(logDir)
          .transform(Epoch.events)
        Replay.decodeForMerge(ev, registry, None).updates
          .write.mode("overwrite").parquet(s"$root/decoded")
        val back = s.read.parquet(s"$root/decoded")
        val encoded = graft.decode.Encode.encode(back, registry, Cdc.KeyV2, Cdc.MessageType)
        val ev2 = encoded.map(b =>
          graft.decode.ChangeEvent(b, Cdc.SchemaId, 2, Cdc.MessageType, 0, 0L))
        val dec2 = graft.decode.Decode.success(graft.decode.Decode.decode(
          ev2, registry, graft.registry.SchemaKey(Cdc.SchemaId, -1), Cdc.MessageType))
        dec2.select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"),
            col("seq"), col("op"))
          .orderBy("seq")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha,
               author, seq, op
        FROM parquet_scan('${workDir("q41")}/decoded/*.parquet') ORDER BY seq""")),

    OpQuery("q49_dead_letter_routing",
      // ALL THREE reference routes (§2.1 #12-14) under the hard gate:
      // offsets ≡ 0 (mod 10) get a malformed payload (0xFF — a truncated
      // varint tag, guaranteed decode failure → route = error); offsets
      // ≡ 5 (mod 10) get an UNKNOWN schema version (99 → route =
      // invalid_schema, payload untouched); everything else decodes
      // (route = success). The final state must equal the oracle fold of
      // the CLEAN decode restricted to unrouted offsets — dead-lettered
      // events provably excluded, clean ones provably all applied — and
      // the query fn hard-asserts both dead-letter routes' counts and
      // that each keeps the ORIGINAL payload (the reference's contract).
      (s, _) => {
        import s.implicits._
        val root = workDir("q49")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 2)
        val log = s.read.parquet(logDir)
        // oracle input: the CLEAN decode, offsets included
        val registry = s.sparkContext.broadcast(Cdc.registry)
        val ev = log
          .transform(Epoch.events)
        graft.decode.Decode.success(graft.decode.Decode.decode(
          ev, registry, graft.registry.SchemaKey(Cdc.SchemaId, -1), Cdc.MessageType))
          .write.mode("overwrite").parquet(s"$root/decoded")
        // corrupt: malformed payload (mod 10 = 0) and unknown schema
        // version (mod 10 = 5); keep the epoch partitioning
        log
          .withColumn("payload",
            when(col("offset") % 10 === 0, lit(Array(0xFF.toByte))).otherwise(col("payload")))
          .withColumn("schemaVersion",
            when(col("offset") % 10 === 5, lit(99)).otherwise(col("schemaVersion")))
          .write.partitionBy("epoch").mode("overwrite").parquet(s"$root/badlog")
        Replay.replayLog(s, s"$root/badlog", tableDir, buckets = 8)
        val nErr = log.filter(col("offset") % 10 === 0).count()
        val nInv = log.filter(col("offset") % 10 === 5).count()
        val dl = s.read.parquet(s"$tableDir/_deadletter")
        val errRows = dl.filter(col("route") === "error")
        val invRows = dl.filter(col("route") === "invalid_schema")
        require(errRows.count() == nErr,
          s"expected $nErr error-routed dead letters, got ${errRows.count()}")
        require(errRows.filter(length(col("payload")) === 1).count() == nErr,
          "error dead letters must keep the ORIGINAL (corrupt) payload")
        require(invRows.count() == nInv,
          s"expected $nInv invalid_schema dead letters, got ${invRows.count()}")
        require(invRows.filter(length(col("payload")) > 1).count() == nInv,
          "invalid_schema dead letters must keep the ORIGINAL payload")
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q49")}/decoded/*.parquet')
              WHERE "offset" % 10 <> 0 AND "offset" % 10 <> 5) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q48_lineage_metrics",
      // the OPS ledger under the hard gate: replay 2 epochs, then read the
      // per-epoch lineage entries (batch rows, upsert/delete split, and the
      // per-source-PARTITION event counts captured by the accumulator that
      // rides the decode pass). The oracle re-derives every number from
      // the raw log metadata + the decoded dump — a lost partition count,
      // a double-counted route, or a wrong upsert/delete split all break
      // equality. This is NiFi-provenance parity, verified not just
      // emitted.
      (s, _) => {
        import s.implicits._
        val root = workDir("q48")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 2)
        val log = s.read.parquet(logDir)
        log.select("epoch", "partition").write.mode("overwrite").parquet(s"$root/meta")
        val registry = s.sparkContext.broadcast(Cdc.registry)
        (0 until 2).map { e =>
          val ev = log.filter(col("epoch") === e)
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates.withColumn("epoch", lit(e))
        }.reduce(_.unionByName(_)).write.mode("overwrite").parquet(s"$root/decoded")
        Replay.replayLog(s, logDir, tableDir, buckets = 8)
        Lineage.read(s, tableDir)
          .select(
            expr("CAST(substring_index(epochId, '-', -1) AS BIGINT)").as("epoch"),
            col("batchRows").as("batch_rows"), col("upserts"), col("deletes"),
            explode(col("partitions")).as(Seq("partition", "n_events")))
          .select(col("epoch"), col("partition").cast("long").as("partition"),
            col("n_events"), col("batch_rows"), col("upserts"), col("deletes"))
          .orderBy("epoch", "partition")
      },
      Some(s"""WITH meta AS (
          SELECT epoch, CAST(partition AS BIGINT) AS partition, count(*) AS n_events
          FROM parquet_scan('${workDir("q48")}/meta/*.parquet') GROUP BY 1, 2),
        ep AS (
          SELECT epoch, count(*) AS batch_rows,
            CAST(sum(CASE WHEN op = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS deletes
          FROM parquet_scan('${workDir("q48")}/decoded/*.parquet') GROUP BY 1)
        SELECT m.epoch, m.partition, m.n_events, ep.batch_rows,
          ep.batch_rows - ep.deletes AS upserts, ep.deletes
        FROM meta m JOIN ep USING (epoch) ORDER BY epoch, partition""")),

    OpQuery("q47_streaming_ingest",
      // the NORTH-STAR surface itself under the hard gate: a Structured
      // Streaming Tail (file source → broadcast-registry decode →
      // version-ordered MERGE → fenced IceLite commits) consumes a seeded
      // change log in TWO arrival waves — the second wave resumes from the
      // first's checkpoint — and the final table state must equal the
      // oracle's LWW fold of the decoded log (content by sha256). q00
      // gates the batch replay; this gates the streaming path with a
      // checkpoint resume in the middle.
      (s, _) => {
        import s.implicits._
        val root = workDir("q47")
        val streamDir = s"$root/stream"
        val tableDir = s"$root/table"
        val ckpt = s"$root/ckpt"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val p = LogGen.Params(nEvents = 3000, nRepos = 40, pathsPerRepo = 30,
          v1Fraction = 0.7)
        val ev = LogGen.events(s, p)
        // oracle input: the decoded change rows of the FULL log
        val registry = s.sparkContext.broadcast(Cdc.registry)
        Replay.decodeForMerge(
          Epoch.events(ev), registry, None)
          .updates.write.mode("overwrite").parquet(s"$root/decoded")
        // wave 1, then wave 2 resuming from the same checkpoint
        ev.filter(col("offset") < 1500).repartition(3)
          .write.mode("append").parquet(streamDir)
        graft.cdc.Tail.start(s, streamDir, tableDir, ckpt, buckets = 8).awaitTermination()
        ev.filter(col("offset") >= 1500).repartition(3)
          .write.mode("append").parquet(streamDir)
        graft.cdc.Tail.start(s, streamDir, tableDir, ckpt, buckets = 8).awaitTermination()
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q47")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q67_streaming_matview",
      // STREAMING INGEST + INCREMENTAL VIEW composed under the hard gate:
      // a Tail stream consumes the log in two waves (the second resumes
      // from the first's checkpoint), and MatView.refresh advances a
      // grouped aggregate after each wave — the second refresh starts at
      // the first's watermark (read from the view's own ledger) and
      // retracts across ALL the stream's microbatch epochs at once. The
      // oracle recomputes the aggregate from the decoded dump; a replayed
      // refresh must fence as a no-op.
      (s, _) => {
        import s.implicits._
        val root = workDir("q67")
        val streamDir = s"$root/stream"
        val tableDir = s"$root/table"
        val mvDir = s"$root/mv"
        val ckpt = s"$root/ckpt"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val p = LogGen.Params(nEvents = 3000, nRepos = 40, pathsPerRepo = 30,
          v1Fraction = 0.7)
        val ev = LogGen.events(s, p)
        val registry = s.sparkContext.broadcast(Cdc.registry)
        Replay.decodeForMerge(
          Epoch.events(ev), registry, None)
          .updates.write.mode("overwrite").parquet(s"$root/decoded")
        import graft.lake.MatView
        ev.filter(col("offset") < 1500).repartition(3)
          .write.mode("append").parquet(streamDir)
        graft.cdc.Tail.start(s, streamDir, tableDir, ckpt, buckets = 8).awaitTermination()
        MatView.create(tableDir, mvDir, MatView.Spec(
          Vector("lang"), Vector("content_len" -> "length(content)")))
        val r1 = MatView.refresh(s, tableDir, mvDir)
        require(r1.applied && r1.fromVersion == 0, s"wave-1 backfill: $r1")
        ev.filter(col("offset") >= 1500).repartition(3)
          .write.mode("append").parquet(streamDir)
        graft.cdc.Tail.start(s, streamDir, tableDir, ckpt, buckets = 8).awaitTermination()
        val r2 = MatView.refresh(s, tableDir, mvDir)
        require(r2.applied && r2.fromVersion == r1.toVersion,
          s"wave-2 refresh must resume at wave 1's watermark: $r1 -> $r2")
        putMetric("q67", "wave2_changed_keys", r2.changedKeys.toDouble)
        require(!MatView.refresh(s, tableDir, mvDir).applied,
          "a replayed refresh must fence as a no-op")
        MatView.read(s, mvDir)
          .select("lang", "cnt", "content_len").orderBy("lang")
      },
      Some(s"""SELECT lang, count(*) AS cnt,
               CAST(sum(length(content)) AS BIGINT) AS content_len
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q67")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE'
        GROUP BY lang ORDER BY lang""")),

    OpQuery("q68_wap_branch",
      // WRITE-AUDIT-PUBLISH under the hard gate: epochs 0-1 replay into
      // MAIN; epoch 2 (the "risky" ingest) lands on a BRANCH — a fork of
      // the snapshot chain that is itself a full table dir — is audited
      // there, and only then PUBLISHES by hard-linking its snapshots onto
      // main (the same link(2) create-if-absent primitive commits use, so
      // a racing main commit loses atomically). Hard-asserts: main's
      // version is frozen while the branch ingests, the audit read sees
      // epoch 2 on the branch but not on main, and a discard after publish
      // keeps main fully readable (manifests/data under the branch dir
      // survive). The oracle folds ALL three epochs of the decoded dump —
      // a publish that loses the branch epoch, leaks it before publish, or
      // breaks LWW across the fork boundary breaks equality.
      (s, _) => {
        import s.implicits._
        val root = workDir("q68")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        dumpDecodedByEpoch(s, logDir, root, epochs = 3)
        val log01 = s"$root/log01"; val log2 = s"$root/log2"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(log01))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(log2))
        Seq(0, 1).foreach(e => java.nio.file.Files.move(
          java.nio.file.Paths.get(logDir, s"epoch=$e"),
          java.nio.file.Paths.get(log01, s"epoch=$e")))
        java.nio.file.Files.move(
          java.nio.file.Paths.get(logDir, "epoch=2"),
          java.nio.file.Paths.get(log2, "epoch=2"))
        import graft.lake.Branch
        Replay.replayLog(s, log01, tableDir, buckets = 8)
        val mainV = IceLite.load(tableDir).version
        val preBranch = IceLite.read(s, IceLite.load(tableDir)).count()
        val bdir = Branch.fork(tableDir, "ingest")
        Replay.replayLog(s, log2, bdir, buckets = 8)
        // audit: the branch carries epoch 2, main is untouched
        require(IceLite.load(tableDir).version == mainV,
          "main must not advance while the branch ingests")
        require(IceLite.read(s, IceLite.load(tableDir)).count() == preBranch,
          "main must not see branch rows before publish")
        require(Branch.aheadBy(tableDir, "ingest") >= 1, "branch made no commits?")
        val published = Branch.publish(tableDir, "ingest")
        putMetric("q68", "published_versions", published.toDouble)
        Branch.discard(tableDir, "ingest")
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q68")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q69_delete_where",
      // PREDICATE DELETE under the hard gate: replay a 2-epoch log, then
      // DELETE WHERE lang = 'java' — expressed as tombstones through the
      // normal epoch-fenced merge at O(matching rows), never a table
      // rewrite (the GDPR / right-to-be-forgotten shape at 100 TB). The
      // oracle folds the decoded dump and filters the predicate's
      // complement; a delete that misses rows, over-deletes, or a replayed
      // DML epoch that double-applies all break equality.
      (s, _) => {
        replayFinalState(s, nEvents = 3000, tag = "q69", dumpDecodedLog = true)
        val tableDir = s"${workDir("q69")}/table"
        val st = graft.lake.Dml.deleteWhere(s, tableDir, "lang = 'java'", "q69-del")
        putMetric("q69", "deleted_rows", st.deletes.toDouble)
        putMetric("q69", "touched_buckets", st.touchedBuckets.toDouble)
        require(st.applied && st.deletes > 0, s"delete matched nothing: $st")
        require(!graft.lake.Dml.deleteWhere(s, tableDir, "lang = 'java'", "q69-del").applied,
          "replayed DML epoch must fence as a no-op")
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q69")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' AND (lang <> 'java' OR lang IS NULL)
        ORDER BY repo, path""")),

    OpQuery("q70_update_where",
      // PREDICATE UPDATE under the hard gate: replay a 2-epoch log, then
      // UPDATE SET author = 'redacted', commit = upper(commit) WHERE
      // lang = 'go' — rewritten row versions through the epoch-fenced
      // merge at O(matching rows). The oracle folds the decoded dump and
      // applies the same assignments via CASE on the folded winners
      // (the DML reads the table AS OF its snapshot, so winners are
      // exactly what it rewrote); content hashes must survive untouched.
      (s, _) => {
        replayFinalState(s, nEvents = 3000, tag = "q70", dumpDecodedLog = true)
        val tableDir = s"${workDir("q70")}/table"
        val st = graft.lake.Dml.updateWhere(s, tableDir, "lang = 'go'",
          Seq("author" -> "'redacted'", "commit" -> "upper(commit)"), "q70-upd")
        putMetric("q70", "updated_rows", st.batchRows.toDouble)
        putMetric("q70", "touched_buckets", st.touchedBuckets.toDouble)
        require(st.applied && st.batchRows > 0 && st.deletes == 0, s"update matched nothing: $st")
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path,
          CASE WHEN lang = 'go' THEN upper("commit") ELSE "commit" END AS "commit",
          lang, sha256(content) AS content_sha,
          CASE WHEN lang = 'go' THEN 'redacted' ELSE author END AS author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q70")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q71_audit_gate",
      // DECLARATIVE AUDIT as the WAP publish gate, under the hard gate:
      // epochs 0-1 replay into main; a BAD branch poisons the table
      // (UPDATE content = NULL) and its audit — one-pass NotNull/Unique/
      // RowCount/Check expectations — must block the publish, leaving main
      // frozen; a GOOD branch ingests epoch 2, passes the same contract,
      // and auditAndPublish lands it. The oracle folds all three epochs of
      // the decoded dump: a bad publish (nulls visible), a lost good
      // publish, or an audit reading the wrong side all break equality.
      (s, _) => {
        import s.implicits._
        val root = workDir("q71")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        dumpDecodedByEpoch(s, logDir, root, epochs = 3)
        val log01 = s"$root/log01"; val log2 = s"$root/log2"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(log01))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(log2))
        Seq(0, 1).foreach(e => java.nio.file.Files.move(
          java.nio.file.Paths.get(logDir, s"epoch=$e"),
          java.nio.file.Paths.get(log01, s"epoch=$e")))
        java.nio.file.Files.move(
          java.nio.file.Paths.get(logDir, "epoch=2"),
          java.nio.file.Paths.get(log2, "epoch=2"))
        import graft.lake.{Audit, Branch, Dml}
        Replay.replayLog(s, log01, tableDir, buckets = 8)
        val mainV = IceLite.load(tableDir).version
        val contract = Seq(
          Audit.NotNull(Seq("repo", "path", "content")),
          Audit.Unique(Seq("repo", "path")),
          Audit.Check("commit_set", "length(commit) > 0"),
          Audit.RowCount(min = 1))
        // bad branch: a poisoning DML nulls content — audit must block it
        val bad = Branch.fork(tableDir, "bad")
        Dml.updateWhere(s, bad, "lang = 'md'", Seq("content" -> "NULL"), "poison")
        val (badReport, badPublished) = Audit.auditAndPublish(s, tableDir, "bad", contract)
        require(!badPublished && !badReport.passed, s"poisoned branch must fail audit: $badReport")
        require(IceLite.load(tableDir).version == mainV, "failed audit must not publish")
        putMetric("q71", "bad_violations",
          badReport.violations.map(_.violations).sum.toDouble)
        Branch.discard(tableDir, "bad", force = true)
        // good branch: epoch 2 passes the same contract and publishes
        val good = Branch.fork(tableDir, "good")
        Replay.replayLog(s, log2, good, buckets = 8)
        val (goodReport, goodPublished) = Audit.auditAndPublish(s, tableDir, "good", contract)
        require(goodPublished && goodReport.passed, s"clean branch must publish: $goodReport")
        putMetric("q71", "good_rows", goodReport.rows.toDouble)
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q71")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q72_zorder_scan",
      // MULTI-DIMENSIONAL (Z-ORDER) CLUSTERING under the hard gate: the
      // events table lands in an IceLite table, a z-order compaction
      // interleaves (user_id, value) into range-contiguous files with
      // per-dimension bounds, and an ANDed 2D range read must (a) prune at
      // least half the files structurally — hard-asserted — and (b) return
      // exactly the oracle's filtered rows. Pruning soundness never
      // depends on the z-mapping quality: bounds are measured from the
      // written files.
      (s, dir) => {
        val root = workDir("q72")
        val tdir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        def fid(n: Long) = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("graft.fieldId", n).build()
        IceLite.create(tdir, IceLite.withCdcCols(Vector(
          IceLite.ColDef(1, "event_id", "BIGINT"), IceLite.ColDef(2, "user_id", "BIGINT"),
          IceLite.ColDef(3, "event_type", "STRING"), IceLite.ColDef(4, "value", "DOUBLE"))),
          Vector("event_id"), buckets = 8)
        val ev = s.read.parquet(s"$dir/events.parquet")
          .select(col("event_id").as("event_id", fid(1)),
            col("user_id").as("user_id", fid(2)),
            col("event_type").as("event_type", fid(3)),
            col("value").as("value", fid(4)),
            col("event_id").as("seq"), lit("UPSERT").as("op"))
        graft.lake.Merge.mergeEpoch(s, tdir, ev, "seq", "op", "load-0")
        graft.lake.Compaction.compact(s, tdir, "z-0",
          zorderBy = Seq("user_id", "value"), filesPerBucket = 8)
        val snap = IceLite.load(tdir)
        val preds = Seq[(String, Any, Any)](("user_id", 10L, 40L), ("value", 50.0, 150.0))
        val kept = IceLite.rangeFilesMulti(snap, preds).size
        putMetric("q72", "files_total", snap.files.size.toDouble)
        putMetric("q72", "files_read", kept.toDouble)
        require(kept * 2 <= snap.files.size,
          s"2D range must skip at least half the files: kept $kept of ${snap.files.size}")
        IceLite.readRangeMulti(s, snap, preds)
          .select("event_id", "user_id", "event_type", "value")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, event_type, value FROM events
        WHERE user_id BETWEEN 10 AND 40 AND value BETWEEN 50.0 AND 150.0
        ORDER BY event_id""")),

    OpQuery("q73_rollback_replay",
      // ROLLBACK + REMEDIATION REPLAY under the hard gate: replay 3
      // epochs, roll the head back to the post-epoch-1 snapshot (a NEW
      // version — history kept), then re-replay the SAME log: the restored
      // ledger must fence epochs 0-1 (still applied) and RE-APPLY epoch 2
      // (un-happened by the rollback) — hard-asserted as exactly 1 of 3
      // applied. The oracle folds all three epochs: a rollback that loses
      // state, a ledger that blocks the re-apply, or a fence that
      // double-applies 0-1 all break equality.
      (s, _) => {
        import s.implicits._
        val root = workDir("q73")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        dumpDecodedByEpoch(s, logDir, root, epochs = 3)
        Replay.replayLog(s, logDir, tableDir, buckets = 8) // v1..v3
        val headRows = IceLite.read(s, IceLite.load(tableDir)).count()
        val v2Rows = IceLite.read(s, IceLite.loadVersion(tableDir, 2)).count()
        val rb = IceLite.rollback(tableDir, 2)
        require(rb.version == 4, s"rollback must commit a NEW version, got v${rb.version}")
        require(IceLite.read(s, IceLite.load(tableDir)).count() == v2Rows,
          "rolled-back head must equal the v2 state")
        // remediation replay: fence 0-1, re-apply 2
        val re = Replay.replayLog(s, logDir, tableDir, buckets = 8)
        require(re.stats.count(_.applied) == 1,
          s"re-replay must apply exactly the un-happened epoch: ${re.stats.map(st => st.epochId -> st.applied)}")
        putMetric("q73", "reapplied_epochs", re.stats.count(_.applied).toDouble)
        require(IceLite.read(s, IceLite.load(tableDir)).count() == headRows,
          "remediated head must equal the pre-rollback state")
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q73")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q74_meta_tables",
      // METADATA INSPECTION TABLES (rows-only check — file layout is
      // parallelism-dependent, so no cross-engine oracle): replay a seeded
      // log, then answer "table health" questions from snapshot metadata
      // alone — per-version file/epoch counts via MetaTables.history (no
      // manifest or data reads), internally cross-checked against the
      // loaded snapshot.
      (s, _) => {
        val root = workDir("q74")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 2000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 2)
        Replay.replayLog(s, logDir, tableDir, buckets = 8)
        val snap = IceLite.load(tableDir)
        val hist = graft.lake.MetaTables.history(s, tableDir)
        val headFiles = hist.orderBy(col("version").desc)
          .select("files").head().getLong(0)
        require(headFiles == snap.files.size.toLong,
          s"history's manifest-derived file count ($headFiles) must match the loaded snapshot (${snap.files.size})")
        require(graft.lake.MetaTables.files(s, tableDir).count() == snap.files.size.toLong,
          "files table must enumerate every live file")
        hist.orderBy("version")
      },
      None),

    OpQuery("q75_scd2_history",
      // TYPE-2 SCD under the hard gate: the dimension-history consumer every
      // CDC warehouse runs. Three epochs replay stepwise; after each, an
      // INCREMENTAL Scd2.apply seals the versions the epoch superseded into
      // append-only history and swaps the open rows (O(changed keys) — the
      // gate hard-asserts incrementality and that a replayed apply fences).
      // The oracle re-derives every [valid_from, valid_to) interval from the
      // decoded dump: per-(key, epoch) LWW fold, then lead(seq) per key —
      // a missed close, a resurrected delete, or a double-applied window
      // all break interval equality.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q75")
        val root = workDir("q75")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        val scdDir = s"$root/scd"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") {
          dumpDecodedByEpoch(s, logDir, root, epochs = 3)
        }
        val epochDirs = (0 until 3).map { e =>
          val dd = s"$root/log$e"
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dd))
          java.nio.file.Files.move(
            java.nio.file.Paths.get(logDir, s"epoch=$e"),
            java.nio.file.Paths.get(dd, s"epoch=$e"))
          dd
        }
        import graft.lake.Scd2
        var totalChanged = 0L
        (0 until 3).foreach { e =>
          clock(s"replay$e") { Replay.replayLog(s, epochDirs(e), tableDir, buckets = 8) }
          if (e == 0) Scd2.create(tableDir, scdDir)
          val st = clock(s"apply$e") { Scd2.apply(s, tableDir, scdDir) }
          require(st.applied && st.toVersion == e + 1,
            s"apply $e must advance to src v${e + 1}, got $st")
          totalChanged += st.changedKeys
          putMetric("q75", s"apply${e}_changed_keys", st.changedKeys.toDouble)
          putMetric("q75", s"apply${e}_closed", st.closed.toDouble)
        }
        val tableKeys = IceLite.read(s, IceLite.load(tableDir)).count()
        require(totalChanged < 3 * tableKeys,
          s"applies must be O(delta): $totalChanged changed vs $tableKeys keys x3")
        require(!Scd2.apply(s, tableDir, scdDir).applied,
          "a replayed apply must fence as a no-op")
        // offline history compaction folds the per-apply batch dirs; the
        // final read (and so the oracle) must not notice
        val collapsed = clock("compact_history") { Scd2.compactHistory(s, scdDir) }
        require(collapsed >= 2, s"expected >=2 history dirs to fold, got $collapsed")
        putMetric("q75", "history_dirs_collapsed", collapsed.toDouble)
        Scd2.read(s, scdDir)
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"),
            col("valid_from"), col("valid_to"), col("is_current"))
          .orderBy("repo", "path", "valid_from")
      },
      Some(s"""WITH d AS (SELECT * FROM parquet_scan('${workDir("q75")}/decoded/*.parquet')),
        v AS (SELECT * FROM (SELECT *, row_number()
              OVER (PARTITION BY repo, path, epoch ORDER BY seq DESC) AS rn FROM d) t
              WHERE rn = 1),
        tl AS (SELECT *, lead(seq) OVER (PARTITION BY repo, path ORDER BY seq) AS next_seq
               FROM v)
        SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author,
               seq AS valid_from, next_seq AS valid_to,
               (next_seq IS NULL) AS is_current
        FROM tl WHERE op <> 'DELETE' ORDER BY repo, path, valid_from""")),

    OpQuery("q76_cdf_images",
      // CHANGE FEED WITH ROW IMAGES under the hard gate: the full-fidelity
      // CDC-out surface (insert / update_preimage / update_postimage /
      // delete, Delta-CDF-shaped). Replays 3 epochs, then reads images for
      // the (v1, v3] window — pre-images come from a bucket-pruned read of
      // ONLY the touched keys' v1 state chained through the window by one
      // per-key lag(). The oracle re-derives every image from the decoded
      // dump's version rows; a wrong pre-image, a phantom insert for a
      // live key, or an image for a redundant delete all break equality.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q76")
        val root = workDir("q76")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") {
          dumpDecodedByEpoch(s, logDir, root, epochs = 3)
        }
        clock("replay") { Replay.replayLog(s, logDir, tableDir, buckets = 8) }
        val images = clock("images") {
          graft.lake.Cdf.changesWithImages(s, tableDir, fromVersion = 1, toVersion = 3)
            .localCheckpoint()
        }
        val byType = images.groupBy("change_type").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        require(byType.getOrElse("update_preimage", 0L) ==
            byType.getOrElse("update_postimage", 0L),
          s"every update needs both images, got $byType")
        putMetric("q76", "inserts", byType.getOrElse("insert", 0L).toDouble)
        putMetric("q76", "updates", byType.getOrElse("update_postimage", 0L).toDouble)
        putMetric("q76", "deletes", byType.getOrElse("delete", 0L).toDouble)
        images
          .select(col("change_type"), col("repo"), col("path"), col("commit"),
            col("lang"), sha2(col("content"), 256).as("content_sha"),
            col("author"), col("seq"))
          .orderBy("seq", "change_type")
      },
      Some(s"""WITH d AS (SELECT * FROM parquet_scan('${workDir("q76")}/decoded/*.parquet')),
        v AS (SELECT * FROM (SELECT *, row_number()
              OVER (PARTITION BY repo, path, epoch ORDER BY seq DESC) AS rn FROM d) t
              WHERE rn = 1),
        tl AS (SELECT *, lag(op) OVER w AS p_op, lag("commit") OVER w AS p_commit,
               lag(lang) OVER w AS p_lang, lag(content) OVER w AS p_content,
               lag(author) OVER w AS p_author
               FROM v WINDOW w AS (PARTITION BY repo, path ORDER BY seq)),
        pre AS (SELECT CASE WHEN op = 'DELETE' THEN 'delete'
                       ELSE 'update_preimage' END AS change_type,
                repo, path, p_commit AS "commit", p_lang AS lang,
                sha256(p_content) AS content_sha, p_author AS author, seq
                FROM tl WHERE epoch >= 1 AND p_op IS NOT NULL AND p_op <> 'DELETE'),
        post AS (SELECT CASE WHEN p_op IS NOT NULL AND p_op <> 'DELETE'
                        THEN 'update_postimage' ELSE 'insert' END AS change_type,
                 repo, path, "commit", lang, sha256(content) AS content_sha,
                 author, seq
                 FROM tl WHERE epoch >= 1 AND op <> 'DELETE')
        SELECT * FROM pre UNION ALL SELECT * FROM post
        ORDER BY seq, change_type""")),

    OpQuery("q78_scd2_asof",
      // TEMPORAL POINT-IN-TIME dimension read: Scd2.asOf(s) returns the
      // version of every key whose [valid_from, valid_to) interval contains
      // sequence s — the SCD2 answer to "what did the dimension look like
      // mid-stream", which outlives snapshot retention. This gate builds
      // the dimension with ONE apply spanning all 3 epochs (the multi-epoch
      // window path, complementing q75's per-epoch applies), picks s = the
      // last sequence of epoch 1, and hard-asserts asOf(s) ≡ SNAPSHOT TIME
      // TRAVEL to the post-epoch-1 version — two entirely different read
      // paths (append-only interval history vs manifest replay) agreeing
      // row-for-row, then both checked against the oracle's interval fold.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q78")
        val root = workDir("q78")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        val scdDir = s"$root/scd"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        }
        val sMax = clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val log = s.read.parquet(logDir)
          val dec = (0 until 3).map { e =>
            val ev = log.filter(col("epoch") === e)
              .transform(Epoch.events)
            Replay.decodeForMerge(ev, registry, None).updates.withColumn("epoch", lit(e))
          }.reduce(_.unionByName(_))
          dec.write.mode("overwrite").parquet(s"$root/decoded")
          s.read.parquet(s"$root/decoded").filter(col("epoch") === 1)
            .agg(max("seq")).head().getLong(0)
        }
        clock("replay") { Replay.replayLog(s, logDir, tableDir, buckets = 8) }
        import graft.lake.Scd2
        Scd2.create(tableDir, scdDir)
        val st = clock("apply") { Scd2.apply(s, tableDir, scdDir) }
        require(st.applied && st.fromVersion == 0 && st.toVersion == 3,
          s"one apply must span the whole (0,3] window, got $st")
        val proj = Seq(col("repo"), col("path"), col("commit"), col("lang"),
          sha2(col("content"), 256).as("content_sha"), col("author"))
        val asOf = clock("asof") {
          Scd2.asOf(s, scdDir, sMax).select(proj :+ col("valid_from"): _*)
            .localCheckpoint()
        }
        // the cross-path hard assert: interval read ≡ snapshot time travel
        val travel = IceLite.read(s, IceLite.loadVersion(tableDir, 2)).select(proj: _*)
        val a = asOf.drop("valid_from")
        require(a.exceptAll(travel).isEmpty && travel.exceptAll(a).isEmpty,
          "asOf(s) must equal time travel to the post-epoch-1 snapshot")
        asOf.orderBy("repo", "path")
      },
      Some(s"""WITH d AS (SELECT * FROM parquet_scan('${workDir("q78")}/decoded/*.parquet')),
        v AS (SELECT * FROM (SELECT *, row_number()
              OVER (PARTITION BY repo, path, epoch ORDER BY seq DESC) AS rn FROM d) t
              WHERE rn = 1),
        tl AS (SELECT *, lead(seq) OVER (PARTITION BY repo, path ORDER BY seq) AS next_seq
               FROM v),
        sm AS (SELECT max(seq) AS s FROM d WHERE epoch = 1)
        SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author,
               seq AS valid_from
        FROM tl, sm WHERE op <> 'DELETE' AND seq <= sm.s
          AND (next_seq IS NULL OR next_seq > sm.s)
        ORDER BY repo, path""")),

    OpQuery("q79_streaming_scd2",
      // STREAMING INGEST + TYPE-2 SCD composed under the hard gate: a Tail
      // stream consumes the log in two waves (wave 2 resumes from wave 1's
      // checkpoint) and Scd2.apply advances the dimension history after
      // each wave, reading its own watermark from the current-table ledger.
      // Each 3-file wave fits one microbatch (maxFilesPerTrigger), so a
      // wave is one merge epoch — hard-asserted via the table version —
      // and the oracle can re-derive the intervals from a per-(key, wave)
      // LWW fold + lead(seq).
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q79")
        val root = workDir("q79")
        val streamDir = s"$root/stream"
        val tableDir = s"$root/table"
        val scdDir = s"$root/scd"
        val ckpt = s"$root/ckpt"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val p = LogGen.Params(nEvents = 3000, nRepos = 40, pathsPerRepo = 30,
          v1Fraction = 0.7)
        val ev = LogGen.events(s, p)
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          Seq(col("offset") < 1500, col("offset") >= 1500).zipWithIndex.map {
            case (cond, w) =>
              Replay.decodeForMerge(
                Epoch.events(ev.filter(cond)), registry, None)
                .updates.withColumn("wave", lit(w))
          }.reduce(_.unionByName(_)).write.mode("overwrite").parquet(s"$root/decoded")
        }
        import graft.lake.Scd2
        var prevTo = 0
        Seq(col("offset") < 1500, col("offset") >= 1500).zipWithIndex.foreach {
          case (cond, w) =>
            ev.filter(cond).repartition(3).write.mode("append").parquet(streamDir)
            clock(s"ingest$w") {
              graft.cdc.Tail.start(s, streamDir, tableDir, ckpt, buckets = 8,
                maxFilesPerTrigger = 8).awaitTermination()
            }
            require(IceLite.load(tableDir).version == w + 1,
              s"wave $w must land as exactly one merge epoch")
            if (w == 0) Scd2.create(tableDir, scdDir)
            val st = clock(s"apply$w") { Scd2.apply(s, tableDir, scdDir) }
            require(st.applied && st.fromVersion == prevTo,
              s"wave-$w apply must resume at the previous watermark: $st")
            prevTo = st.toVersion
            putMetric("q79", s"apply${w}_changed_keys", st.changedKeys.toDouble)
        }
        require(!Scd2.apply(s, tableDir, scdDir).applied,
          "a replayed apply must fence as a no-op")
        Scd2.read(s, scdDir)
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"),
            col("valid_from"), col("valid_to"), col("is_current"))
          .orderBy("repo", "path", "valid_from")
      },
      Some(s"""WITH d AS (SELECT * FROM parquet_scan('${workDir("q79")}/decoded/*.parquet')),
        v AS (SELECT * FROM (SELECT *, row_number()
              OVER (PARTITION BY repo, path, wave ORDER BY seq DESC) AS rn FROM d) t
              WHERE rn = 1),
        tl AS (SELECT *, lead(seq) OVER (PARTITION BY repo, path ORDER BY seq) AS next_seq
               FROM v)
        SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author,
               seq AS valid_from, next_seq AS valid_to,
               (next_seq IS NULL) AS is_current
        FROM tl WHERE op <> 'DELETE' ORDER BY repo, path, valid_from""")),

    OpQuery("q80_deadletter_retry",
      // DEAD-LETTER RETRY under the hard gate — the loop the reference's
      // three routes exist for: operators fix the cause and re-run the
      // failed originals. Replay runs against a registry MISSING schema v2
      // (~30% of events dead-letter as invalid_schema) plus some corrupt
      // payloads (route=error); the retry re-decodes the store with the
      // FIXED registry and merges in one fenced epoch. seq travels inside
      // the payload, so the fold converges to the state the table would
      // have reached had nothing failed (the oracle: clean decode minus
      // only the corrupt offsets) — and the v2 rows arriving via retry
      // drive the author-column schema evolution on the fly. Corrupt rows
      // must SURVIVE the retry; a replayed retry must fence.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q80")
        val root = workDir("q80")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 2)
        }
        val log = s.read.parquet(logDir)
        val registry = s.sparkContext.broadcast(Cdc.registry)
        clock("decode_dump") {
          val ev = log
            .transform(Epoch.events)
          graft.decode.Decode.success(graft.decode.Decode.decode(
            ev, registry, graft.registry.SchemaKey(Cdc.SchemaId, -1), Cdc.MessageType))
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        // corrupt offsets ≡ 3 (mod 20): these must dead-letter FOREVER
        log.withColumn("payload",
            when(col("offset") % 20 === 3, lit(Array(0xFF.toByte))).otherwise(col("payload")))
          .write.partitionBy("epoch").mode("overwrite").parquet(s"$root/badlog")
        val nCorrupt = log.filter(col("offset") % 20 === 3).count()
        val nV2 = log.filter(col("offset") % 20 =!= 3 && col("schemaVersion") === 2).count()
        // schema resolution precedes payload parsing, so under the v1-only
        // registry EVERY v2 event (corrupt or not) routes invalid_schema;
        // only corrupt v1 events reach the parser and route error
        val nV2all = log.filter(col("schemaVersion") === 2).count()
        val nCorruptV1 = log.filter(col("offset") % 20 === 3 && col("schemaVersion") === 1).count()
        clock("replay_v1only") {
          Replay.replayLog(s, s"$root/badlog", tableDir, buckets = 8,
            baseRegistry = Some(Cdc.registryV1Only))
        }
        val dl = s.read.parquet(s"$tableDir/_deadletter")
        require(dl.filter(col("route") === "invalid_schema").count() == nV2all,
          s"expected $nV2all invalid_schema dead letters before the fix")
        require(dl.filter(col("route") === "error").count() == nCorruptV1,
          s"expected $nCorruptV1 error dead letters")
        val st = clock("retry") {
          Replay.retryDeadLetters(s, tableDir, registry, "retry-1")
        }
        require(st.applied && st.merged == nV2 && st.remaining == nCorrupt,
          s"retry must merge the $nV2 fixed events and keep the $nCorrupt corrupt ones: $st")
        require(s.read.parquet(s"$tableDir/_deadletter").count() == nCorrupt,
          "the store must hold exactly the still-failing rows after the swap")
        val again = Replay.retryDeadLetters(s, tableDir, registry, "retry-1")
        require(!again.applied && again.remaining == nCorrupt,
          s"a replayed retry must fence as a no-op: $again")
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      // v1-origin winners carry proto3-default '' in the clean decode but
      // NULL in the table (ingested before the schema HAD the column, then
      // null-filled by evolution — the correct lake semantics); nullif
      // models exactly that
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha,
               nullif(author, '') AS author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q80")}/decoded/*.parquet')
              WHERE "offset" % 20 <> 3) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q81_bootstrap_switchover",
      // SNAPSHOT BOOTSTRAP + OVERLAPPING SWITCH-OVER under the hard gate:
      // attach to an "existing" table by bulk-loading its consistent
      // snapshot (the LWW fold of epochs 0-1, each row at its original
      // sequence) as one fenced epoch, then replay the change log FROM
      // EPOCH 1 — every epoch-1 event is re-delivered on top of a snapshot
      // that already includes it (at-least-once overlap), and the LWW
      // merge must absorb the duplicates. The oracle is the clean fold of
      // ALL THREE epochs: a dropped snapshot row, a duplicate-applied
      // overlap event, or a mis-sequenced bootstrap row all break it.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q81")
        val root = workDir("q81")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") {
          dumpDecodedByEpoch(s, logDir, root, epochs = 3)
        }
        // the consistent snapshot: LWW fold of epochs 0-1, live rows only,
        // each carrying its winner's ORIGINAL sequence
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("repo", "path").orderBy(col("seq").desc)
        val snapshot = s.read.parquet(s"$root/decoded").filter(col("epoch") <= 1)
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .filter(col("op") =!= "DELETE")
          .select("repo", "path", "commit", "lang", "content", "author", "seq")
        val bs = clock("bootstrap") {
          Replay.bootstrap(s, snapshot, "seq", tableDir, buckets = 8)
        }
        require(bs.applied && bs.batchRows == snapshot.count(),
          s"bootstrap must load the full snapshot: $bs")
        // switch over at epoch 1: epochs 1-2 re-delivered (epoch 1 OVERLAPS)
        val tail = s"$root/logtail"
        (1 until 3).foreach { e =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tail))
          java.nio.file.Files.move(
            java.nio.file.Paths.get(logDir, s"epoch=$e"),
            java.nio.file.Paths.get(tail, s"epoch=$e"))
        }
        clock("replay_tail") { Replay.replayLog(s, tail, tableDir, buckets = 8) }
        require(IceLite.load(tableDir).version == 3,
          "bootstrap + 2 log epochs = 3 commits")
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q81")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q83_replication",
      // LOGICAL REPLICATION under the hard gate: seed a replica from the
      // source's v1 snapshot (every live row at its original sequence,
      // read AS OF — not the head), then converge it by shipping each
      // later version's change feed as one fenced epoch. Replication is
      // logical, so the replica uses a DIFFERENT bucket count; re-shipping
      // a version must fence. Hard-asserts replica ≡ source row-for-row,
      // then both are checked against the decoded-dump fold.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q83")
        val root = workDir("q83")
        val logDir = s"$root/log"
        val aDir = s"$root/source"
        val bDir = s"$root/replica"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = s.read.parquet(logDir)
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        clock("replay_source") { Replay.replayLog(s, logDir, aDir, buckets = 8) }
        // seed: the source AS OF v1, every live row at its original seq
        clock("bootstrap_replica") {
          val v1 = IceLite.loadVersion(aDir, 1)
          val snap = IceLite.read(s, v1, includeHidden = true)
            .filter(!coalesce(col(IceLite.DelCol.name), lit(false)))
            .drop(IceLite.DelCol.name)
          Replay.bootstrap(s, snap, IceLite.SeqCol.name, bDir, buckets = 4)
        }
        // converge: ship v2 and v3's change feeds
        (2 to 3).foreach { v =>
          val st = clock(s"ship_v$v") {
            Replay.applyChanges(s, IceLite.changes(s, aDir, v - 1, v),
              bDir, s"repl-$v", buckets = 4,
              feedRowsHint = Some(IceLite.changesRowEstimate(aDir, v - 1, v)))
          }
          require(st.applied, s"shipping v$v must apply: $st")
          putMetric("q83", s"ship_v${v}_rows", st.batchRows.toDouble)
        }
        require(!Replay.applyChanges(s, IceLite.changes(s, aDir, 2, 3),
            bDir, "repl-3", buckets = 4).applied,
          "re-shipping a version must fence as a no-op")
        val proj = Seq(col("repo"), col("path"), col("commit"), col("lang"),
          sha2(col("content"), 256).as("content_sha"), col("author"))
        val a = IceLite.read(s, IceLite.load(aDir)).select(proj: _*)
        val b = IceLite.read(s, IceLite.load(bDir)).select(proj: _*)
        require(b.exceptAll(a).isEmpty && a.exceptAll(b).isEmpty,
          "replica must equal the source row-for-row")
        b.orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q83")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q46_time_travel",
      // SNAPSHOT TIME TRAVEL under the hard gate: replay 3 epochs, then
      // read the table AS OF the snapshot after epoch 1 (version 2 — v0 is
      // create). The oracle folds ONLY epochs 0-1 of the decoded log, so a
      // version read that leaks later files (or prunes an older one)
      // breaks equality. Exercises loadVersion + per-version manifest
      // resolution + merge-on-read LWW over the historical file set.
      (s, _) => {
        import s.implicits._
        val root = workDir("q46")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        dumpDecodedByEpoch(s, logDir, root, epochs = 3)
        Replay.replayLog(s, logDir, tableDir, buckets = 8)
        IceLite.read(s, IceLite.loadVersion(tableDir, 2))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q46")}/decoded/*.parquet') WHERE epoch <= 1) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q50_drop_column_travel",
      // SCHEMA DDL + TIME TRAVEL under the hard gate: replay epochs 0-1,
      // DROP the `lang` column mid-history (IceLite.dropColumn — the field
      // id is RETIRED), then replay epoch 2, whose events STILL carry lang
      // (same writer descriptors) and must not resurrect it through
      // Merge.evolve. The result reads the table twice: AS OF the pre-drop
      // snapshot (old versions keep their projection — lang present with
      // values) and CURRENT (lang gone; emitted as typed NULL so the halves
      // union). The oracle folds the decoded dump for epochs 0-1 WITH lang
      // and for all epochs with lang NULL — a drop leaking into old
      // versions, a resurrection via epoch 2, or a wrong current projection
      // all break equality.
      (s, _) => {
        import s.implicits._
        val root = workDir("q50")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        dumpDecodedByEpoch(s, logDir, root, epochs = 3)
        // split the log so the DDL lands mid-history: epochs 0-1, DDL, epoch 2
        val log01 = s"$root/log01"; val log2 = s"$root/log2"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(log01))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(log2))
        Seq(0, 1).foreach(e => java.nio.file.Files.move(
          java.nio.file.Paths.get(logDir, s"epoch=$e"),
          java.nio.file.Paths.get(log01, s"epoch=$e")))
        java.nio.file.Files.move(
          java.nio.file.Paths.get(logDir, "epoch=2"),
          java.nio.file.Paths.get(log2, "epoch=2"))
        Replay.replayLog(s, log01, tableDir, buckets = 8) // snapshots v1, v2
        val preDrop = IceLite.load(tableDir).version
        IceLite.dropColumn(tableDir, "ddl-0", "lang") // v3: lang retired
        Replay.replayLog(s, log2, tableDir, buckets = 8) // v4: must not resurrect lang
        val cur = IceLite.read(s, IceLite.load(tableDir))
        require(!cur.columns.contains("lang"),
          "dropColumn must remove lang from the current projection")
        val curHalf = cur.select(lit("cur").as("as_of"),
          col("repo"), col("path"), col("commit"),
          lit(null).cast("string").as("lang"),
          sha2(col("content"), 256).as("content_sha"), col("author"))
        val asofHalf = IceLite.read(s, IceLite.loadVersion(tableDir, preDrop))
          .select(lit("v2").as("as_of"),
            col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
        curHalf.unionByName(asofHalf).orderBy("as_of", "repo", "path")
      },
      Some(s"""WITH d AS (SELECT * FROM parquet_scan('${workDir("q50")}/decoded/*.parquet'))
        SELECT * FROM (
          SELECT 'cur' AS as_of, repo, path, "commit", CAST(NULL AS VARCHAR) AS lang,
                 sha256(content) AS content_sha, author
          FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
                FROM d) t
          WHERE rn = 1 AND op <> 'DELETE'
          UNION ALL
          SELECT 'v2' AS as_of, repo, path, "commit", lang,
                 sha256(content) AS content_sha, author
          FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
                FROM d WHERE epoch <= 1) t2
          WHERE rn = 1 AND op <> 'DELETE') u
        ORDER BY as_of, repo, path""")),

    OpQuery("q62_rename_travel",
      // RENAME DDL + TIME TRAVEL under the hard gate: replay epochs 0-1,
      // RENAME `author` → `author_name` (metadata-only; the field id is
      // PINNED), then replay epoch 2 whose writer descriptors still say
      // `author`. Three things must hold at once: (a) the current read
      // serves `author_name` — including epoch-2 VALUES, which land via
      // field-id-matched batch normalization despite the old name; (b) the
      // pin stops epoch 2's descriptors renaming the column back; (c) AS OF
      // the pre-rename snapshot still serves `author`. The oracle folds the
      // decoded dump (where the column is always `author`) for both legs —
      // null-filled epoch-2 authors, a reverted rename, or a mutated old
      // snapshot all break equality or throw.
      (s, _) => {
        import s.implicits._
        val root = workDir("q62")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        dumpDecodedByEpoch(s, logDir, root, epochs = 3)
        val log01 = s"$root/log01"; val log2 = s"$root/log2"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(log01))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(log2))
        Seq(0, 1).foreach(e => java.nio.file.Files.move(
          java.nio.file.Paths.get(logDir, s"epoch=$e"),
          java.nio.file.Paths.get(log01, s"epoch=$e")))
        java.nio.file.Files.move(
          java.nio.file.Paths.get(logDir, "epoch=2"),
          java.nio.file.Paths.get(log2, "epoch=2"))
        Replay.replayLog(s, log01, tableDir, buckets = 8)
        val preRename = IceLite.load(tableDir).version
        IceLite.renameColumn(tableDir, "ddl-rn", "author", "author_name")
        Replay.replayLog(s, log2, tableDir, buckets = 8) // old descriptors say `author`
        val cur = IceLite.read(s, IceLite.load(tableDir))
        require(cur.columns.contains("author_name") && !cur.columns.contains("author"),
          "rename must hold after old-descriptor epochs (pinned id)")
        val curHalf = cur.select(lit("cur").as("as_of"),
          col("repo"), col("path"), col("commit"),
          sha2(col("content"), 256).as("content_sha"),
          col("author_name"))
        val oldSnap = IceLite.read(s, IceLite.loadVersion(tableDir, preRename))
        require(oldSnap.columns.contains("author") && !oldSnap.columns.contains("author_name"),
          "pre-rename snapshot must keep the old name")
        val asofHalf = oldSnap.select(lit("v2").as("as_of"),
          col("repo"), col("path"), col("commit"),
          sha2(col("content"), 256).as("content_sha"),
          col("author").as("author_name"))
        curHalf.unionByName(asofHalf).orderBy("as_of", "repo", "path")
      },
      Some(s"""WITH d AS (SELECT * FROM parquet_scan('${workDir("q62")}/decoded/*.parquet'))
        SELECT * FROM (
          SELECT 'cur' AS as_of, repo, path, "commit",
                 sha256(content) AS content_sha, author AS author_name
          FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
                FROM d) t
          WHERE rn = 1 AND op <> 'DELETE'
          UNION ALL
          SELECT 'v2' AS as_of, repo, path, "commit",
                 sha256(content) AS content_sha, author AS author_name
          FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
                FROM d WHERE epoch <= 1) t2
          WHERE rn = 1 AND op <> 'DELETE') u
        ORDER BY as_of, repo, path""")),

    OpQuery("q42_point_lookup",
      // the lake's primary-key GET under the hard gate: replay a seeded
      // log, then serve the 20 smallest live keys via IceLite.lookup —
      // host-side xxhash64 bucket derivation (no Spark job), footer
      // key-bounds file pruning, pushed key filters, merge-on-read LWW
      // within the bucket. The oracle re-derives those keys' final rows
      // from the decoded dump (LWW fold, first 20 live keys by key order) —
      // a wrong bucket, an over-pruned file, or a stale LWW winner all
      // break equality.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q42")
        val root = workDir("q42")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 2)
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = s.read.parquet(logDir)
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        clock("replay") { Replay.replayLog(s, logDir, tableDir, buckets = 8) }
        val snap = IceLite.load(tableDir)
        // the probe set: the 20 smallest live keys (the oracle derives the
        // same set from the dump, so it is data-deterministic on both sides)
        val keys = clock("key_list") {
          IceLite.read(s, snap).select("repo", "path")
            .orderBy("repo", "path").limit(20)
            .as[(String, String)].collect()
        }
        // each lookup is SERVED (collected) individually so the per-lookup
        // latency — the number a real serving path regresses against — is a
        // visible metric (lookup_*_ms below), not buried in one union plan.
        // Every key is ALSO served through the host-side lookupLocal (no
        // Spark job: footer-pruned driver parquet read + LWW fold) and
        // hard-asserted equal column by column — so the oracle gate covers
        // the serving path too; its latency lands next to the Spark one.
        val latencies = scala.collection.mutable.ArrayBuffer.empty[Double]
        val localLat = scala.collection.mutable.ArrayBuffer.empty[Double]
        // one untimed warmup through each path: serving latency is a
        // warm-process number (the cold first call pays one-time JIT/
        // classloading, not per-lookup work — LookupBench shows the floor)
        keys.headOption.foreach { case (r, p) =>
          IceLite.lookup(s, snap, Map("repo" -> r, "path" -> p)).collect()
          IceLite.lookupLocal(snap, Map("repo" -> r, "path" -> p))
        }
        val result = clock("lookups") {
          var schema: org.apache.spark.sql.types.StructType = null
          val sha = java.security.MessageDigest.getInstance("SHA-256")
          val rows = keys.toSeq.flatMap { case (r, p) =>
            val t0 = System.nanoTime()
            val df = IceLite.lookup(s, snap, Map("repo" -> r, "path" -> p))
              .select(col("repo"), col("path"), col("commit"), col("lang"),
                sha2(col("content"), 256).as("content_sha"), col("author"))
            schema = df.schema
            val out = df.collect()
            latencies += (System.nanoTime() - t0) / 1e6
            val t1 = System.nanoTime()
            val loc = IceLite.lookupLocal(snap, Map("repo" -> r, "path" -> p))
            localLat += (System.nanoTime() - t1) / 1e6
            require(loc.isDefined && out.length == 1,
              s"lookupLocal/lookup disagree on presence of ($r, $p)")
            val m = loc.get
            val contentBytes = m("content") match {
              case b: Array[Byte] => b
              case s2: String => s2.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            }
            val locSha = sha.digest(contentBytes).map(b => f"$b%02x").mkString
            val same = Seq("repo" -> m("repo"), "path" -> m("path"),
              "commit" -> m("commit"), "lang" -> m("lang"),
              "content_sha" -> locSha, "author" -> m("author"))
              .forall { case (cn, lv) => lv == out(0).getAs[Any](cn) }
            require(same, s"lookupLocal row differs from Spark lookup for ($r, $p)")
            out.toSeq
          }
          import scala.jdk.CollectionConverters._
          s.createDataFrame(rows.asJava, schema).orderBy("repo", "path")
        }
        def stat(xs: Seq[Double], which: String): Unit = {
          val sorted = xs.sorted
          putMetric("q42", s"${which}_min_ms", sorted.head)
          putMetric("q42", s"${which}_med_ms", sorted(sorted.length / 2))
          putMetric("q42", s"${which}_max_ms", sorted.last)
        }
        stat(latencies.toSeq, "lookup")
        stat(localLat.toSeq, "lookup_local")
        result
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q42")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path LIMIT 20""")),

    OpQuery("q61_bloom_lookup",
      // point lookups against a DELTA-HEAVY table (5 uncompacted epochs):
      // the manifest-carried per-file key blooms (KeyBloom) must cut the
      // candidate file set hard — delta files are hash-sharded, so key
      // bounds prune nothing inside a bucket and, without blooms, every
      // epoch's delta files get opened per GET. The gate hard-asserts the
      // pruning ratio (≥2x on live keys, ≥5x on absent keys) AND serves
      // every probed key through BOTH lookup paths; the oracle re-derives
      // the served rows from the decoded dump (LWW fold) — an over-eager
      // bloom (false negative) surfaces as a missing/stale row here.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q61")
        val root = workDir("q61")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 6000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 5)
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = s.read.parquet(logDir)
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        // deltaThreshold raised past any reachable per-bucket file count so
        // NO bucket compacts inline: the fixture is delta-heavy by
        // construction, not by task-count accident (at low parallelism the
        // default threshold flips boundary buckets into COW and collapses
        // the delta layout this gate exists to exercise). The per-task row
        // target is pinned low for the same reason: the scale-adaptive
        // merge sizing would write ONE file per bucket per epoch here, and
        // the many-small-delta-files regime is exactly what this bloom
        // gate exists to measure.
        graft.Conf.withConf(s, "spark.graft.merge.targetRowsPerTask" -> "64") {
          clock("replay") { Replay.replayLog(s, logDir, tableDir, buckets = 8,
            deltaThreshold = 1000) }
        }
        val snap = IceLite.load(tableDir)
        val deltas = snap.files.filter(_.delta)
        require(deltas.length >= 5 * 8,
          s"fixture must be delta-heavy (got ${deltas.length} delta files)")
        require(deltas.forall(_.bloom.isDefined), "delta files must carry blooms")
        val noBloom = snap.copy(files = snap.files.map(_.copy(bloom = None)))

        val keyPool = clock("key_list") {
          IceLite.read(s, snap).select("repo", "path")
            .orderBy("repo", "path").limit(120)
            .as[(String, String)].collect()
        }
        val keys = keyPool.take(20)
        keys.headOption.foreach { case (r, p) => // JIT/classload warmup
          IceLite.lookupLocal(snap, Map("repo" -> r, "path" -> p))
        }
        var candWith = 0L; var candWithout = 0L
        val localLat = scala.collection.mutable.ArrayBuffer.empty[Double]
        val result = clock("lookups") {
          var schema: org.apache.spark.sql.types.StructType = null
          val sha = java.security.MessageDigest.getInstance("SHA-256")
          val rows = keys.toSeq.flatMap { case (r, p) =>
            val key = Map[String, Any]("repo" -> r, "path" -> p)
            candWith += IceLite.lookupFiles(snap, key).length
            candWithout += IceLite.lookupFiles(noBloom, key).length
            val t0 = System.nanoTime()
            val loc = IceLite.lookupLocal(snap, key)
            localLat += (System.nanoTime() - t0) / 1e6
            val df = IceLite.lookup(s, snap, key)
              .select(col("repo"), col("path"), col("commit"), col("lang"),
                sha2(col("content"), 256).as("content_sha"), col("author"))
            schema = df.schema
            val out = df.collect()
            require(loc.isDefined && out.length == 1,
              s"lookupLocal/lookup disagree on presence of ($r, $p)")
            val m = loc.get
            val contentBytes = m("content") match {
              case b: Array[Byte] => b
              case s2: String => s2.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            }
            val locSha = sha.digest(contentBytes).map(b => f"$b%02x").mkString
            val same = Seq("repo" -> m("repo"), "path" -> m("path"),
              "commit" -> m("commit"), "lang" -> m("lang"),
              "content_sha" -> locSha, "author" -> m("author"))
              .forall { case (cn, lv) => lv == out(0).getAs[Any](cn) }
            require(same, s"lookupLocal row differs from Spark lookup for ($r, $p)")
            out.toSeq
          }
          import scala.jdk.CollectionConverters._
          s.createDataFrame(rows.asJava, schema).orderBy("repo", "path")
        }
        // absent keys: the dedup/existence-check workload — blooms should
        // answer nearly all of them with ZERO file opens. Ghost keys are
        // DERIVED from live ones (real repo, live path + suffix) so they
        // land INSIDE the per-file key bounds — bounds prune nothing, the
        // bloom is what answers the probe
        var ghostWith = 0L; var ghostWithout = 0L
        clock("absent_probes") {
          keyPool.takeRight(20).foreach { case (r, p) =>
            val key = Map[String, Any]("repo" -> r, "path" -> s"$p!g")
            ghostWith += IceLite.lookupFiles(snap, key).length
            ghostWithout += IceLite.lookupFiles(noBloom, key).length
            require(IceLite.lookupLocal(snap, key).isEmpty, s"ghost key $key served")
          }
        }
        require(candWith * 2 <= candWithout,
          s"blooms must prune ≥2x on live keys: $candWith vs $candWithout")
        require(ghostWith * 5 <= ghostWithout,
          s"blooms must prune ≥5x on absent keys: $ghostWith vs $ghostWithout")
        putMetric("q61", "live_files_bloom", candWith.toDouble)
        putMetric("q61", "live_files_bounds_only", candWithout.toDouble)
        putMetric("q61", "absent_files_bloom", ghostWith.toDouble)
        putMetric("q61", "absent_files_bounds_only", ghostWithout.toDouble)
        val sorted = localLat.sorted
        putMetric("q61", "lookup_local_med_ms", sorted(sorted.length / 2))
        result
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q61")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path LIMIT 20""")),

    OpQuery("q64_secondary_index",
      // SECONDARY BLOOM INDEX under the hard gate: replay epochs 0-1,
      // CREATE INDEX on the non-key `commit` column mid-history
      // (addBloomIndex backfills per-bucket value blooms from the resolved
      // state), then replay epoch 2 — whose merge must keep the index
      // fresh by OR-ing its values in. Two probes run through readWhere
      // (bucket-pruned equality read): the min commit of the final state
      // and the min SURVIVING commit introduced in epoch 2 (indexed only
      // via the upkeep path). The gate hard-asserts real pruning (≤ half
      // the buckets per probe; ≤1 for an absent value); the oracle
      // re-derives both probes from the decoded dump — a bloom false
      // negative (a pruned bucket that held a matching row) surfaces as a
      // missing row here.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q64")
        val root = workDir("q64")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") {
          dumpDecodedByEpoch(s, logDir, root, epochs = 3)
        }
        val log01 = s"$root/log01"; val log2 = s"$root/log2"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(log01))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(log2))
        Seq(0, 1).foreach(e => java.nio.file.Files.move(
          java.nio.file.Paths.get(logDir, s"epoch=$e"),
          java.nio.file.Paths.get(log01, s"epoch=$e")))
        java.nio.file.Files.move(
          java.nio.file.Paths.get(logDir, "epoch=2"),
          java.nio.file.Paths.get(log2, "epoch=2"))
        clock("replay01") { Replay.replayLog(s, log01, tableDir, buckets = 8) }
        clock("index_backfill") {
          IceLite.addBloomIndex(s, tableDir, "idx-commit", "commit")
        }
        clock("replay2") { Replay.replayLog(s, log2, tableDir, buckets = 8) }
        val snap = IceLite.load(tableDir)
        require(snap.indexedCols == Set("commit"),
          "index must survive the epoch-2 merge")
        val (probeA, probeB) = clock("pick_probes") {
          val fin = IceLite.read(s, snap)
          val a = fin.agg(min("commit")).as[String].head()
          val intro2 = s.read.parquet(s"$root/decoded")
            .groupBy("commit").agg(min("epoch").as("e0"))
            .filter(col("e0") === 2).select("commit")
          val b = fin.join(intro2, "commit").agg(min("commit")).as[String].head()
          (a, b)
        }
        require(probeB != null,
          "epoch 2 must introduce at least one surviving commit")
        Seq(probeA, probeB).foreach { v =>
          val bs = IceLite.bucketsForValue(snap, "commit", v)
          require(bs.size * 2 <= snap.buckets,
            s"index must prune: value $v in ${bs.size}/${snap.buckets} buckets")
        }
        val ghost = IceLite.bucketsForValue(snap, "commit", probeA + "!g")
        require(ghost.size <= 1, s"absent value must prune to ~0 buckets: $ghost")
        putMetric("q64", "probe_buckets",
          IceLite.bucketsForValue(snap, "commit", probeA).size.toDouble)
        putMetric("q64", "total_buckets", snap.buckets.toDouble)
        Seq(probeA, probeB).distinct
          .map(v => IceLite.readWhere(s, snap, "commit", v))
          .reduce(_.unionByName(_))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""WITH d AS (SELECT * FROM parquet_scan('${workDir("q64")}/decoded/*.parquet')),
        fold AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
                 FROM d) t WHERE rn = 1 AND op <> 'DELETE'),
        intro2 AS (SELECT "commit" FROM d GROUP BY 1 HAVING min(epoch) = 2)
        SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM fold
        WHERE "commit" IN ((SELECT min("commit") FROM fold),
                           (SELECT min(f."commit") FROM fold f JOIN intro2 i ON f."commit" = i."commit"))
        ORDER BY repo, path""")),

    OpQuery("q65_incremental_matview",
      // INCREMENTAL MATERIALIZED VIEW under the hard gate: a grouped
      // aggregate (count + sum(length(content)) BY repo, lang) maintained
      // from the change feed by RETRACTION — three per-epoch refreshes,
      // each O(changed keys), never a recompute. A path changing lang
      // moves its key BETWEEN groups, so retraction must hit the old group.
      // The gate hard-asserts incrementality (per-refresh changed keys <
      // table keys) and fencing (a replayed refresh is a no-op); the
      // oracle recomputes the aggregate from the decoded dump's LWW fold —
      // any retraction error (missed pre-image, double-applied delta,
      // un-deleted empty group) breaks equality.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q65")
        val root = workDir("q65")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        val mvDir = s"$root/mv"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = s.read.parquet(logDir)
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        // three separate replay+refresh rounds: split the log per epoch
        val epochDirs = (0 until 3).map { e =>
          val d = s"$root/log$e"
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
          java.nio.file.Files.move(
            java.nio.file.Paths.get(logDir, s"epoch=$e"),
            java.nio.file.Paths.get(d, s"epoch=$e"))
          d
        }
        import graft.lake.MatView
        var totalChanged = 0L
        (0 until 3).foreach { e =>
          clock(s"replay$e") { Replay.replayLog(s, epochDirs(e), tableDir, buckets = 8) }
          if (e == 0) MatView.create(tableDir, mvDir, MatView.Spec(
            Vector("repo", "lang"), Vector("content_len" -> "length(content)")))
          val r = clock(s"refresh$e") { MatView.refresh(s, tableDir, mvDir) }
          require(r.applied && r.toVersion == e + 1,
            s"refresh $e must apply up to src v${e + 1}, got $r")
          totalChanged += r.changedKeys
          putMetric("q65", s"refresh${e}_changed_keys", r.changedKeys.toDouble)
          putMetric("q65", s"refresh${e}_touched_groups", r.touchedGroups.toDouble)
        }
        val tableKeys = graft.lake.IceLite.read(s, graft.lake.IceLite.load(tableDir)).count()
        require(totalChanged < 3 * tableKeys,
          s"refreshes must be O(delta): $totalChanged changed vs $tableKeys keys x3")
        val again = MatView.refresh(s, tableDir, mvDir)
        require(!again.applied, "a replayed refresh must fence as a no-op")
        MatView.read(s, mvDir)
          .select("repo", "lang", "cnt", "content_len")
          .orderBy("repo", "lang")
      },
      Some(s"""SELECT repo, lang, count(*) AS cnt,
               CAST(sum(length(content)) AS BIGINT) AS content_len
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q65")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE'
        GROUP BY repo, lang ORDER BY repo, lang""")),

    OpQuery("q209_matview_minmax",
      // MIN/MAX MATERIALIZED VIEW under the hard gate — the
      // NON-SELF-MAINTAINABLE aggregates (Gupta & Mumick): count/sum fix
      // themselves from a retraction delta, but deleting (or updating
      // away) the row that achieved a group's extremum leaves the new
      // extremum unknown. The refresh splits touched groups per column:
      // un-threatened extrema take the cheap least/greatest path;
      // threatened ones RECOMPUTE from the source head, pruned to exactly
      // those groups through the lang column's value-bloom index (q64
      // machinery). Three per-epoch refreshes over a log with deletes and
      // updates; hard-asserted: the threatened path actually fired
      // (recomputed ≥ 1 somewhere), it stayed partial (every refresh
      // recomputed fewer groups than it touched), and a replayed refresh
      // fences. The oracle recomputes cnt/sum/min/max from the decoded
      // LWW fold — a stale extremum surviving its achiever's deletion is
      // exactly what breaks equality.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q209")
        val root = workDir("q209")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        val mvDir = s"$root/mv"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = s.read.parquet(logDir)
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        val epochDirs = (0 until 3).map { e =>
          val d = s"$root/log$e"
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
          java.nio.file.Files.move(
            java.nio.file.Paths.get(logDir, s"epoch=$e"),
            java.nio.file.Paths.get(d, s"epoch=$e"))
          d
        }
        import graft.lake.MatView
        var recomputedTotal = 0L
        (0 until 3).foreach { e =>
          clock(s"replay$e") { Replay.replayLog(s, epochDirs(e), tableDir, buckets = 8) }
          if (e == 0) {
            // value-bloom index on the group column BEFORE the view exists:
            // the threatened-group recompute prunes its head read through it
            IceLite.addBloomIndex(s, tableDir, "idx-lang", "lang")
            MatView.create(tableDir, mvDir, MatView.Spec(
              Vector("lang"), Vector("content_len" -> "length(content)"),
              mins = Vector("min_len" -> "length(content)"),
              maxs = Vector("max_len" -> "length(content)")))
          }
          val r = clock(s"refresh$e") { MatView.refresh(s, tableDir, mvDir) }
          require(r.applied, s"refresh $e must apply, got $r")
          require(r.recomputedGroups <= r.touchedGroups ||
              r.touchedGroups == 0,
            s"recompute must stay partial: $r")
          recomputedTotal += r.recomputedGroups
          putMetric("q209", s"refresh${e}_recomputed_groups", r.recomputedGroups.toDouble)
          putMetric("q209", s"refresh${e}_touched_groups", r.touchedGroups.toDouble)
        }
        require(recomputedTotal >= 1,
          "gate is vacuous unless a threatened extremum forced a recompute")
        val again = MatView.refresh(s, tableDir, mvDir)
        require(!again.applied, "a replayed refresh must fence as a no-op")
        MatView.read(s, mvDir)
          .select("lang", "cnt", "content_len", "min_len", "max_len")
          .orderBy("lang")
      },
      Some(s"""SELECT lang, count(*) AS cnt,
               CAST(sum(length(content)) AS BIGINT) AS content_len,
               CAST(min(length(content)) AS BIGINT) AS min_len,
               CAST(max(length(content)) AS BIGINT) AS max_len
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q209")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE'
        GROUP BY lang ORDER BY lang""")),

    OpQuery("q66_clustered_scan",
      // CLUSTERING COMPACTION + RANGE-PRUNED SCAN under the hard gate:
      // replay epochs 0-1, compact with clusterBy=commit (each bucket
      // rewrites sorted by commit into ~4 range-contiguous files with
      // recorded bounds), then replay epoch 2 so live deltas sit on top.
      // A range read (commit BETWEEN '2' AND '5' — hex keys, ~3/16 of the
      // corpus) must skip most clustered base files (hard-asserted ≥2x)
      // while keeping every delta, and still serve EXACTLY the oracle's
      // rows — an unsound skip (a pruned file whose newest version a kept
      // stale delta would shadow) surfaces as a wrong/extra row here.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q66")
        val root = workDir("q66")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = s.read.parquet(logDir)
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        val log01 = s"$root/log01"; val log2 = s"$root/log2"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(log01))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(log2))
        Seq(0, 1).foreach(e => java.nio.file.Files.move(
          java.nio.file.Paths.get(logDir, s"epoch=$e"),
          java.nio.file.Paths.get(log01, s"epoch=$e")))
        java.nio.file.Files.move(
          java.nio.file.Paths.get(logDir, "epoch=2"),
          java.nio.file.Paths.get(log2, "epoch=2"))
        clock("replay01") { Replay.replayLog(s, log01, tableDir, buckets = 8) }
        clock("cluster") {
          graft.lake.Compaction.compact(s, tableDir, "q66-cluster",
            clusterBy = Some("commit"), filesPerBucket = 4)
        }
        clock("replay2") { Replay.replayLog(s, log2, tableDir, buckets = 8) }
        val snap = IceLite.load(tableDir)
        require(snap.files.exists(_.sortCol.contains("commit")),
          "clustered bounds must survive the epoch-2 merge")
        val cand = IceLite.rangeFiles(snap, "commit", "2", "5")
        // deltas are NEVER range-pruned (they're the small live tail); the
        // pruning claim is about the clustered BASE files, where the data
        // mass lives — assert on those, and report the rows-weighted
        // fraction (the number that scales)
        val baseAll = snap.files.filter(_.sortCol.contains("commit"))
        val baseKept = cand.filter(_.sortCol.contains("commit"))
        require(baseKept.size * 2 <= baseAll.size,
          s"range scan must skip most clustered files: ${baseKept.size}/${baseAll.size}")
        putMetric("q66", "base_files_kept", baseKept.size.toDouble)
        putMetric("q66", "base_files_total", baseAll.size.toDouble)
        putMetric("q66", "rows_scanned_frac",
          cand.map(_.rows).sum.toDouble / math.max(1L, snap.files.map(_.rows).sum))
        IceLite.readRange(s, snap, "commit", "2", "5")
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q66")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' AND "commit" >= '2' AND "commit" <= '5'
        ORDER BY repo, path""")),

    OpQuery("q84_log_compaction",
      // CHANGELOG COMPACTION under the hard gate: generate a seeded log
      // whose 4000 events churn only ~300 keys, compact it (per-key max-seq
      // survivor, payload bytes verbatim, tombstones + undecodables kept,
      // original epochs preserved), then REPLAY THE COMPACTED LOG into a
      // fresh table. The returned final state is compared against the
      // oracle's LWW fold of the FULL decoded log — any compaction error
      // (dropped tombstone, wrong argmax, lost epoch, re-encoded payload)
      // diverges the fold. Hard asserts: real shrinkage (≥3x), at least one
      // retained DELETE tombstone, and byte-verbatim survivors (each
      // surviving (partition, offset) carries the original payload sha).
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q84")
        val root = workDir("q84")
        val logDir = s"$root/log"
        val compDir = s"$root/compacted"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 4000, nRepos = 20,
            pathsPerRepo = 15, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = s.read.parquet(logDir)
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        val st = clock("compact") { graft.cdc.LogCompact.compactLog(s, logDir, compDir) }
        require(st.eventsOut * 3 <= st.eventsIn,
          s"compaction must shrink >=3x here: ${st.eventsOut}/${st.eventsIn}")
        require(st.tombstonesKept > 0, "a newest-event DELETE must survive as a tombstone")
        // byte-verbatim: every survivor's payload sha must exist at the SAME
        // (partition, offset) in the source log
        clock("verbatim_check") {
          val full = s.read.parquet(logDir)
            .select(col("partition"), col("offset"), sha2(col("payload"), 256).as("sha"))
          val comp = s.read.parquet(compDir)
            .select(col("partition"), col("offset"), sha2(col("payload"), 256).as("csha"))
          val bad = comp.join(full, Seq("partition", "offset"), "left")
            .filter(col("sha").isNull || col("sha") =!= col("csha")).count()
          require(bad == 0L, s"$bad survivors are not byte-verbatim copies of source events")
        }
        putMetric("q84", "events_in", st.eventsIn.toDouble)
        putMetric("q84", "events_out", st.eventsOut.toDouble)
        putMetric("q84", "tombstones_kept", st.tombstonesKept.toDouble)
        clock("replay_compacted") { Replay.replayLog(s, compDir, tableDir, buckets = 8) }
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q84")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q85_key_purge",
      // KEY ERASURE (right to be forgotten) under the hard gate: replay a
      // seeded 3-epoch log, pick the hottest live key, then purge it from
      // EVERY retained snapshot version — physical in-place rewrite of just
      // the files the lookup pruning stack can't rule out. Hard asserts:
      // the key was served by the head before the purge; after it, no
      // version (time travel), no point lookup, and no change-feed window
      // serves the key; pruning ruled out most files. The returned head
      // state is compared against the oracle's fold EXCLUDING the victim —
      // an over-purge (a non-victim row lost in a rewrite) or under-purge
      // (victim surviving anywhere) diverges it.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q85")
        val root = workDir("q85")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 30,
            pathsPerRepo = 20, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = s.read.parquet(logDir)
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        clock("replay") { Replay.replayLog(s, logDir, tableDir, buckets = 8) }
        // victim: the live key with the most change events (ties by key) —
        // the same rule the oracle's vic CTE derives from the same dump
        val (vRepo, vPath) = clock("pick_victim") {
          val dec = s.read.parquet(s"$root/decoded")
          val live = dec.withColumn("rn", row_number().over(
              org.apache.spark.sql.expressions.Window.partitionBy("repo", "path")
                .orderBy(col("seq").desc)))
            .filter(col("rn") === 1 && col("op") =!= "DELETE").select("repo", "path")
          dec.join(live, Seq("repo", "path")).groupBy("repo", "path").count()
            .orderBy(col("count").desc, col("repo"), col("path"))
            .select("repo", "path").as[(String, String)].head()
        }
        val key = Map[String, Any]("repo" -> vRepo, "path" -> vPath)
        require(IceLite.lookupLocal(IceLite.load(tableDir), key).nonEmpty,
          s"victim ($vRepo, $vPath) must be served before the purge")
        val st = clock("purge") { graft.lake.Purge.purgeKey(s, tableDir, key) }
        require(st.filesRewritten > 0 && st.rowsPurged > 0, s"purge found nothing: $st")
        require(st.filesCandidates < st.filesTotal,
          s"pruning must rule out files: $st")
        clock("erasure_check") {
          IceLite.history(tableDir).foreach { v =>
            require(IceLite.lookupLocal(IceLite.loadVersion(tableDir, v), key).isEmpty,
              s"version $v still serves the purged key")
          }
          val feed = IceLite.changes(s, tableDir, 1, IceLite.history(tableDir).max)
            .filter(col("repo") === vRepo && col("path") === vPath).count()
          require(feed == 0L, "change feed must not resurrect a purged key")
        }
        putMetric("q85", "files_total", st.filesTotal.toDouble)
        putMetric("q85", "files_candidates", st.filesCandidates.toDouble)
        putMetric("q85", "files_rewritten", st.filesRewritten.toDouble)
        putMetric("q85", "rows_purged", st.rowsPurged.toDouble)
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""WITH d AS (SELECT * FROM parquet_scan('${workDir("q85")}/decoded/*.parquet')),
        fold AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
                 FROM d) t WHERE rn = 1 AND op <> 'DELETE'),
        vic AS (SELECT d.repo, d.path FROM d JOIN fold f ON d.repo = f.repo AND d.path = f.path
                GROUP BY d.repo, d.path ORDER BY count(*) DESC, d.repo, d.path LIMIT 1)
        SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM fold WHERE NOT EXISTS (SELECT 1 FROM vic WHERE vic.repo = fold.repo AND vic.path = fold.path)
        ORDER BY repo, path""")),

    OpQuery("q86_scrub_repair",
      // STORAGE INTEGRITY under the hard gate: replay a seeded log, record
      // sha256 checksums for every head data file, then SILENTLY CORRUPT
      // the largest one (flip 64 bytes mid-file, drop the fs checksum
      // sidecar — the failure mode fsck never sees). Hard asserts: the
      // scrub detects exactly that file; repairBucket re-materializes its
      // bucket from the change log (ledger-committed epochs only) and the
      // follow-up scrub is clean with the damaged file out of the head.
      // The returned head state is compared against the oracle's fold of
      // the decoded log — a repair that dropped a row, resurrected a
      // deleted key, or leaked an uncommitted event diverges it.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q86")
        val root = workDir("q86")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 30,
            pathsPerRepo = 20, deleteEvery = 20, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = s.read.parquet(logDir)
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        clock("replay") { Replay.replayLog(s, logDir, tableDir, buckets = 8) }
        val recorded = clock("record") { graft.lake.Scrub.record(s, tableDir) }
        require(graft.lake.Scrub.verify(s, tableDir).isEmpty, "fresh table must scrub clean")
        val victim = IceLite.load(tableDir).files.filter(_.rows > 0).maxBy(_.rows)
        clock("corrupt") {
          val raf = new java.io.RandomAccessFile(victim.path, "rw")
          try { raf.seek(raf.length() / 2); raf.write(Array.fill[Byte](64)(0x5a)) }
          finally raf.close()
          val t = java.nio.file.Paths.get(victim.path)
          java.nio.file.Files.deleteIfExists(
            t.resolveSibling("." + t.getFileName.toString + ".crc"))
        }
        val found = clock("detect") { graft.lake.Scrub.verify(s, tableDir) }
        require(found == Vector(victim.path),
          s"scrub must flag exactly the corrupted file, got $found")
        clock("repair") {
          graft.lake.Scrub.repairBucket(s, tableDir, logDir, victim.bucket, "repair-0")
        }
        require(graft.lake.Scrub.verify(s, tableDir).isEmpty, "post-repair scrub must be clean")
        require(!IceLite.load(tableDir).files.exists(_.path == victim.path),
          "damaged file must leave the head snapshot")
        putMetric("q86", "files_recorded", recorded.toDouble)
        putMetric("q86", "repaired_bucket", victim.bucket.toDouble)
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q86")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q87_multi_table_txn",
      // MULTI-TABLE ATOMIC APPLY under the hard gate: one log feeds two
      // tables (routed by source partition parity) under a write-ahead-
      // intent transaction log. The gate CRASHES the epoch-1 transaction
      // between table a's commit and table b's, hard-asserts the partial
      // state (a fenced, b absent, epoch invisible behind the done
      // barrier), then recovers — the redo must fence a's slice and apply
      // b's. The returned union of both tables (tagged by tbl) is compared
      // against the oracle's per-parity LWW fold of the decoded dump — a
      // double-applied slice, a lost slice, or wrong routing diverges it.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q87")
        val root = workDir("q87")
        val logDir = s"$root/log"
        val txnDir = s"$root/txn"
        val tables = Seq(s"$root/a", s"$root/b")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 30,
            pathsPerRepo = 20, v1Fraction = 0.7), logDir, epochs = 2)
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = s.read.parquet(logDir)
            .transform(Epoch.events)
          graft.decode.Decode.success(graft.decode.Decode.decode(ev, registry,
              graft.registry.SchemaKey(Cdc.SchemaId, -1), Cdc.MessageType))
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        val crashed = clock("apply_crash") {
          try {
            graft.cdc.Txn.applyLog(s, logDir, txnDir, tables, buckets = 8,
              crashPoint = p => if (p == "committed-1-0")
                throw new RuntimeException("injected-crash"))
            false
          } catch { case e: RuntimeException if e.getMessage == "injected-crash" => true }
        }
        require(crashed, "the crash seam must fire")
        require(graft.cdc.Txn.committedEpochs(txnDir) == Set(0L),
          "epoch 1 must be invisible behind the done barrier")
        require(IceLite.load(tables.head).hasEpoch("txn-1") &&
          !IceLite.load(tables(1)).hasEpoch("txn-1"),
          "crash must leave exactly table a committed")
        val rec = clock("recover") {
          graft.cdc.Txn.recover(s, logDir, txnDir, tables, buckets = 8)
        }
        require(rec.map(_.epoch) == Vector(1L) &&
          !rec.head.perTable.head.applied && rec.head.perTable(1).applied,
          "recovery must fence a's slice and apply b's")
        require(graft.cdc.Txn.committedEpochs(txnDir) == Set(0L, 1L),
          "both epochs must be transactionally visible after recovery")
        putMetric("q87", "recovered_epochs", rec.length.toDouble)
        tables.zipWithIndex.map { case (dir, i) =>
          IceLite.read(s, IceLite.load(dir))
            .select(lit(i.toLong).as("tbl"), col("repo"), col("path"), col("commit"),
              col("lang"), sha2(col("content"), 256).as("content_sha"), col("author"))
        }.reduce(_.unionByName(_)).orderBy("tbl", "repo", "path")
      },
      Some(s"""SELECT CAST("partition" % 2 AS BIGINT) AS tbl, repo, path, "commit", lang,
               sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY ("partition" % 2), repo, path
              ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q87")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY tbl, repo, path""")),

    OpQuery("q88_schema_compat_gate",
      // SCHEMA-REGISTRY COMPATIBILITY GATE under the hard gate: replay runs
      // against a v1-only registry, so every v2 event dead-letters as
      // invalid_schema (the reference's unresolvable-schema route). Before
      // the fix lands, THREE hostile v2 candidates are pushed at the
      // registry — a wire-type break (commit: string -> int64), a
      // same-wire type change (content: string -> bytes), and a field name
      // moved to a new number (commit #3 -> #9, which would fork the
      // column identity) — and every one must be REFUSED with the
      // violation named. The true v2 passes the gate, the dead letters
      // retry against it, and the final state must match the clean-decode
      // oracle fold — proof the gate blocked only what it should.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q88")
        val root = workDir("q88")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 30,
            pathsPerRepo = 20, v1Fraction = 0.5), logDir, epochs = 2)
        }
        val log = s.read.parquet(logDir)
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = log
            .transform(Epoch.events)
          graft.decode.Decode.success(graft.decode.Decode.decode(
            ev, registry, graft.registry.SchemaKey(Cdc.SchemaId, -1), Cdc.MessageType))
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        val nV2 = log.filter(col("schemaVersion") === 2).count()
        clock("replay_v1only") {
          Replay.replayLog(s, logDir, tableDir, buckets = 8,
            baseRegistry = Some(Cdc.registryV1Only))
        }
        require(s.read.parquet(s"$tableDir/_deadletter")
          .filter(col("route") === "invalid_schema").count() == nV2,
          s"all $nV2 v2 events must dead-letter before the fix")
        // the gate refuses every hostile candidate, names the violation
        import graft.registry.Compat
        import graft.proto.ProtoTextParser
        val hostile = Seq(
          "wire_type" -> Cdc.protoV2.replace("string commit  = 3;", "int64 commit   = 3;"),
          "type_change" -> Cdc.protoV2.replace("string content = 5;", "bytes content  = 5;"),
          "name_moved" -> Cdc.protoV2.replace("string commit  = 3;", "string commit  = 9;"))
        clock("compat_gate") {
          hostile.foreach { case (kind, proto) =>
            val cand = ProtoTextParser.parse(proto, "hostile.proto")
            val e = try {
              Compat.registerChecked(Cdc.registryV1Only, Cdc.KeyV2, cand, Cdc.MessageType)
              null
            } catch { case e: IllegalArgumentException => e }
            require(e != null && e.getMessage.contains(kind),
              s"the $kind candidate must be refused by name, got $e")
          }
        }
        val fixed = Compat.registerChecked(Cdc.registryV1Only, Cdc.KeyV2, Cdc.fsV2,
          Cdc.MessageType)
        val st = clock("retry") {
          Replay.retryDeadLetters(s, tableDir, s.sparkContext.broadcast(fixed), "retry-1")
        }
        require(st.applied && st.merged == nV2 && st.remaining == 0,
          s"retry under the accepted schema must consume all $nV2 dead letters: $st")
        putMetric("q88", "dead_lettered", nV2.toDouble)
        putMetric("q88", "refused_candidates", hostile.size.toDouble)
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      // v1-origin winners: '' in the clean decode, NULL in the table (the
      // column arrived after them via evolution) — nullif models that
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha,
               nullif(author, '') AS author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q88")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q89_analyze_stats",
      // ANALYZE under the hard gate: per-column n_rows / n_nulls / KMV NDV
      // over the replayed table, computed in ONE melted pass. The query
      // dumps the melt (col_name, xxhash64, is_null) it consumed and the
      // oracle re-derives EVERY number — counts by aggregation, the NDV by
      // re-computing the k-th order statistic and the KMV formula in SQL
      // (the q82 trick: an integer order stat + one IEEE division is
      // bit-reproducible cross-engine). Saturated columns (repo, lang)
      // must report exact counts with NULL kth_hash; high-NDV columns
      // (commit) must estimate through the sketch.
      (s, _) => {
        val clock = new PhaseClock("q89")
        val root = workDir("q89")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 30,
            pathsPerRepo = 20, v1Fraction = 0.7), s"$root/log", epochs = 2)
        }
        clock("replay") { Replay.replayLog(s, s"$root/log", s"$root/table", buckets = 8) }
        clock("melt_dump") {
          graft.lake.Analyze.melt(s, s"$root/table")
            .write.mode("overwrite").parquet(s"$root/melt")
        }
        val stats = clock("analyze") { graft.lake.Analyze.analyze(s, s"$root/table", k = 64) }
        val byCol = stats.collect().map(r => r.getString(0) -> r).toMap
        Seq("repo", "lang").foreach(c =>
          require(byCol(c).isNullAt(4), s"$c must saturate the k=64 sketch"))
        require(!byCol("commit").isNullAt(4), "commit must estimate through the sketch")
        require(graft.lake.Analyze.ndv(s"$root/table").size == byCol.size,
          "stats must persist to meta/stats.json")
        putMetric("q89", "columns", byCol.size.toDouble)
        putMetric("q89", "commit_ndv_est", byCol("commit").getDouble(3))
        stats
      },
      Some(s"""WITH m AS (SELECT * FROM parquet_scan('${workDir("q89")}/melt/*.parquet')),
        agg AS (SELECT col_name, count(*) AS n_rows,
                CAST(sum(CASE WHEN isn THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
                FROM m GROUP BY 1),
        hh AS (SELECT DISTINCT col_name, h FROM m WHERE NOT isn),
        r AS (SELECT col_name, h, row_number() OVER (PARTITION BY col_name ORDER BY h) AS rn FROM hh),
        kk AS (SELECT col_name, count(*) AS exact_d, max(CASE WHEN rn = 64 THEN h END) AS kth
               FROM r GROUP BY 1)
        SELECT a.col_name, a.n_rows, a.n_nulls,
          COALESCE(CASE WHEN kk.kth IS NULL THEN CAST(kk.exact_d AS DOUBLE)
            ELSE 63.0 / ((CAST(kk.kth AS DOUBLE) + 9.223372036854775808e18) / 1.8446744073709551616e19)
          END, 0.0) AS est_distinct,
          kk.kth AS kth_hash
        FROM agg a LEFT JOIN kk ON a.col_name = kk.col_name ORDER BY a.col_name""")),

    OpQuery("q90_ops_pipeline",
      // OPERATIONAL LIFECYCLE, COMPOSED, under the hard gate: the round-5
      // maintenance operators working together the way an operator would
      // run them. Replay a seeded log into the primary; COMPACT the log
      // and rebuild a DR replica from the compacted log alone (must equal
      // the primary row-for-row); PURGE the hottest key from BOTH (an
      // erasure has to propagate to replicas); SCRUB both clean; ANALYZE
      // the primary. Hard asserts at every joint; the returned primary
      // state is compared against the oracle fold EXCLUDING the victim.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q90")
        val root = workDir("q90")
        val logDir = s"$root/log"
        val primary = s"$root/primary"
        val replica = s"$root/replica"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 30,
            pathsPerRepo = 20, deleteEvery = 20, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = s.read.parquet(logDir)
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        clock("replay_primary") { Replay.replayLog(s, logDir, primary, buckets = 8) }
        // DR rebuild path: the compacted log alone reproduces the state
        val cst = clock("compact_log") {
          graft.cdc.LogCompact.compactLog(s, logDir, s"$root/log.c")
        }
        clock("replay_replica") { Replay.replayLog(s, s"$root/log.c", replica, buckets = 4) }
        def state(dir: String) = IceLite.read(s, IceLite.load(dir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
        clock("dr_equal") {
          require(state(primary).exceptAll(state(replica)).isEmpty &&
            state(replica).exceptAll(state(primary)).isEmpty,
            "replica rebuilt from the compacted log must equal the primary")
        }
        // coordinated erasure: same victim rule as q85
        val (vRepo, vPath) = clock("pick_victim") {
          val dec = s.read.parquet(s"$root/decoded")
          val live = dec.withColumn("rn", row_number().over(
              org.apache.spark.sql.expressions.Window.partitionBy("repo", "path")
                .orderBy(col("seq").desc)))
            .filter(col("rn") === 1 && col("op") =!= "DELETE").select("repo", "path")
          dec.join(live, Seq("repo", "path")).groupBy("repo", "path").count()
            .orderBy(col("count").desc, col("repo"), col("path"))
            .select("repo", "path").as[(String, String)].head()
        }
        val key = Map[String, Any]("repo" -> vRepo, "path" -> vPath)
        clock("purge_both") {
          Seq(primary, replica).foreach { d =>
            val st = graft.lake.Purge.purgeKey(s, d, key)
            require(st.rowsPurged > 0, s"purge found nothing in $d")
            require(IceLite.lookupLocal(IceLite.load(d), key).isEmpty,
              s"$d still serves the purged key")
          }
        }
        clock("scrub_both") {
          Seq(primary, replica).foreach { d =>
            graft.lake.Scrub.record(s, d)
            require(graft.lake.Scrub.verify(s, d).isEmpty, s"$d must scrub clean")
          }
        }
        val stats = clock("analyze") { graft.lake.Analyze.analyze(s, primary) }
        val nRows = stats.filter(col("col_name") === "repo").head().getLong(1)
        putMetric("q90", "compaction_ratio", cst.eventsIn.toDouble / cst.eventsOut)
        putMetric("q90", "final_rows", nRows.toDouble)
        state(primary).orderBy("repo", "path")
      },
      Some(s"""WITH d AS (SELECT * FROM parquet_scan('${workDir("q90")}/decoded/*.parquet')),
        fold AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
                 FROM d) t WHERE rn = 1 AND op <> 'DELETE'),
        vic AS (SELECT d.repo, d.path FROM d JOIN fold f ON d.repo = f.repo AND d.path = f.path
                GROUP BY d.repo, d.path ORDER BY count(*) DESC, d.repo, d.path LIMIT 1)
        SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM fold WHERE NOT EXISTS (SELECT 1 FROM vic WHERE vic.repo = fold.repo AND vic.path = fold.path)
        ORDER BY repo, path""")),

    OpQuery("q91_log_order_audit",
      // TRANSPORT-INTEGRITY AUDIT under the hard gate: generate a clean
      // seeded log, then corrupt it the way real transports do — DROP a
      // deterministic subset of events (lost broker segment) and DELIVER
      // another subset twice (producer retry) — and audit it. The returned
      // defect ranges (gap/dup rows) are re-derived by the oracle from the
      // corrupted log itself with an independent lead()-window + group-by,
      // so a missed hole, a phantom hole at a duplicated offset, or an
      // off-by-one range boundary all hash-diverge. Hard asserts: the audit
      // found both defect classes, and the partition summary's implied
      // missing count equals the sum of the gap ranges.
      (s, _) => {
        val root = workDir("q91")
        val logDir = s"$root/log"
        val badDir = s"$root/corrupted"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 30,
          pathsPerRepo = 20, v1Fraction = 0.7), logDir, epochs = 2)
        val clean = s.read.parquet(logDir)
        // deterministic corruption: ~1% dropped, ~1% double-delivered
        val dropped = clean.filter(pmod(xxhash64(col("offset")), lit(97)) =!= 13)
        val doubled = dropped.filter(pmod(xxhash64(col("offset") + 1), lit(101)) === 7)
        dropped.unionByName(doubled)
          .write.option("parquet.block.size", 16 * 1024 * 1024)
          .partitionBy("epoch").mode("overwrite").parquet(badDir)
        val bad = s.read.parquet(badDir)
        val audit = graft.cdc.LogAudit.auditOffsets(bad)
          .orderBy("partition", "off_start", "kind")
        val byKind = audit.groupBy("kind").agg(count(lit(1)).as("c"), sum("n").as("t"))
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        require(byKind.contains("gap") && byKind.contains("dup"),
          s"the audit must surface both defect classes, got ${byKind.keySet}")
        // cross-check: the per-partition summary's implied missing count must
        // reconcile with the gap ranges (two independent derivations)
        val summaryMissing = graft.cdc.LogAudit.partitionSummary(bad)
          .agg(sum("n_missing")).head().getLong(0)
        val gapMissing = byKind("gap")._2
        require(summaryMissing == gapMissing,
          s"summary implied-missing $summaryMissing must equal the gap-range total $gapMissing")
        putMetric("q91", "gaps", byKind("gap")._1.toDouble)
        putMetric("q91", "dups", byKind("dup")._1.toDouble)
        audit
      },
      // the oracle re-derives every defect range from the corrupted log
      Some(s"""WITH l AS (SELECT "partition", "offset"
                 FROM parquet_scan('${workDir("q91")}/corrupted/epoch=*/*.parquet')),
        g AS (SELECT "partition", "offset",
                lead("offset") OVER (PARTITION BY "partition" ORDER BY "offset") AS nxt
              FROM (SELECT DISTINCT "partition", "offset" FROM l) d),
        gaps AS (SELECT "partition", 'gap' AS kind, "offset" + 1 AS off_start,
                   nxt - 1 AS off_end, nxt - "offset" - 1 AS n
                 FROM g WHERE nxt > "offset" + 1),
        dups AS (SELECT "partition", 'dup' AS kind, "offset" AS off_start,
                   "offset" AS off_end, count(*) AS n
                 FROM l GROUP BY "partition", "offset" HAVING count(*) > 1)
        SELECT * FROM gaps UNION ALL SELECT * FROM dups
        ORDER BY "partition", off_start, kind""")),

    OpQuery("q92_out_of_order_replay",
      // OUT-OF-ORDER DELIVERY CONVERGENCE under the hard gate: the engine's
      // replay must converge to the seq-LWW fold no matter how events are
      // batched across epochs — the property that makes backfills, replica
      // catch-up, and multi-source tails safe (a late low-seq upsert must
      // never clobber a newer row or resurrect a deleted key;
      // Merge.scala's read-time newest-seq-wins + tombstone rules). Events
      // are scattered across 3 epochs by hash (NOT by offset range), so
      // every epoch carries interleaved old/new seqs AND interleaved v1/v2
      // schema versions (evolution arrives in epoch 0, v1 stragglers keep
      // landing after it). The oracle is the same global fold as q00 — any
      // order sensitivity in the merge diverges it.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q92")
        val root = workDir("q92")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val p = LogGen.Params(nEvents = 4000, nRepos = 30, pathsPerRepo = 20,
          v1Fraction = 0.5)
        clock("gen_scattered") {
          LogGen.events(s, p)
            // epoch by hash: each epoch holds an arbitrary seq interleaving
            .withColumn("epoch", pmod(xxhash64(col("offset")), lit(3)))
            .write.option("parquet.block.size", 16 * 1024 * 1024)
            .partitionBy("epoch").mode("overwrite").parquet(logDir)
        }
        val log = s.read.parquet(logDir)
        // prove the epochs really interleave: every epoch's offset span must
        // overlap every other's (ranges would be disjoint under in-order
        // batching), and v2 events must already be present in epoch 0
        val spans = log.groupBy(col("epoch").cast("long").as("epoch"))
          .agg(min("offset").as("lo"), max("offset").as("hi"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        require(spans.length == 3 &&
          spans.forall { case (_, lo, hi) => lo < p.nEvents / 4 && hi > p.nEvents * 3 / 4 },
          s"epochs must interleave seqs, got spans ${spans.mkString(",")}")
        require(log.filter(col("epoch") === 0 && col("schemaVersion") === 2).count() > 0,
          "schema evolution must arrive in epoch 0 with v1 stragglers behind it")
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = log
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        clock("replay_scattered") { Replay.replayLog(s, logDir, tableDir, buckets = 8) }
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q92")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q96_partition_evolution",
      // PARTITION EVOLUTION mid-history under the hard gate: a table's
      // bucket count is an operational knob that must be retunable WHILE
      // the stream keeps flowing (the 100 TB move when a table outgrows
      // its layout). Replay epochs 0-1 at 8 buckets, REBUCKET to 16, then
      // replay epoch 2 into the evolved layout. Proof obligations: the
      // post-evolution epoch lands (fencing and bucket derivation both
      // follow the snapshot, not the create-time constant), host-side
      // point lookups serve through the NEW layout (per-version bucket
      // derivation), a deleted key stays deleted across the rewrite, and
      // the final state equals the oracle's global fold of all 3 epochs.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q96")
        val root = workDir("q96")
        val logDir = s"$root/log"
        val logTail = s"$root/logtail"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 4000, nRepos = 30,
            pathsPerRepo = 20, deleteEvery = 15, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") { // the FULL log, before the tail is split off
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = s.read.parquet(logDir)
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        // epoch 2 becomes "the future of the stream": its own tail dir
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(logTail))
        java.nio.file.Files.move(
          java.nio.file.Paths.get(logDir, "epoch=2"),
          java.nio.file.Paths.get(logTail, "epoch=2"))
        clock("replay_pre") { Replay.replayLog(s, logDir, tableDir, buckets = 8) }
        require(IceLite.load(tableDir).buckets == 8, "table must start at 8 buckets")
        clock("rebucket") {
          graft.lake.Compaction.rebucket(s, tableDir, newBuckets = 16,
            epochId = "rebucket-1")
        }
        require(IceLite.load(tableDir).buckets == 16, "rebucket must evolve the layout")
        clock("replay_tail") { Replay.replayLog(s, logTail, tableDir, buckets = 8) }
        // lookups through the evolved layout, against the oracle-side fold
        val dec = s.read.parquet(s"$root/decoded")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("repo", "path").orderBy(col("seq").desc)
        val newest = dec.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        val snap = IceLite.load(tableDir)
        clock("lookups") {
          val liveKeys = newest.filter(col("op") =!= "DELETE")
            .select("repo", "path", "commit").orderBy("repo", "path").limit(12)
            .as[(String, String, String)].collect()
          liveKeys.foreach { case (r, pth, cmt) =>
            val got = IceLite.lookupLocal(snap, Map("repo" -> r, "path" -> pth))
            require(got.exists(_.get("commit").contains(cmt)),
              s"post-evolution lookup of ($r,$pth) must serve commit $cmt, got $got")
          }
          val deleted = newest.filter(col("op") === "DELETE")
            .select("repo", "path").orderBy("repo", "path").limit(3)
            .as[(String, String)].collect()
          require(deleted.nonEmpty, "the fixture must leave some newest-DELETE keys")
          deleted.foreach { case (r, pth) =>
            require(IceLite.lookupLocal(snap, Map("repo" -> r, "path" -> pth)).isEmpty,
              s"deleted key ($r,$pth) must not serve after the rewrite")
          }
          putMetric("q96", "lookups_live", liveKeys.length.toDouble)
          putMetric("q96", "lookups_deleted", deleted.length.toDouble)
        }
        IceLite.read(s, snap)
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q96")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q102_pruned_decode",
      // PROJECTION PUSHDOWN INTO THE CODEC under the hard gate: decode the
      // raw change log through the scalar proto_decode expression with the
      // PruneProtoDecode optimizer rule installed, reading only
      // (repo, path, seq) — the rule narrows the decoder to field numbers
      // {1, 2, 6}, so the fat `content` bytes (the file bodies — most of
      // the log) are length-skipped on the wire, never allocated. The
      // oracle is the FULL registry decode dumped by this same run (a
      // different decoder implementation: typed mapPartitions vs scalar
      // expression), projected to the same columns — so the gate proves
      // pruned scalar decode ≡ full bulk decode on the kept fields. The
      // run hard-asserts the rule actually fired (allowed == {1,2,6} in
      // the optimized plan) — without that a silently-unpruned plan would
      // still pass the value check.
      (s, _) => {
        import s.implicits._
        val root = workDir("q102")
        val logDir = s"$root/log"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 2)
        // oracle input: the bulk-path full decode
        val registry = s.sparkContext.broadcast(Cdc.registry)
        val ev = s.read.parquet(logDir)
          .transform(Epoch.events)
        Replay.decodeForMerge(ev, registry, None).updates
          .write.mode("overwrite").parquet(s"$root/decoded")
        // the query under test: scalar decode + subset projection
        graft.functions.PruneProtoDecode.install(s)
        val df = s.read.parquet(logDir)
          .select(graft.functions.ProtoFunctions.proto_decode(
            col("payload"), Cdc.protoV2, "RepoChange").as("m"))
          .select(col("m.repo").as("repo"), col("m.path").as("path"),
            col("m.seq").as("seq"))
          .orderBy("seq", "repo", "path")
        val pruned = df.queryExecution.optimizedPlan.flatMap(
          _.expressions.flatMap(_.collect {
            case pd: graft.functions.ProtoDecode => pd.allowed
          }))
        require(pruned.nonEmpty && pruned.forall(_.contains(Set(1, 2, 6))),
          s"PruneProtoDecode must narrow the decode to {1,2,6}, got $pruned")
        df
      },
      Some(s"""SELECT repo, path, seq
        FROM parquet_scan('${workDir("q102")}/decoded/*.parquet')
        ORDER BY seq, repo, path""")),

    OpQuery("q106_delimited_replay",
      // VARINT-DELIMITED FRAMING end-to-end under the hard gate — the
      // reference's writeDelimitedTo stream shape (SURVEY §2.1 framing
      // row, until now covered only by sbt tests): the log's payloads are
      // SEGMENTS of 64 length-prefixed messages each; decode explodes
      // every segment into its messages (a truncated tail would
      // dead-letter just the bad message, q49's contract), replay folds
      // them by seq, and the final state must equal the oracle's fold of
      // the same segment log decoded by the bulk path. At 100 TB
      // segmenting is the difference between 10^10 tiny log rows and
      // 10^8 scan-friendly ones.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q106")
        val root = workDir("q106")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeSegmentLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 2,
            msgsPerSegment = 64)
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = s.read.parquet(logDir)
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None,
            graft.decode.Framing.VarintDelimited).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        clock("replay") {
          Replay.replayLog(s, logDir, tableDir, buckets = 8,
            framing = graft.decode.Framing.VarintDelimited)
        }
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q106")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q107_schema_file_load",
      // GET-OR-LOAD SCHEMA RESOLUTION under the hard gate — the
      // reference's core deployment shape (a schema FILE resolved at
      // runtime per record batch, ProtobufService.java:85-87): the
      // replay starts from a registry that only knows v1; v2 events
      // reference a schema that exists ONLY as a .proto text file in a
      // schema directory. replayLog must columnar-scan the referenced
      // (schemaId, version) pairs, compile the missing descriptor from
      // the file ON THE DRIVER (executors never do schema I/O), and
      // decode the v2 share of the log with it — if the load silently
      // failed, every v2 event would dead-letter and the oracle's full
      // fold would catch the missing rows.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q107")
        val root = workDir("q107")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.5), logDir, epochs = 2)
          val sd = java.nio.file.Paths.get(root, "schemas")
          java.nio.file.Files.createDirectories(sd)
          java.nio.file.Files.write(sd.resolve("repo_change-v2.proto"),
            Cdc.protoV2.getBytes("UTF-8"))
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = s.read.parquet(logDir)
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        clock("replay") {
          val res = Replay.replayLog(s, logDir, tableDir, buckets = 8,
            baseRegistry = Some(Cdc.registryV1Only),
            schemaDir = Some(s"$root/schemas"))
          require(res.stats.map(_.batchRows).sum == 3000,
            s"every event incl. the file-loaded v2 half must decode and " +
              s"merge, got ${res.stats.map(_.batchRows).sum}")
        }
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q107")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q105_widening_evolution",
      // TYPE-WIDENING SCHEMA EVOLUTION end-to-end under the hard gate —
      // the add/rename/drop gates' missing sibling: schema v3 adds
      // `size_bytes` as int32, v4 widens the SAME field number to int64
      // (the protobuf-sanctioned varint widening, accepted by the q88
      // Compat gate — asserted here too). Epoch 0 (v3 payloads) replays
      // against a registry that only knows v3: the table column lands as
      // INT. Epoch 1 (v4 payloads, values ABOVE Int.MaxValue so the widen
      // is load-bearing, not cosmetic) replays with the grown registry:
      // Merge.evolve widens the column to BIGINT in place, v3-origin
      // files are cast on read, and AS OF the pre-widen version still
      // reads INT. Oracle = LWW fold of the all-v4 decoded dump, incl.
      // size_bytes.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q105")
        val root = workDir("q105")
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        require(graft.registry.Compat.check(Cdc.fsV3, Cdc.fsV4, Cdc.MessageType).isEmpty,
          "int32 -> int64 must be a sanctioned widening")
        val p = LogGen.Params(nEvents = 3000, nRepos = 40, pathsPerRepo = 30,
          deleteEvery = 25)
        def gen(v: Int, lo: Long, hi: Long) =
          s.range(lo, hi, 1, 8).mapPartitions { it =>
            val fs = if (v == 3) Cdc.fsV3 else Cdc.fsV4
            val d = fs.findMessage(Cdc.MessageType).get
            val pid = org.apache.spark.TaskContext.getPartitionId()
            it.map { id =>
              val c = LogGen.rawChange(id, p)
              val size =
                if (c.op == "DELETE") 0L
                else if (v == 3) c.content.length.toLong
                else 4000000000L + c.content.length // needs the widen
              graft.decode.ChangeEvent(
                LogGen.encodeChange(c, d, fs, includeAuthor = true, sizeBytes = size),
                Cdc.SchemaId, v, Cdc.MessageType, pid, id)
            }
          }
        clock("gen") {
          gen(3, 0, 1500).toDF().withColumn("epoch", lit(0L))
            .write.partitionBy("epoch").mode("overwrite").parquet(s"$root/logpre")
          gen(4, 1500, 3000).toDF().withColumn("epoch", lit(1L))
            .write.partitionBy("epoch").mode("overwrite").parquet(s"$root/logtail")
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registryV4)
          val ev = s.read.parquet(s"$root/logpre").unionByName(s.read.parquet(s"$root/logtail"))
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        clock("replay_v3") {
          Replay.replayLog(s, s"$root/logpre", tableDir, buckets = 8,
            baseRegistry = Some(Cdc.registryV3))
        }
        val preSnap = IceLite.load(tableDir)
        val preCol = preSnap.currentSchema.find(_.name == "size_bytes")
        require(preCol.exists(_.dataType.toUpperCase.startsWith("INT")),
          s"pre-widen column must be INT, got $preCol")
        clock("replay_v4") {
          Replay.replayLog(s, s"$root/logtail", tableDir, buckets = 8,
            baseRegistry = Some(Cdc.registryV4))
        }
        val snap = IceLite.load(tableDir)
        val postCol = snap.currentSchema.find(_.name == "size_bytes")
        require(postCol.exists(_.dataType.toUpperCase.startsWith("BIGINT")),
          s"post-widen column must be BIGINT, got $postCol")
        require(postCol.get.id == preCol.get.id,
          "widening must keep the field id (column identity)")
        // AS OF the pre-widen version the column is still INT
        val travel = IceLite.loadVersion(tableDir, preSnap.version)
        require(travel.currentSchema.find(_.name == "size_bytes")
          .exists(_.dataType.toUpperCase.startsWith("INT")),
          "time travel must read the pre-widen schema")
        putMetric("q105", "pre_version", preSnap.version.toDouble)
        IceLite.read(s, snap)
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"),
            col("size_bytes"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha,
               author, size_bytes
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q105")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q108_partial_update",
      // PARTIAL-UPDATE (PATCH) EVENTS under the hard gate — the Debezium/
      // DMS changed-columns contract, the update shape whole-row LWW can't
      // express: a v5 PATCH event carries the key + seq + ONLY the changed
      // data fields plus an explicit `changed_fields` mask of their field
      // numbers (proto3 scalars can't distinguish absent from default, so
      // the mask is the wire-faithful "which columns" signal).
      // Merge.resolvePatches materializes each patched key at apply time:
      // bucket-pruned resolved pre-image of only the patched keys, one
      // per-key max_by fold (UPSERT sets all, DELETE clears all, PATCH
      // sets the masked columns), result re-entering the batch as one full
      // row — every read path stays whole-row LWW. The fixture chains
      // patches across epochs (pre-image chaining), patches after deletes
      // (patch-onto-defaults), deletes after patches, patches to
      // never-inserted keys, and interleaves full v2 rows; the oracle is
      // the TRUE per-column fold over the decoded dump — per column, the
      // value at the last event that SET it.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q108")
        val root = workDir("q108")
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        require(graft.registry.Compat.check(Cdc.fsV2, Cdc.fsV5, Cdc.MessageType).isEmpty,
          "v2 -> v5 (enum value + repeated-field additions) must be Compat-sanctioned")
        val p = LogGen.Params(nEvents = 3000, nRepos = 40, pathsPerRepo = 30,
          deleteEvery = 25)
        // deterministic per-event mask: lang | author | commit+content |
        // content+author (field numbers 3/4/5/8)
        def maskFor(id: Long): Seq[Int] =
          Math.floorMod(LogGen.mix(id + 31), 4L).toInt match {
            case 0 => Seq(4)
            case 1 => Seq(8)
            case 2 => Seq(3, 5)
            case _ => Seq(5, 8)
          }
        def gen(lo: Long, hi: Long, patchy: Boolean) =
          s.range(lo, hi, 1, 8).mapPartitions { it =>
            val fs2 = Cdc.fsV2; val d2 = fs2.findMessage(Cdc.MessageType).get
            val fs5 = Cdc.fsV5; val d5 = fs5.findMessage(Cdc.MessageType).get
            val pid = org.apache.spark.TaskContext.getPartitionId()
            it.map { id =>
              val c = LogGen.rawChange(id, p)
              val patch = patchy && c.op == "UPSERT" &&
                Math.floorMod(LogGen.mix(id + 17), 3L) != 0L
              if (patch)
                graft.decode.ChangeEvent(LogGen.encodePatch(c, maskFor(id), fs5, d5),
                  Cdc.SchemaId, 5, Cdc.MessageType, pid, id)
              else
                graft.decode.ChangeEvent(
                  LogGen.encodeChange(c, d2, fs2, includeAuthor = true),
                  Cdc.SchemaId, 2, Cdc.MessageType, pid, id)
            }
          }
        clock("gen") {
          gen(0, 1000, patchy = false).toDF().withColumn("epoch", lit(0L))
            .unionByName(gen(1000, 2000, patchy = true).toDF().withColumn("epoch", lit(1L)))
            .unionByName(gen(2000, 3000, patchy = true).toDF().withColumn("epoch", lit(2L)))
            .write.partitionBy("epoch").mode("overwrite").parquet(s"$root/log")
        }
        // the patch contract assumes per-key IN-ORDER delivery ACROSS
        // epochs (the Kafka key-partition guarantee; in-batch order is
        // free) — assert the fixture honors it: epochs are disjoint
        // ascending seq ranges
        val spans = s.read.parquet(s"$root/log")
          .groupBy(col("epoch").cast("long").as("e"))
          .agg(min("offset").as("lo"), max("offset").as("hi"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
        spans.sliding(2).foreach {
          case Array((_, _, hi0), (_, lo1, _)) =>
            require(hi0 < lo1, "epochs must be disjoint ascending seq ranges")
          case _ => ()
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registryV5)
          val ev = s.read.parquet(s"$root/log")
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        clock("replay") {
          Replay.replayLog(s, s"$root/log", tableDir, buckets = 8,
            baseRegistry = Some(Cdc.registryV5))
        }
        val snap = IceLite.load(tableDir)
        require(!snap.currentSchema.exists(_.name == graft.lake.Merge.PatchMaskCol),
          "the patch mask is envelope, not a table column")
        val nPatch = s.read.parquet(s"$root/decoded")
          .filter(col("op") === "PATCH").count()
        require(nPatch > 300, s"expected a patch-heavy log, got $nPatch patches")
        putMetric("q108", "patch_events", nPatch.toDouble)
        IceLite.read(s, snap)
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""WITH d AS (SELECT * FROM parquet_scan('${workDir("q108")}/decoded/*.parquet')),
        f AS (SELECT repo, path, arg_max(op, seq) AS fop,
          arg_max({'v': CASE WHEN op='DELETE' THEN NULL ELSE "commit" END},
                  CASE WHEN op <> 'PATCH' OR list_contains(changed_fields, 3) THEN seq END).v AS "commit",
          arg_max({'v': CASE WHEN op='DELETE' THEN NULL ELSE lang END},
                  CASE WHEN op <> 'PATCH' OR list_contains(changed_fields, 4) THEN seq END).v AS lang,
          arg_max({'v': CASE WHEN op='DELETE' THEN NULL ELSE content END},
                  CASE WHEN op <> 'PATCH' OR list_contains(changed_fields, 5) THEN seq END).v AS content,
          arg_max({'v': CASE WHEN op='DELETE' THEN NULL ELSE author END},
                  CASE WHEN op <> 'PATCH' OR list_contains(changed_fields, 8) THEN seq END).v AS author
          FROM d GROUP BY repo, path)
        SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM f WHERE fop <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q109_multi_source_ingest",
      // MULTI-SOURCE SHARDED INGEST under the hard gate — the standard CDC
      // topology where the upstream is sharded (one binlog per database
      // shard) and ALL shards converge into one lake table. One seeded
      // event stream is split by key hash into two source logs (each key
      // lives in exactly one source — the upstream sharding contract, so
      // per-key ordering is per-source), each with its own epoch numbering.
      // The two logs replay under DISTINCT fence namespaces ("srcA-<e>" /
      // "srcB-<e>"): without namespacing, source B's epoch 0 would fence
      // against source A's and silently drop a shard. After the initial
      // convergence a NEW epoch is appended to source A's log and the
      // whole log is re-replayed — the ledger skips the consumed epochs
      // and applies exactly the new one (the incremental tail-follow
      // contract, per-source resumability). Oracle = the global seq-LWW
      // fold over the union of both decoded logs.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q109")
        val root = workDir("q109")
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val p = LogGen.Params(nEvents = 5000, nRepos = 40, pathsPerRepo = 30,
          v1Fraction = 0.4)
        def shardOf(repo: String, path: String): Int =
          Math.floorMod(graft.functions.XxHash64Host.hashString(repo + "|" + path, 42L), 2L).toInt
        clock("gen_sharded") {
          val tagged = LogGen.events(s, p).mapPartitions { it =>
            it.map { ev =>
              // shard by KEY (not offset): re-derive the key deterministically
              val c = LogGen.rawChange(ev.offset, p)
              (ev.payload, ev.schemaId, ev.schemaVersion, ev.messageType,
                ev.partition, ev.offset, shardOf(c.repo, c.path))
            }
          }.toDF("payload", "schemaId", "schemaVersion", "messageType",
            "partition", "offset", "shard").localCheckpoint()
          // source A: first 4000 offsets in 2 epochs; its tail (4000+) is
          // appended AFTER the first convergence. Source B: 3 epochs.
          tagged.filter(col("shard") === 0 && col("offset") < 4000)
            .withColumn("epoch", (col("offset") / 2000).cast("long")).drop("shard")
            .write.partitionBy("epoch").mode("overwrite").parquet(s"$root/logA")
          tagged.filter(col("shard") === 1)
            .withColumn("epoch", (col("offset") / 1700).cast("long")).drop("shard")
            .write.partitionBy("epoch").mode("overwrite").parquet(s"$root/logB")
          // tail files carry NO epoch column — the partition dir supplies it
          tagged.filter(col("shard") === 0 && col("offset") >= 4000)
            .drop("shard")
            .write.mode("overwrite").parquet(s"$root/tailA/epoch=2")
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = s.read.parquet(s"$root/logA").unionByName(s.read.parquet(s"$root/logB"))
            .unionByName(s.read.parquet(s"$root/tailA"))
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        clock("replay_initial") {
          Replay.replayLog(s, s"$root/logA", tableDir, buckets = 8, namespace = "srcA")
          Replay.replayLog(s, s"$root/logB", tableDir, buckets = 8, namespace = "srcB")
        }
        val applied2 = clock("tail_follow") {
          // the new epoch arrives on source A; re-replaying the whole log
          // must apply exactly it (per-source ledger resumability)
          val dst = new java.io.File(s"$root/logA/epoch=2")
          org.apache.commons.io.FileUtils.copyDirectory(
            new java.io.File(s"$root/tailA/epoch=2"), dst)
          Replay.replayLog(s, s"$root/logA", tableDir, buckets = 8, namespace = "srcA")
            .stats.count(_.applied)
        }
        require(applied2 == 1, s"tail follow must apply exactly the new epoch, applied $applied2")
        val led = IceLite.load(tableDir).ledger
        require(led.watermarks.contains("srcA") || led.recent.contains("srcA"),
          "source A's fence namespace must be in the ledger")
        require(led.watermarks.contains("srcB") || led.recent.contains("srcB"),
          "source B's fence namespace must be in the ledger")
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q109")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q110_default_value_column",
      // ADD COLUMN WITH DEFAULT under the hard gate — the evolution
      // matrix's fourth DDL (add/rename/widen/drop) with Iceberg-v3-style
      // defaults, made REWRITE-STABLE: IceLite.addColumn commits the
      // column as metadata only; files that predate it read the default
      // (initial-default), and merge batches that lack it — every later
      // epoch here, since no writer descriptor carries the field — are
      // FILLED with it at write time, so compaction can never flip the
      // value. The fixture: replay epochs 0-1, add `tier` STRING DEFAULT
      // 'bronze' (AS OF the pre-DDL version must NOT show it), promote
      // scala rows to 'gold' via UPDATE WHERE (the DML rides the new
      // column), then replay epoch 2 — its whole-row upserts lack `tier`
      // and legitimately reset touched keys to the default. Oracle: the
      // LWW fold with tier derived from the dumped DML cut sequence —
      // gold iff the key's final event predates the cut and folds to
      // lang='scala' (live at the cut), else bronze.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q110")
        val root = workDir("q110")
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val p = LogGen.Params(nEvents = 6000, nRepos = 40, pathsPerRepo = 30,
          v1Fraction = 0.5)
        clock("gen") {
          LogGen.writeLog(s, p, s"$root/log", epochs = 3)
          // stash the tail epoch: the DDL + DML land mid-history
          java.nio.file.Files.move(
            java.nio.file.Paths.get(s"$root/log/epoch=2"),
            java.nio.file.Paths.get(s"$root/tail-epoch=2"))
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = s.read.parquet(s"$root/log")
            .unionByName(s.read.parquet(s"$root/tail-epoch=2").withColumn("epoch", lit(2L)))
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        clock("replay_head") { Replay.replayLog(s, s"$root/log", tableDir, buckets = 8) }
        val preV = IceLite.load(tableDir).version
        clock("ddl_dml") {
          IceLite.addColumn(tableDir, "ddl-tier", "tier", "STRING", fieldId = 20,
            default = Some("bronze"))
          // AS OF the pre-DDL version the column must not exist
          require(!IceLite.loadVersion(tableDir, preV).currentSchema.exists(_.name == "tier"),
            "time travel must read the pre-DDL schema")
          val cut = IceLite.load(tableDir).maxSeq + 1 // the DML's sequence
          Seq(cut).toDF("s").coalesce(1)
            .write.mode("overwrite").parquet(s"$root/cut")
          graft.lake.Dml.updateWhere(s, tableDir, "lang = 'scala'",
            Seq("tier" -> "'gold'"), "dml-gold")
        }
        clock("replay_tail") {
          java.nio.file.Files.move(
            java.nio.file.Paths.get(s"$root/tail-epoch=2"),
            java.nio.file.Paths.get(s"$root/log/epoch=2"))
          val applied = Replay.replayLog(s, s"$root/log", tableDir, buckets = 8)
            .stats.count(_.applied)
          require(applied == 1, s"tail replay must apply exactly epoch 2, applied $applied")
        }
        val out = IceLite.read(s, IceLite.load(tableDir))
        require(out.filter(col("tier").isNull).isEmpty,
          "the write default must leave no NULL tier anywhere")
        out.select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"), col("tier"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author,
          CASE WHEN seq <= (SELECT s FROM parquet_scan('${workDir("q110")}/cut/*.parquet'))
                    AND lang = 'scala' THEN 'gold' ELSE 'bronze' END AS tier
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q110")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q111_streaming_patches",
      // STREAMING PARTIAL UPDATES under the hard gate — the q108 patch
      // contract composed with the north-star streaming surface: wave 1
      // (full v2 rows) streams through the Tail, then wave 2 — patch-heavy
      // v5 events whose DESCRIPTOR THE REGISTRY DOESN'T HAVE YET — resumes
      // from the same checkpoint; the v5 schema is deployed as a .proto
      // file and the Tail's between-batches get-or-load picks it up (the
      // streaming mirror of q107), so the wave decodes with ZERO dead
      // letters and Merge.resolvePatches materializes each microbatch's
      // patches against the table state left by the previous ones. Oracle:
      // the same TRUE per-column fold as q108 over the full decoded dump.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q111")
        val root = workDir("q111")
        val streamDir = s"$root/stream"
        val tableDir = s"$root/table"
        val ckpt = s"$root/ckpt"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val p = LogGen.Params(nEvents = 3000, nRepos = 40, pathsPerRepo = 30,
          deleteEvery = 25)
        def maskFor(id: Long): Seq[Int] =
          Math.floorMod(LogGen.mix(id + 31), 4L).toInt match {
            case 0 => Seq(4)
            case 1 => Seq(8)
            case 2 => Seq(3, 5)
            case _ => Seq(5, 8)
          }
        def gen(lo: Long, hi: Long, patchy: Boolean) =
          s.range(lo, hi, 1, 4).mapPartitions { it =>
            val fs2 = Cdc.fsV2; val d2 = fs2.findMessage(Cdc.MessageType).get
            val fs5 = Cdc.fsV5; val d5 = fs5.findMessage(Cdc.MessageType).get
            val pid = org.apache.spark.TaskContext.getPartitionId()
            it.map { id =>
              val c = LogGen.rawChange(id, p)
              val patch = patchy && c.op == "UPSERT" &&
                Math.floorMod(LogGen.mix(id + 17), 3L) != 0L
              if (patch)
                graft.decode.ChangeEvent(LogGen.encodePatch(c, maskFor(id), fs5, d5),
                  Cdc.SchemaId, 5, Cdc.MessageType, pid, id)
              else
                graft.decode.ChangeEvent(
                  LogGen.encodeChange(c, d2, fs2, includeAuthor = true),
                  Cdc.SchemaId, 2, Cdc.MessageType, pid, id)
            }
          }
        clock("gen") {
          // the v5 descriptor arrives as a RUNTIME schema file, not code
          val sd = java.nio.file.Paths.get(s"$root/schemas")
          java.nio.file.Files.createDirectories(sd)
          java.nio.file.Files.writeString(
            sd.resolve(s"${Cdc.SchemaId}-v5.proto"), Cdc.protoV5)
          val registry = s.sparkContext.broadcast(Cdc.registryV5)
          val all = gen(0, 1500, patchy = false).unionByName(gen(1500, 3000, patchy = true))
          Replay.decodeForMerge(all, registry, None)
            .updates.write.mode("overwrite").parquet(s"$root/decoded")
        }
        // one microbatch per wave (maxFilesPerTrigger > files/wave): patch
        // materialization assumes the standard CDC per-key IN-ORDER
        // delivery contract (Kafka key partitions); the waves are
        // seq-ranged, so batch order = sequence order, while resume,
        // get-or-load, and cross-batch pre-image chaining stay exercised
        clock("wave1") {
          gen(0, 1500, patchy = false).toDF().repartition(3)
            .write.mode("append").parquet(streamDir)
          graft.cdc.Tail.start(s, streamDir, tableDir, ckpt, buckets = 8,
            maxFilesPerTrigger = 16, schemaDir = Some(s"$root/schemas"))
            .awaitTermination()
        }
        clock("wave2_resume") {
          gen(1500, 3000, patchy = true).toDF().repartition(3)
            .write.mode("append").parquet(streamDir)
          graft.cdc.Tail.start(s, streamDir, tableDir, ckpt, buckets = 8,
            maxFilesPerTrigger = 16, schemaDir = Some(s"$root/schemas"))
            .awaitTermination()
        }
        // zero dead letters: the runtime-loaded v5 descriptor decoded
        // every patch event
        require(!java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(s"$tableDir/_deadletter")) ||
          s.read.parquet(s"$tableDir/_deadletter").isEmpty,
          "v5 patches must decode with zero dead letters via get-or-load")
        val nPatch = s.read.parquet(s"$root/decoded")
          .filter(col("op") === "PATCH").count()
        require(nPatch > 300, s"expected a patch-heavy wave 2, got $nPatch")
        putMetric("q111", "patch_events", nPatch.toDouble)
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""WITH d AS (SELECT * FROM parquet_scan('${workDir("q111")}/decoded/*.parquet')),
        f AS (SELECT repo, path, arg_max(op, seq) AS fop,
          arg_max({'v': CASE WHEN op='DELETE' THEN NULL ELSE "commit" END},
                  CASE WHEN op <> 'PATCH' OR list_contains(changed_fields, 3) THEN seq END).v AS "commit",
          arg_max({'v': CASE WHEN op='DELETE' THEN NULL ELSE lang END},
                  CASE WHEN op <> 'PATCH' OR list_contains(changed_fields, 4) THEN seq END).v AS lang,
          arg_max({'v': CASE WHEN op='DELETE' THEN NULL ELSE content END},
                  CASE WHEN op <> 'PATCH' OR list_contains(changed_fields, 5) THEN seq END).v AS content,
          arg_max({'v': CASE WHEN op='DELETE' THEN NULL ELSE author END},
                  CASE WHEN op <> 'PATCH' OR list_contains(changed_fields, 8) THEN seq END).v AS author
          FROM d GROUP BY repo, path)
        SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM f WHERE fop <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q112_meta_aggregates",
      // SNAPSHOT TAGS + METADATA-ONLY AGGREGATES under the hard gate — the
      // two manifest-layer reads a 100 TB table answers without a scan.
      // Replay epochs 0-1 (v4 payloads with size_bytes, deletes mixed in),
      // TAG the head ("model-cut" — the named audit cut), replay epoch 2,
      // then run the full maintenance lifecycle: expire (the tag is a
      // retention ROOT and must survive), compact (watermark past every
      // tombstone → purged, footer bounds re-recorded), expire again,
      // vacuum. The head snapshot must then answer count(*) and
      // min/max(size_bytes) FROM THE MANIFEST ALONE (MetaAgg — zero Spark
      // jobs), the tag must still time-travel through expire+vacuum, and
      // the epoch snapshots (delta files present) must REFUSE a metadata
      // answer rather than guess. Output = the tag's state rows + the
      // head's meta-served aggregates as constant columns; the oracle
      // re-derives both from the decoded dump (fold at epoch ≤ 1 for the
      // tag, full fold for the aggregates).
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q112")
        val root = workDir("q112")
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val pDel = LogGen.Params(nEvents = 3000, nRepos = 40, pathsPerRepo = 30,
          deleteEvery = 25)
        val pClean = pDel.copy(deleteEvery = 0) // epoch 2 delete-free: the
        // maintenance pass can purge EVERY tombstone (watermark = tag cut)
        def gen(lo: Long, hi: Long, p: LogGen.Params, epoch: Long) =
          s.range(lo, hi, 1, 8).mapPartitions { it =>
            val fs = Cdc.fsV4; val d = fs.findMessage(Cdc.MessageType).get
            val pid = org.apache.spark.TaskContext.getPartitionId()
            it.map { id =>
              val c = LogGen.rawChange(id, p)
              val size = if (c.op == "DELETE") 0L else 4000000000L + c.content.length
              graft.decode.ChangeEvent(
                LogGen.encodeChange(c, d, fs, includeAuthor = true, sizeBytes = size),
                Cdc.SchemaId, 4, Cdc.MessageType, pid, id)
            }
          }.toDF().withColumn("epoch", lit(epoch))
        clock("gen") {
          gen(0, 1500, pDel, 0).unionByName(gen(1500, 3000, pDel, 1))
            .write.partitionBy("epoch").mode("overwrite").parquet(s"$root/logpre")
          gen(3000, 4500, pClean, 2)
            .write.partitionBy("epoch").mode("overwrite").parquet(s"$root/logtail")
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registryV4)
          val log = s.read.parquet(s"$root/logpre")
            .unionByName(s.read.parquet(s"$root/logtail"))
          (0 to 2).map { e =>
            val ev = log.filter(col("epoch") === e)
              .transform(Epoch.events)
            Replay.decodeForMerge(ev, registry, None).updates.withColumn("epoch", lit(e))
          }.reduce(_.unionByName(_)).write.mode("overwrite").parquet(s"$root/decoded")
        }
        clock("replay_head") {
          Replay.replayLog(s, s"$root/logpre", tableDir, buckets = 8,
            baseRegistry = Some(Cdc.registryV4))
        }
        val tagV = IceLite.load(tableDir).version
        IceLite.tag(tableDir, "model-cut", tagV)
        IceLite.tag(tableDir, "model-cut", tagV) // same-version re-tag: no-op
        require(IceLite.tagVersion(tableDir, "model-cut").contains(tagV),
          "tag must resolve to the pinned version")
        clock("replay_tail") {
          Replay.replayLog(s, s"$root/logtail", tableDir, buckets = 8,
            baseRegistry = Some(Cdc.registryV4))
        }
        // the epoch snapshot has delta files: metadata must refuse, not guess
        require(graft.lake.MetaAgg.liveCount(IceLite.load(tableDir)).isEmpty,
          "a snapshot with delta files must not answer count from metadata")
        clock("maintain") {
          graft.lake.Compaction.expire(tableDir, keepLast = 1)
          require(IceLite.history(tableDir).head == tagV,
            s"the tagged version is the retention root: ${IceLite.history(tableDir)}")
          graft.lake.Compaction.compact(s, tableDir, "maint")
          graft.lake.Compaction.expire(tableDir, keepLast = 1)
          graft.lake.Compaction.vacuum(tableDir, olderThanMs = 0)
        }
        val head = IceLite.load(tableDir)
        require(IceLite.history(tableDir) == Vector(tagV, head.version),
          s"exactly {tag, head} retained: ${IceLite.history(tableDir)}")
        require(head.files.forall(f => !f.delta && f.delRows == 0L),
          "post-maintenance head is delta-free and tombstone-free")
        // METADATA-ONLY answers (no Spark job runs in this block)
        val liveCount = graft.lake.MetaAgg.liveCount(head).getOrElse(
          sys.error("head must answer count(*) from the manifest"))
        val (mn, mx) = graft.lake.MetaAgg.minMax(head, "size_bytes").getOrElse(
          sys.error("head must answer min/max(size_bytes) from the manifest"))
        val byBucket = graft.lake.MetaAgg.bucketLiveRows(head).get
        require(byBucket.values.sum == liveCount && byBucket.size == head.buckets,
          "per-bucket live rows partition the live count")
        putMetric("q112", "live_count_meta", liveCount.toDouble)
        // the tag still time-travels AFTER expire + vacuum — its files are
        // pinned by the retained snapshot JSON
        IceLite.read(s, IceLite.loadTag(tableDir, "model-cut"))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"),
            col("size_bytes"),
            lit(liveCount).as("live_count"),
            lit(mn.asInstanceOf[Long]).as("min_size"),
            lit(mx.asInstanceOf[Long]).as("max_size"))
          .orderBy("repo", "path")
      },
      Some(s"""WITH d AS (SELECT * FROM parquet_scan('${workDir("q112")}/decoded/*.parquet')),
        h AS (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn FROM d),
        m AS (SELECT count(*) AS live_count, min(size_bytes) AS min_size, max(size_bytes) AS max_size
              FROM h WHERE rn = 1 AND op <> 'DELETE'),
        t AS (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM d WHERE epoch <= 1)
        SELECT t.repo, t.path, t."commit", t.lang, sha256(t.content) AS content_sha, t.author,
               t.size_bytes, m.live_count, m.min_size, m.max_size
        FROM t, m WHERE t.rn = 1 AND t.op <> 'DELETE' ORDER BY t.repo, t.path""")),

    OpQuery("q113_export_snapshot",
      // READ-OPTIMIZED SNAPSHOT EXPORT under the hard gate — hand the
      // table to engines that don't speak the format (the Delta
      // symlink-manifest / Hive-external-table move): a compacted
      // snapshot publishes as a directory of HARD LINKS (zero copy) plus
      // a manifest.json carrying the visible columns and a PORTABLE
      // tombstone row filter. The gate replays a deletes-included log,
      // pins the refusal on the merge-on-read (delta) snapshot — a raw
      // reader would double-count superseded rows — compacts WITHOUT
      // expire (tombstones retained, so the manifest's row filter is
      // load-bearing), exports, and then reads the export back RAW
      // (spark.read.parquet + the manifest filter, no IceLite anywhere in
      // the read path). Oracle = the independent LWW fold of the decoded
      // dump: the engine-neutral bytes must reproduce the resolved state
      // exactly.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q113")
        val root = workDir("q113")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 4000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 2)
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = s.read.parquet(logDir)
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        clock("replay") { Replay.replayLog(s, logDir, tableDir, buckets = 8) }
        // merge-on-read snapshots must REFUSE export (a raw reader cannot
        // resolve deltas) — pin the refusal before the compaction
        val refused =
          try { graft.lake.Export.exportSnapshot(tableDir, "premature"); false }
          catch { case _: IllegalArgumentException => true }
        require(refused, "a delta-bearing snapshot must refuse export")
        clock("compact") { graft.lake.Compaction.compact(s, tableDir, "maint") }
        val info = clock("export") {
          graft.lake.Export.exportSnapshot(tableDir, "training-cut")
        }
        require(info.created && info.files == IceLite.load(tableDir).files.size,
          "every head data file exported")
        require(info.rows >= 0, "manifest carries the exact live count")
        require(!graft.lake.Export.exportSnapshot(tableDir, "training-cut").created,
          "same-version re-publish is idempotent")
        putMetric("q113", "export_files", info.files.toDouble)
        putMetric("q113", "export_rows", info.rows.toDouble)
        // ENGINE-NEUTRAL read-back: raw parquet + the manifest's portable
        // filter — IceLite is deliberately absent from this read path
        s.read.parquet(s"${info.dir}/data")
          .where(expr(info.rowFilter))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q113")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q114_idempotent_producer",
      // IDEMPOTENT PRODUCER + ZOMBIE FENCING under the hard gate — the
      // write side of the transport contract (Kafka's producer-epoch
      // protocol on a file log). The fixture drives the full lifecycle:
      // producer "ingest" registers and publishes wave 1 in two batches,
      // RE-SENDS an already-acked batch (at-least-once retry — must be
      // suppressed, not duplicated), fails over (re-register bumps the
      // fencing epoch), the ZOMBIE instance tries to keep publishing and
      // is fenced writing nothing, the new instance publishes wave 2, and
      // an independent producer "backfill" interleaves its own segment
      // into the same log epoch. Replay of the multi-producer log must
      // equal the oracle fold of exactly the ACCEPTED events — the
      // suppressed duplicate and the fenced zombie batch never reach the
      // table.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q114")
        val root = workDir("q114")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val p = LogGen.Params(nEvents = 4500, nRepos = 40, pathsPerRepo = 30,
          deleteEvery = 25)
        def gen(lo: Long, hi: Long) =
          s.range(lo, hi, 1, 4).mapPartitions { it =>
            val fs = Cdc.fsV2; val d = fs.findMessage(Cdc.MessageType).get
            val pid = org.apache.spark.TaskContext.getPartitionId()
            it.map { id =>
              val c = LogGen.rawChange(id, p)
              graft.decode.ChangeEvent(
                LogGen.encodeChange(c, d, fs, includeAuthor = true),
                Cdc.SchemaId, 2, Cdc.MessageType, pid, id)
            }
          }
        import graft.cdc.LogWriter
        clock("produce") {
          val ingest1 = LogWriter.register(logDir, "ingest")
          require(LogWriter.append(ingest1, gen(0, 1000), 0, batchId = 0).appended)
          require(LogWriter.append(ingest1, gen(1000, 2000), 0, batchId = 1).appended)
          // at-least-once retry of an acked batch: suppressed
          require(!LogWriter.append(ingest1, gen(1000, 2000), 0, batchId = 1).appended,
            "duplicate batch delivery must be suppressed")
          // failover; the old instance becomes a zombie
          val ingest2 = LogWriter.register(logDir, "ingest")
          require(ingest2.epoch > ingest1.epoch, "failover bumps the fencing epoch")
          val fenced =
            try { LogWriter.append(ingest1, gen(9000, 9500), 1, batchId = 2); false }
            catch { case _: LogWriter.ProducerFencedException => true }
          require(fenced, "the zombie instance must be fenced")
          require(LogWriter.append(ingest2, gen(2000, 3500), 1, batchId = 2).appended)
          val backfill = LogWriter.register(logDir, "backfill")
          require(backfill.epoch == 1, "independent producer ids fence independently")
          require(LogWriter.append(backfill, gen(3500, 4500), 1, batchId = 0).appended)
        }
        // exactly the accepted events are in the log — no duplicate, no
        // zombie rows (ids 9000+ would betray the fence)
        val logged = s.read.parquet(logDir)
        require(logged.count() == 4500L, s"accepted events only: ${logged.count()}")
        require(logged.select("offset").distinct().count() == 4500L,
          "no duplicate deliveries on disk")
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = logged
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        clock("replay") { Replay.replayLog(s, logDir, tableDir, buckets = 8) }
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q114")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q115_log_truncation",
      // COORDINATED LOG GC under the hard gate — when is a change-log
      // epoch physically deletable? Exactly when every registered
      // consumer's epoch LEDGER (the fencing state replay already
      // maintains) shows it contiguously applied. The fixture: consumer A
      // replays all 3 epochs, consumer B lags at epoch 1; the safe point
      // is min(2, 1) = 1, truncation drops epochs 0-1 and keeps 2; B then
      // RESUMES off the truncated log and converges to A; a brand-new
      // consumer C can no longer rebuild from the log alone (its gapped
      // ledger pins the safe point at -1 — the honest signal), so C
      // onboards the production way: BOOTSTRAP from A's snapshot at
      // original sequences + the retained tail, and must also converge.
      // Output = B's state; oracle = the independent fold of the full
      // decoded dump (taken before truncation); A ≡ B ≡ C hard-asserted.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q115")
        val root = workDir("q115")
        val logDir = s"$root/log"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 4500, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = s.read.parquet(logDir)
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        import graft.cdc.LogGc
        import LogGc.Consumer
        clock("replay_consumers") {
          // B lags one epoch behind A
          java.nio.file.Files.move(
            java.nio.file.Paths.get(logDir, "epoch=2"),
            java.nio.file.Paths.get(s"$root/stash-epoch=2"))
          Replay.replayLog(s, logDir, s"$root/b", buckets = 8)
          java.nio.file.Files.move(
            java.nio.file.Paths.get(s"$root/stash-epoch=2"),
            java.nio.file.Paths.get(logDir, "epoch=2"))
          Replay.replayLog(s, logDir, s"$root/a", buckets = 8)
        }
        val consumers = Seq(Consumer(s"$root/a"), Consumer(s"$root/b"))
        require(LogGc.safeTruncationPoint(Seq(Consumer(s"$root/a"))) == 2L)
        val st = clock("truncate") { LogGc.truncate(logDir, consumers) }
        require(st.safePoint == 1L && st.removedEpochs == Seq(0L, 1L),
          s"min(A=2, B=1) = 1 must bound the truncation: $st")
        require(LogGc.epochs(logDir) == Seq(2L), "only the unconsumed tail survives")
        clock("resume_b") { Replay.replayLog(s, logDir, s"$root/b", buckets = 8) }
        // NEW consumer: the truncated log is not enough (gapped ledger
        // pins the point), bootstrap + tail is
        clock("onboard_c") {
          val aSnap = IceLite.load(s"$root/a")
          val snapshot = IceLite.read(s, aSnap, includeHidden = true)
            .filter(!coalesce(col(IceLite.DelCol.name), lit(false)))
            .select(col("repo"), col("path"), col("commit"), col("lang"),
              col("content"), col("author"), col(IceLite.SeqCol.name).as("seq"))
          Replay.bootstrap(s, snapshot, "seq", s"$root/c", buckets = 8)
          Replay.replayLog(s, logDir, s"$root/c", buckets = 8)
          require(LogGc.safeTruncationPoint(Seq(Consumer(s"$root/c"))) == -1L,
            "a gapped ledger must never advance the safe point")
        }
        def state(dir: String) = IceLite.read(s, IceLite.load(dir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
        require(state(s"$root/b").except(state(s"$root/a")).isEmpty &&
          state(s"$root/a").except(state(s"$root/b")).isEmpty,
          "resumed B must converge to A")
        require(state(s"$root/c").except(state(s"$root/a")).isEmpty &&
          state(s"$root/a").except(state(s"$root/c")).isEmpty,
          "bootstrapped C must converge to A")
        putMetric("q115", "removed_files", st.removedFiles.toDouble)
        state(s"$root/b").orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q115")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q116_asof_timestamp",
      // AS-OF-TIMESTAMP TIME TRAVEL under the hard gate — the wall-clock
      // axis q46 (version) and q112 (tag) don't cover: every snapshot now
      // stores its commit time IN the snapshot JSON (Iceberg's
      // timestamp-ms; file mtime only as the legacy fallback, because
      // object stores don't keep mtime), and `loadAsOf(ts)` resolves the
      // newest snapshot at or before the cut. The fixture replays 3
      // epochs with real wall-clock separation, cuts strictly between the
      // epoch-1 and epoch-2 commits, and must read exactly the epoch-1
      // state; boundary semantics (exactly-at-commit is inclusive; now =
      // head; pre-create refuses) are hard-asserted. Oracle = the fold of
      // the decoded dump at epoch ≤ 1.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q116")
        val root = workDir("q116")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 4000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") { dumpDecodedByEpoch(s, logDir, root, epochs = 3) }
        clock("replay") {
          // epoch 2 lands after a real wall-clock gap, so the timestamp
          // cut between the commits is unambiguous
          java.nio.file.Files.move(
            java.nio.file.Paths.get(logDir, "epoch=2"),
            java.nio.file.Paths.get(s"$root/stash-epoch=2"))
          Replay.replayLog(s, logDir, tableDir, buckets = 8)
          Thread.sleep(40)
          java.nio.file.Files.move(
            java.nio.file.Paths.get(s"$root/stash-epoch=2"),
            java.nio.file.Paths.get(logDir, "epoch=2"))
          Replay.replayLog(s, logDir, tableDir, buckets = 8)
        }
        val head = IceLite.load(tableDir)
        val vCut = head.version - 1 // the snapshot after epoch 1
        val tCut = IceLite.commitTimeOf(tableDir, vCut)
        val tHead = IceLite.commitTimeOf(tableDir, head.version)
        require(tHead > tCut, s"monotone commit times: $tCut vs $tHead")
        // strictly-between cut resolves to the earlier snapshot;
        // exactly-at-commit is inclusive; "now" is the head; pre-create
        // refuses
        val asOf = IceLite.loadAsOf(tableDir, (tCut + tHead) / 2)
        require(asOf.version == vCut, s"mid-gap cut must resolve to v$vCut, got ${asOf.version}")
        require(IceLite.loadAsOf(tableDir, tCut).version == vCut, "at-commit is inclusive")
        require(IceLite.loadAsOf(tableDir, System.currentTimeMillis() + 1000)
          .version == head.version, "a future cut is the head")
        val preCreate =
          try { IceLite.loadAsOf(tableDir, IceLite.commitTimeOf(tableDir, 0) - 10); false }
          catch { case _: IllegalArgumentException => true }
        require(preCreate, "a pre-create cut must refuse")
        putMetric("q116", "cut_gap_ms", (tHead - tCut).toDouble)
        IceLite.read(s, asOf)
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q116")}/decoded/*.parquet') WHERE epoch <= 1) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q117_producer_to_stream",
      // PRODUCER → STREAM END-TO-END under the hard gate — the write side
      // (q114's idempotent producer) composed with the read side (q47's
      // streaming Tail) on ONE log: producer "ingest" publishes wave 1
      // (with an at-least-once duplicate re-send, suppressed on disk),
      // the Tail drains it into the table; then a failover fences the
      // zombie instance mid-pipeline, the successor and an independent
      // "backfill" producer publish wave 2, and the Tail RESUMES from its
      // checkpoint ingesting exactly the new segments. The atomic
      // no-replace segment rename is what makes the handoff safe: the
      // streaming file source only ever lists complete files. Oracle =
      // the fold of the accepted events; the fenced zombie batch and the
      // duplicate must be invisible at every layer (disk, lineage, table).
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q117")
        val root = workDir("q117")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        val ckpt = s"$root/ckpt"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val p = LogGen.Params(nEvents = 4000, nRepos = 40, pathsPerRepo = 30,
          deleteEvery = 25)
        def gen(lo: Long, hi: Long) =
          s.range(lo, hi, 1, 4).mapPartitions { it =>
            val fs = Cdc.fsV2; val d = fs.findMessage(Cdc.MessageType).get
            val pid = org.apache.spark.TaskContext.getPartitionId()
            it.map { id =>
              val c = LogGen.rawChange(id, p)
              graft.decode.ChangeEvent(
                LogGen.encodeChange(c, d, fs, includeAuthor = true),
                Cdc.SchemaId, 2, Cdc.MessageType, pid, id)
            }
          }
        import graft.cdc.LogWriter
        clock("wave1") {
          val ingest1 = LogWriter.register(logDir, "ingest")
          require(LogWriter.append(ingest1, gen(0, 1000), 0, batchId = 0).appended)
          require(LogWriter.append(ingest1, gen(1000, 2000), 0, batchId = 1).appended)
          require(!LogWriter.append(ingest1, gen(1000, 2000), 0, batchId = 1).appended,
            "duplicate delivery suppressed before the stream ever sees it")
          graft.cdc.Tail.start(s, logDir, tableDir, ckpt, buckets = 8,
            maxFilesPerTrigger = 16).awaitTermination()
        }
        clock("wave2_resume") {
          val ingest1Zombie = LogWriter.Producer(logDir, "ingest", 1)
          val ingest2 = LogWriter.register(logDir, "ingest")
          val fenced =
            try { LogWriter.append(ingest1Zombie, gen(9000, 9500), 1, 2); false }
            catch { case _: LogWriter.ProducerFencedException => true }
          require(fenced, "the zombie is fenced mid-pipeline")
          require(LogWriter.append(ingest2, gen(2000, 3000), 1, batchId = 2).appended)
          val backfill = LogWriter.register(logDir, "backfill")
          require(LogWriter.append(backfill, gen(3000, 4000), 1, batchId = 0).appended)
          graft.cdc.Tail.start(s, logDir, tableDir, ckpt, buckets = 8,
            maxFilesPerTrigger = 16).awaitTermination()
        }
        require(!java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(s"$tableDir/_deadletter")) ||
          s.read.parquet(s"$tableDir/_deadletter").isEmpty, "zero dead letters")
        val logged = s.read.parquet(logDir)
        require(logged.count() == 4000L && logged.select("offset").distinct().count() == 4000L,
          "exactly the accepted events reached the log")
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = logged
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q117")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q118_merge_into",
      // GENERIC MERGE INTO under the hard gate — the Delta/Iceberg three-clause
      // DML the predicate verbs (q69 DELETE WHERE, q70 UPDATE WHERE) don't
      // cover: one source DataFrame drives WHEN MATCHED AND cond DELETE /
      // WHEN MATCHED UPDATE SET (expressions over BOTH s.* and t.*) / WHEN
      // NOT MATCHED INSERT, applied as ONE epoch-fenced merge batch at
      // seq = maxSeq+1 (so LWW vs the CDC stream, fencing, and change-feed
      // visibility are inherited, not re-implemented). The target pre-image
      // read prunes to the buckets the source keys hash into. Oracle = the
      // LWW fold of the decoded dump LEFT JOINed to the dumped source with
      // the three clauses re-derived in SQL.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q118")
        val root = workDir("q118")
        val tableDir = s"$root/table"
        clock("replay") { replayFinalState(s, nEvents = 5000, tag = "q118",
          dumpDecodedLog = true) }
        val sourceDf = clock("source") {
          val live = IceLite.read(s, IceLite.load(tableDir))
            .select("repo", "path", "commit", "lang", "content", "author")
            .withColumn("__h", pmod(xxhash64(col("repo"), col("path")), lit(7)))
          val updates = live.filter(col("__h") === 0)
            .withColumn("content", concat(lit("merged:"), col("path")))
            .withColumn("author", lit("merge-bot"))
            .withColumn("del", lit(false))
          val deletes = live.filter(col("__h") === 1).withColumn("del", lit(true))
          val inserts = s.range(0, 300, 1, 4).select(
            lit("merged-repo").as("repo"),
            concat(lit("new/"), col("id")).as("path"),
            lit("c-merge").as("commit"), lit("scala").as("lang"),
            concat(lit("fresh:"), col("id")).as("content"),
            lit("merge-bot").as("author"), lit(false).as("del"))
          val src = updates.drop("__h").unionByName(deletes.drop("__h"))
            .unionByName(inserts)
          // oracle input: the exact source the merge consumed
          src.write.mode("overwrite").parquet(s"$root/source")
          s.read.parquet(s"$root/source")
        }
        val st = clock("merge") {
          Dml.mergeInto(s, tableDir, sourceDf,
            matchedDelete = Some("s.del"),
            matchedSet = Seq("content" -> "s.content",
              "author" -> "concat(s.author, ':', t.lang)"),
            insertNotMatched = true, epochId = "merge-0")
        }
        require(st.inserted == 300, s"300 unmatched source rows insert, got ${st.inserted}")
        require(st.updated > 0 && st.deleted > 0, s"fixture must exercise all three clauses: $st")
        // replaying the same epoch fences as a no-op, like any CDC epoch
        require(!Dml.mergeInto(s, tableDir, sourceDf, Some("s.del"),
          Seq("content" -> "s.content"), insertNotMatched = true,
          epochId = "merge-0").merge.applied, "replayed MERGE epoch must fence")
        // duplicate source keys are the classic MERGE ambiguity — refuse
        val dupRefused =
          try { Dml.mergeInto(s, tableDir, sourceDf.unionByName(sourceDf.limit(1)),
            None, Seq("content" -> "s.content"), insertNotMatched = false, "merge-1"); false }
          catch { case _: IllegalArgumentException => true }
        require(dupRefused, "duplicate source keys must refuse")
        putMetric("q118", "updated", st.updated.toDouble)
        putMetric("q118", "deleted", st.deleted.toDouble)
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""WITH t AS (
          SELECT repo, path, "commit", lang, content, author
          FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
                FROM parquet_scan('${workDir("q118")}/decoded/*.parquet')) x
          WHERE rn = 1 AND op <> 'DELETE'),
        s AS (SELECT * FROM parquet_scan('${workDir("q118")}/source/*.parquet'))
        SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author FROM (
          SELECT t.repo, t.path, t."commit", t.lang,
                 CASE WHEN s.repo IS NOT NULL THEN s.content ELSE t.content END AS content,
                 CASE WHEN s.repo IS NOT NULL THEN s.author || ':' || t.lang
                      ELSE t.author END AS author
          FROM t LEFT JOIN s ON t.repo = s.repo AND t.path = s.path
          WHERE s.repo IS NULL OR NOT s.del
          UNION ALL
          SELECT s.repo, s.path, s."commit", s.lang, s.content, s.author
          FROM s WHERE NOT EXISTS (
            SELECT 1 FROM t WHERE t.repo = s.repo AND t.path = s.path)
        ) ORDER BY repo, path""")),

    OpQuery("q120_merge_full_sync",
      // MERGE's FOURTH CLAUSE under the hard gate — WHEN NOT MATCHED BY
      // SOURCE THEN DELETE, bounded to a target scope (Delta 2.3's
      // full-sync primitive): inside the scope the table must MIRROR the
      // source exactly (updates applied, absent keys tombstoned, new keys
      // inserted), outside the scope nothing moves. The scope predicate is
      // also the scan bound, so the clause's cost is O(scope), and the
      // whole four-clause merge is still ONE fenced epoch. Oracle = fold
      // LEFT JOINed to the dumped source with the same scope partition.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q120")
        val root = workDir("q120")
        val tableDir = s"$root/table"
        clock("replay") { replayFinalState(s, nEvents = 5000, tag = "q120",
          dumpDecodedLog = true) }
        val scope = "repo LIKE 'org01%'" // org010-org019 + the sync repo
        val sourceDf = clock("source") {
          val live = IceLite.read(s, IceLite.load(tableDir))
            .select("repo", "path", "commit", "lang", "content", "author")
          // the source mirror: scope rows minus every third key (those must
          // be DELETED by absence), content refreshed; plus new scope keys
          val kept = live.filter(expr(scope))
            .filter(pmod(xxhash64(col("repo"), col("path")), lit(3)) =!= 0)
            .withColumn("content", concat(lit("sync:"), col("path")))
          val fresh = s.range(0, 120, 1, 4).select(
            lit("org01-sync").as("repo"),
            concat(lit("new/"), col("id")).as("path"),
            lit("c-sync").as("commit"), lit("scala").as("lang"),
            concat(lit("mirror:"), col("id")).as("content"),
            lit("sync-bot").as("author"))
          val src = kept.unionByName(fresh)
          src.write.mode("overwrite").parquet(s"$root/source")
          s.read.parquet(s"$root/source")
        }
        val st = clock("merge") {
          Dml.mergeInto(s, tableDir, sourceDf,
            matchedDelete = None,
            matchedSet = Seq("content" -> "s.content"),
            insertNotMatched = true, epochId = "sync-0",
            notMatchedBySourceDelete = Some(scope))
        }
        require(st.inserted == 120 && st.updated > 0 && st.deletedBySource > 0,
          s"fixture must exercise update + insert + by-source delete: $st")
        require(st.deleted == 0, s"no matched-delete clause was given: $st")
        // the clause partition is exact: in-scope live keys == source keys
        val inScope = IceLite.read(s, IceLite.load(tableDir)).filter(expr(scope))
        require(inScope.count() == sourceDf.count(),
          "inside the scope the table mirrors the source exactly")
        putMetric("q120", "deleted_by_source", st.deletedBySource.toDouble)
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""WITH t AS (
          SELECT repo, path, "commit", lang, content, author
          FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
                FROM parquet_scan('${workDir("q120")}/decoded/*.parquet')) x
          WHERE rn = 1 AND op <> 'DELETE'),
        s AS (SELECT * FROM parquet_scan('${workDir("q120")}/source/*.parquet'))
        SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author FROM (
          SELECT t.repo, t.path, t."commit", t.lang,
                 CASE WHEN s.repo IS NOT NULL THEN s.content ELSE t.content END AS content,
                 t.author
          FROM t LEFT JOIN s ON t.repo = s.repo AND t.path = s.path
          WHERE s.repo IS NOT NULL OR NOT (t.repo LIKE 'org01%')
          UNION ALL
          SELECT s.repo, s.path, s."commit", s.lang, s.content, s.author
          FROM s WHERE NOT EXISTS (
            SELECT 1 FROM t WHERE t.repo = s.repo AND t.path = s.path)
        ) ORDER BY repo, path""")),

    OpQuery("q122_concurrent_writers",
      // MULTI-WRITER OPTIMISTIC CONCURRENCY under the hard gate: two
      // key-sharded source logs replay into ONE table from two CONCURRENT
      // writer threads (distinct fence namespaces, 6 epochs each). Benign
      // commit races rebase inside the snapshot CAS; GENUINE validation
      // conflicts are made likely on purpose — deltaThreshold=2 forces
      // frequent inline COW compactions, so one writer rewriting a bucket
      // the other is appending to is a real conflict — and each conflicted
      // epoch re-runs against the fresh snapshot (Iceberg's
      // validation-then-retry). The thread schedule is nondeterministic;
      // the RESULT is not: seq-LWW merges are order-independent, so any
      // interleaving converges to the oracle's global fold over both
      // logs. A post-race re-replay of writer A's log must fence every
      // epoch (exactly-once survived the concurrency).
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q122")
        val root = workDir("q122")
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val p = LogGen.Params(nEvents = 4000, nRepos = 40, pathsPerRepo = 30,
          v1Fraction = 0.4)
        def shardOf(repo: String, path: String): Int =
          Math.floorMod(graft.functions.XxHash64Host.hashString(repo + "|" + path, 43L), 2L).toInt
        clock("gen_sharded") {
          val tagged = LogGen.events(s, p).mapPartitions { it =>
            it.map { ev =>
              val c = LogGen.rawChange(ev.offset, p)
              (ev.payload, ev.schemaId, ev.schemaVersion, ev.messageType,
                ev.partition, ev.offset, shardOf(c.repo, c.path))
            }
          }.toDF("payload", "schemaId", "schemaVersion", "messageType",
            "partition", "offset", "shard").localCheckpoint()
          tagged.filter(col("shard") === 0)
            .withColumn("epoch", (col("offset") / 1400).cast("long")).drop("shard")
            .write.partitionBy("epoch").mode("overwrite").parquet(s"$root/logA")
          tagged.filter(col("shard") === 1)
            .withColumn("epoch", (col("offset") / 1400).cast("long")).drop("shard")
            .write.partitionBy("epoch").mode("overwrite").parquet(s"$root/logB")
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val ev = s.read.parquet(s"$root/logA").unionByName(s.read.parquet(s"$root/logB"))
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        val (results, retries) = clock("concurrent_replay") {
          Replay.replayLogsConcurrent(s,
            Seq(s"$root/logA" -> "wa", s"$root/logB" -> "wb"),
            tableDir, buckets = 8, deltaThreshold = 3)
        }
        require(results.forall(_.stats.forall(_.applied)),
          "every epoch from both writers must apply exactly once")
        val led = IceLite.load(tableDir).ledger
        require(led.watermarks.contains("wa") || led.recent.contains("wa"),
          "writer A's fence namespace must be in the ledger")
        require(led.watermarks.contains("wb") || led.recent.contains("wb"),
          "writer B's fence namespace must be in the ledger")
        val again = clock("fence_recheck") {
          Replay.replayLog(s, s"$root/logA", tableDir, buckets = 8, namespace = "wa")
        }
        require(again.stats.forall(st => !st.applied),
          "re-replaying writer A's log after the race must fence every epoch")
        putMetric("q122", "conflict_retries", retries.toDouble)
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q122")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q123_snapshot_diff",
      // SNAPSHOT DIFF under the hard gate: replay 4 epochs, then diff the
      // RESOLVED states of version 2 (after epochs 0-1) and head — one row
      // per key whose live value changed in the window, classified
      // insert / update / delete with the to-side values (NULL for
      // deletes). This is the state delta, not the change feed: a key
      // touched by three epochs appears once, with only its final value.
      // The oracle full-outer-joins the two LWW folds of the decoded log
      // (epochs <= 1 vs all) and classifies identically, so a diff that
      // misses a changed bucket (bad pruning), compares non-null-safely,
      // or leaks an unchanged key breaks equality. Bucket pruning itself
      // (path-identical buckets never read) is files-audited in DiffSpec.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q123")
        val root = workDir("q123")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen_dump") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 4000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 4)
          dumpDecodedByEpoch(s, logDir, root, epochs = 4)
        }
        clock("replay") { Replay.replayLog(s, logDir, tableDir, buckets = 8) }
        val head = IceLite.load(tableDir).version
        val pruned = Diff.changedBuckets(
          IceLite.loadVersion(tableDir, 2), IceLite.loadVersion(tableDir, head))
        putMetric("q123", "changed_buckets", pruned.map(_.size.toDouble).getOrElse(-1.0))
        clock("diff") {
          Diff.betweenVersions(s, tableDir, 2, head)
            .select(col("repo"), col("path"), col("change_type"),
              col("commit"), col("lang"),
              sha2(col("content"), 256).as("content_sha"), col("author"))
            .orderBy("repo", "path")
        }
      },
      Some(s"""WITH d AS (SELECT * FROM parquet_scan('${workDir("q123")}/decoded/*.parquet')),
        sf AS (SELECT repo, path, "commit", lang, content, author FROM (
          SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
          FROM d WHERE epoch <= 1) t WHERE rn = 1 AND op <> 'DELETE'),
        st AS (SELECT repo, path, "commit", lang, content, author FROM (
          SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
          FROM d) t WHERE rn = 1 AND op <> 'DELETE')
        SELECT coalesce(st.repo, sf.repo) AS repo,
               coalesce(st.path, sf.path) AS path,
               CASE WHEN sf.repo IS NULL THEN 'insert'
                    WHEN st.repo IS NULL THEN 'delete'
                    ELSE 'update' END AS change_type,
               st."commit" AS "commit", st.lang AS lang,
               sha256(st.content) AS content_sha, st.author AS author
        FROM sf FULL OUTER JOIN st ON sf.repo = st.repo AND sf.path = st.path
        WHERE sf.repo IS NULL OR st.repo IS NULL
           OR sf."commit" IS DISTINCT FROM st."commit"
           OR sf.lang IS DISTINCT FROM st.lang
           OR sf.content IS DISTINCT FROM st.content
           OR sf.author IS DISTINCT FROM st.author
        ORDER BY repo, path""")),

    OpQuery("q119_time_retention",
      // TIME-BASED RETENTION + the wall-clock change feed under the hard
      // gate: `changesBetween(fromTs, toTs)` resolves both cuts
      // newest-at-or-before (q116's axis) and streams exactly the window's
      // change rows; `expireOlderThan(ts)` ends time travel before the cut
      // but tagged versions survive as retention roots (q112's rule, now on
      // the time axis), and a following vacuum reclaims the dropped
      // versions' exclusive files while the tagged read stays byte-exact.
      // Oracle = the per-key LWW of the decoded dump restricted to the
      // window's epoch.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q119")
        val root = workDir("q119")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 4000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") { dumpDecodedByEpoch(s, logDir, root, epochs = 3) }
        clock("replay") {
          // epoch-at-a-time with real wall-clock gaps between commits
          (2 to 1 by -1).foreach { e =>
            java.nio.file.Files.move(
              java.nio.file.Paths.get(logDir, s"epoch=$e"),
              java.nio.file.Paths.get(s"$root/stash-epoch=$e"))
          }
          Replay.replayLog(s, logDir, tableDir, buckets = 8)
          (1 to 2).foreach { e =>
            Thread.sleep(40)
            java.nio.file.Files.move(
              java.nio.file.Paths.get(s"$root/stash-epoch=$e"),
              java.nio.file.Paths.get(logDir, s"epoch=$e"))
            Replay.replayLog(s, logDir, tableDir, buckets = 8)
          }
        }
        val Seq(t1, t2, t3) = (1 to 3).map(IceLite.commitTimeOf(tableDir, _))
        require(t1 < t2 && t2 + 1 < t3, s"separated commit times: $t1 $t2 $t3")
        IceLite.tag(tableDir, "audit", 1) // epoch-0 state pinned forever
        // the wall-clock change feed: the window (after-epoch-1, now]
        // carries exactly epoch 2's change rows
        val feed = IceLite.changesBetween(s, tableDir,
            fromTsMs = (t2 + t3) / 2, toTsMs = System.currentTimeMillis())
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"),
            col(IceLite.SeqCol.name).as("seq"),
            col(IceLite.DelCol.name).as("is_delete"))
          .orderBy("seq").localCheckpoint()
        clock("expire_vacuum") {
          // a full maintenance compaction (v4) absorbs every delta file, so
          // the replay epochs' deltas become exclusive to the pre-compaction
          // versions AT ANY PARALLELISM — the earlier formulation relied on
          // the inline per-bucket COW threshold tripping during epoch 2,
          // which a low-shuffle-partition session (fewer delta files per
          // bucket) never reaches, leaving vacuum nothing to reclaim
          Thread.sleep(5) // t4 strictly after t3 on the ms commit-time axis
          Compaction.compact(s, tableDir, "maint-q119")
          val t4 = IceLite.commitTimeOf(tableDir, 4)
          require(t3 < t4, s"separated compaction commit time: $t3 $t4")
          val dropped = Compaction.expireOlderThan(tableDir, t4, keepLast = 1)
          require(dropped == 3, s"v0, v2, v3 drop; tagged v1 survives: dropped $dropped")
          require(IceLite.history(tableDir) == Vector(1, 4),
            s"retained ${IceLite.history(tableDir)}")
          // a cut inside the dropped range falls back to the newest RETAINED
          // snapshot at or before it (the tag), and a cut before every
          // retained snapshot refuses — time travel there ended with expire
          require(IceLite.loadAsOf(tableDir, (t1 + t2) / 2).version == 1)
          val preRetained =
            try { IceLite.loadAsOf(tableDir, t1 - 1); false }
            catch { case _: IllegalArgumentException => true }
          require(preRetained, "pre-retention cut must refuse after expire")
          require(Compaction.vacuum(tableDir, 0) > 0,
            "the dropped versions had exclusive files for vacuum to reclaim")
        }
        // the tagged epoch-0 state survives expire+vacuum byte-exact
        val tagRead = IceLite.read(s, IceLite.loadTag(tableDir, "audit"))
          .select("repo", "path", "content")
        val tagOracle = s.read.parquet(s"$root/decoded").filter(col("epoch") === 0)
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("repo", "path").orderBy(col("seq").desc)))
          .filter(col("rn") === 1 && col("op") =!= "DELETE")
          .select("repo", "path", "content")
        require(tagRead.exceptAll(tagOracle).isEmpty &&
          tagOracle.exceptAll(tagRead).isEmpty,
          "tagged snapshot must read the exact epoch-0 fold after expire+vacuum")
        feed
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author,
               seq, (op = 'DELETE') AS is_delete
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q119")}/decoded/*.parquet') WHERE epoch = 2) t
        WHERE rn = 1 ORDER BY seq""")),

    OpQuery("q104_consumer_cursors",
      // CONSUMER-GROUP CURSORS over the change feed, driver-gated: a
      // "slow" consumer drains the table in bounded single-version polls
      // (ack after each), a "bulk" consumer takes the whole window in one
      // poll — both must deliver exactly the same rows, and both must
      // equal the oracle's per-epoch LWW fold of the decoded log. The run
      // hard-asserts the at-least-once contract on the way: re-polling
      // BEFORE ack redelivers the identical window; polling after the
      // final ack is empty.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q104")
        val root = workDir("q104")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 4000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") {
          dumpDecodedByEpoch(s, logDir, root, epochs = 3)
        }
        clock("replay") { Replay.replayLog(s, logDir, tableDir, buckets = 8) }
        clock("consume") {
          graft.lake.Feed.create(tableDir, "slow", startVersion = 1)
          graft.lake.Feed.create(tableDir, "bulk", startVersion = 1)
        }
        val windows = scala.collection.mutable.ArrayBuffer[DataFrame]()
        var drained = false
        while (!drained) {
          val (w, to) = graft.lake.Feed.poll(s, tableDir, "slow", maxVersions = 1)
          if (to == graft.lake.Feed.position(tableDir, "slow")) drained = true
          else {
            val (w2, to2) = graft.lake.Feed.poll(s, tableDir, "slow", maxVersions = 1)
            require(to2 == to && w2.count() == w.count(),
              s"pre-ack re-poll must redeliver the same window ($to vs $to2)")
            windows += w
            graft.lake.Feed.ack(tableDir, "slow", to)
          }
        }
        require(windows.size == 2, s"3 epochs from v1 = 2 windows, got ${windows.size}")
        val (bulk, bulkTo) = graft.lake.Feed.poll(s, tableDir, "bulk")
        val stepwise = windows.reduce(_.unionByName(_))
        // a wide window that crosses an inline compaction NETS OUT
        // intermediate rewrites (the Delta CDF caveat), so the honest
        // invariant is subset + equal LWW outcome, not row equality
        require(bulk.select("repo", "path", IceLite.SeqCol.name)
            .except(stepwise.select("repo", "path", IceLite.SeqCol.name))
            .count() == 0,
          "bulk window rows must be a subset of stepwise delivery")
        require(stepwise.count() >= bulk.count(),
          "stepwise delivery can never carry fewer rows than the net window")
        graft.lake.Feed.ack(tableDir, "bulk", bulkTo)
        require(graft.lake.Feed.poll(s, tableDir, "bulk")._1.count() == 0,
          "a drained consumer must poll empty")
        putMetric("q104", "windows", windows.size.toDouble)
        stepwise
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"),
            col(IceLite.SeqCol.name).as("seq"),
            col(IceLite.DelCol.name).as("is_delete"))
          .orderBy("seq")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author,
               seq, (op = 'DELETE') AS is_delete
        FROM (SELECT *, row_number() OVER (PARTITION BY epoch, repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q104")}/decoded/*.parquet') WHERE epoch >= 1) t
        WHERE rn = 1 ORDER BY seq""")),

    OpQuery("q29_change_feed",
      (s, _) => changeFeed(s, nEvents = 4000, tag = "q29"),
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author,
               seq, (op = 'DELETE') AS is_delete
        FROM (SELECT *, row_number() OVER (PARTITION BY epoch, repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q29")}/decoded/*.parquet') WHERE epoch >= 1) t
        WHERE rn = 1 ORDER BY seq""")),

    OpQuery("q143_incremental_stats",
      // INCREMENTAL ANALYZE under the hard gate: table stats maintained as
      // one KMV sketch row per (bucket, column), so an epoch's commit
      // refreshes ONLY the buckets it touched (a metadata-only diff of the
      // two snapshots' file lists) — maintenance cost O(touched buckets),
      // never O(table). The KMV merge is EXACT (every hash among the global
      // k smallest is among its bucket's k smallest), so the folded readout
      // must be BIT-EQUAL to a from-scratch full analyze — hard-asserted
      // here double-for-double — and the oracle re-derives every number
      // from the dumped head-state melt (the q89 protocol). The fixture
      // makes the pruning real: epochs 0-1 touch the whole 30×20 keyspace,
      // epoch 2 touches 4 keys, so the refresh reads a strict subset of
      // the 8 buckets.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q143")
        val root = workDir("q143")
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val pBroad = LogGen.Params(nEvents = 3000, nRepos = 30, pathsPerRepo = 20)
        // the narrow epoch pins THREE exact keys (rawChange's per-event
        // lang varies the path extension, so a small Params keyspace still
        // fans out to ~6× more keys than pathsPerRepo suggests)
        def narrowChange(id: Long): LogGen.RawChange = {
          val keys = Vector(
            ("org000/repo000", "src/dir0/file0.scala", "scala"),
            ("org001/repo001", "src/dir1/file1.java", "java"),
            ("org002/repo002", "src/dir2/file2.py", "py"))
          val (r, path, lang) = keys((id % 3).toInt)
          LogGen.RawChange(r, path, f"${LogGen.mix(id)}%016x", lang,
            LogGen.content(0, 0, id, 42L), id, "UPSERT", s"dev${id % 97}")
        }
        def gen(lo: Long, hi: Long, mk: Long => LogGen.RawChange, epoch: Long) =
          s.range(lo, hi, 1, 8).mapPartitions { it =>
            val fs = Cdc.fsV2; val d = fs.findMessage(Cdc.MessageType).get
            val pid = org.apache.spark.TaskContext.getPartitionId()
            it.map { id =>
              graft.decode.ChangeEvent(
                LogGen.encodeChange(mk(id), d, fs, includeAuthor = true),
                Cdc.SchemaId, 2, Cdc.MessageType, pid, id)
            }
          }.toDF().withColumn("epoch", lit(epoch))
        clock("gen") {
          gen(0, 1500, LogGen.rawChange(_, pBroad), 0)
            .unionByName(gen(1500, 3000, LogGen.rawChange(_, pBroad), 1))
            .write.partitionBy("epoch").mode("overwrite").parquet(s"$root/logpre")
          gen(3000, 3200, narrowChange, 2)
            .write.partitionBy("epoch").mode("overwrite").parquet(s"$root/logtail")
        }
        clock("replay_pre") { Replay.replayLog(s, s"$root/logpre", tableDir, buckets = 8) }
        // baseline sketch store: all 8 buckets at the post-epoch-1 snapshot
        clock("baseline_stats") {
          graft.lake.Analyze.refreshBuckets(s, tableDir, (0 until 8).toSet, k = 64)
        }
        val vPre = IceLite.load(tableDir).version
        clock("replay_tail") { Replay.replayLog(s, s"$root/logtail", tableDir, buckets = 8) }
        val touched = graft.lake.Analyze.touchedBuckets(
          tableDir, vPre, IceLite.load(tableDir).version)
        require(touched.nonEmpty && touched.size < 8,
          s"narrow epoch must touch a strict bucket subset, got $touched")
        putMetric("q143", "buckets_touched", touched.size.toDouble)
        putMetric("q143", "buckets_total", 8.0)
        clock("refresh") { graft.lake.Analyze.refreshBuckets(s, tableDir, touched, k = 64) }
        val merged = clock("merge") { graft.lake.Analyze.mergedStats(s, tableDir) }
        // bit-equality vs a from-scratch full analyze at the same k
        val full = graft.lake.Analyze.analyze(s, tableDir, k = 64)
        def keyed(df: DataFrame) = df.collect().map { r =>
          (r.getString(0), r.getLong(1), r.getLong(2),
            java.lang.Double.doubleToLongBits(r.getDouble(3)),
            if (r.isNullAt(4)) None else Some(r.getLong(4)))
        }.toSeq
        require(keyed(merged) == keyed(full),
          "merged per-bucket sketches must equal the full analyze bit-for-bit")
        // oracle input: the head-state melt (col_name, hash, is_null)
        clock("melt_dump") {
          graft.lake.Analyze.melt(s, tableDir)
            .write.mode("overwrite").parquet(s"$root/melt")
        }
        merged
      },
      Some(s"""WITH m AS (SELECT * FROM parquet_scan('${workDir("q143")}/melt/*.parquet')),
        agg AS (SELECT col_name, count(*) AS n_rows,
                CAST(sum(CASE WHEN isn THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
                FROM m GROUP BY 1),
        hh AS (SELECT DISTINCT col_name, h FROM m WHERE NOT isn),
        r AS (SELECT col_name, h, row_number() OVER (PARTITION BY col_name ORDER BY h) AS rn FROM hh),
        kk AS (SELECT col_name, count(*) AS exact_d, max(CASE WHEN rn = 64 THEN h END) AS kth
               FROM r GROUP BY 1)
        SELECT a.col_name, a.n_rows, a.n_nulls,
          COALESCE(CASE WHEN kk.kth IS NULL THEN CAST(kk.exact_d AS DOUBLE)
            ELSE 63.0 / ((CAST(kk.kth AS DOUBLE) + 9.223372036854775808e18) / 1.8446744073709551616e19)
          END, 0.0) AS est_distinct,
          kk.kth AS kth_hash
        FROM agg a LEFT JOIN kk ON a.col_name = kk.col_name ORDER BY a.col_name""")),

    OpQuery("q144_chunked_bootstrap",
      // DBLog-STYLE CHUNKED BOOTSTRAP under the hard gate: a replica
      // attaches to a LIVE source without pausing it — the key space is
      // copied in four bucket-range chunks, each read from the source's
      // CURRENT snapshot (the source commits a new epoch between chunks,
      // hard-asserted by strictly increasing chunk versions), interleaved
      // with change-feed shipments. Convergence needs no low/high watermark
      // bracket over a quiesced select (DBLog's trick for dumb sinks):
      // chunk rows carry their ORIGINAL sequences, so the LWW merge makes
      // every chunk/feed interleaving commutative — re-shipping a feed
      // window is a fenced no-op (asserted), overlap ties are benign. Each
      // chunk scan is bucket-pruned (files-read audit) → O(chunk) per
      // step, O(changes) per feed hop, never O(table): the shape that
      // bootstraps a 10^10-row replica while ingest keeps running. The
      // replica (on a DIFFERENT bucket layout) must equal the source head
      // AND the oracle's independent fold of the decoded log.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q144")
        val root = workDir("q144")
        val srcDir = s"$root/src"
        val replDir = s"$root/replica"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val p = LogGen.Params(nEvents = 4000, nRepos = 40, pathsPerRepo = 30,
          deleteEvery = 25)
        def gen(lo: Long, hi: Long, epoch: Long) =
          s.range(lo, hi, 1, 8).mapPartitions { it =>
            val fs = Cdc.fsV2; val d = fs.findMessage(Cdc.MessageType).get
            val pid = org.apache.spark.TaskContext.getPartitionId()
            it.map { id =>
              graft.decode.ChangeEvent(
                LogGen.encodeChange(LogGen.rawChange(id, p), d, fs, includeAuthor = true),
                Cdc.SchemaId, 2, Cdc.MessageType, pid, id)
            }
          }.toDF().withColumn("epoch", lit(epoch))
        clock("gen") {
          (0 until 4).foreach { e =>
            gen(e * 1000L, (e + 1) * 1000L, e)
              .write.partitionBy("epoch").mode("overwrite").parquet(s"$root/log$e")
          }
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          (0 until 4).map { e =>
            val ev = s.read.parquet(s"$root/log$e")
              .transform(Epoch.events)
            Replay.decodeForMerge(ev, registry, None).updates.withColumn("epoch", lit(e))
          }.reduce(_.unionByName(_)).write.mode("overwrite").parquet(s"$root/decoded")
        }
        def srcVersion = IceLite.load(srcDir).version
        val chunkVersions = scala.collection.mutable.ArrayBuffer[Int]()
        def copyChunk(id: Int, lo: Int, hi: Int): Unit = {
          val (v, st) = Replay.bootstrapChunk(s, srcDir, replDir,
            (lo to hi).toSet, chunkId = id, buckets = 4)
          require(st.applied, s"chunk $id must apply")
          chunkVersions += v
        }
        def ship(from: Int, to: Int): Unit = {
          val st = Replay.applyChanges(s,
            IceLite.changes(s, srcDir, from, to), replDir, s"repl-$to", buckets = 4,
            feedRowsHint = Some(IceLite.changesRowEstimate(srcDir, from, to)))
          require(st.applied, s"feed $from->$to must apply")
        }
        // interleave: chunk, commit, feed, chunk, commit, ... (no quiesce)
        clock("interleaved_bootstrap") {
          Replay.replayLog(s, s"$root/log0", srcDir, buckets = 8)
          copyChunk(0, 0, 1)
          Replay.replayLog(s, s"$root/log1", srcDir, buckets = 8)
          ship(chunkVersions(0), srcVersion)
          copyChunk(1, 2, 3)
          Replay.replayLog(s, s"$root/log2", srcDir, buckets = 8)
          copyChunk(2, 4, 5)
          ship(2, srcVersion)
          Replay.replayLog(s, s"$root/log3", srcDir, buckets = 8)
          ship(3, srcVersion)
          copyChunk(3, 6, 7)
        }
        require(chunkVersions.toSeq == chunkVersions.toSeq.sorted &&
          chunkVersions.distinct.size == 4,
          s"chunks must see a LIVE source (strictly newer versions): $chunkVersions")
        // at-least-once delivery: re-shipping an already-fenced feed window
        // must be a no-op
        require(!Replay.applyChanges(s, IceLite.changes(s, srcDir, 2, 3),
          replDir, "repl-3", buckets = 4).applied,
          "re-shipped feed window must fence out")
        // files-read audit on the last chunk: the scan touched only the
        // chunk's bucket range
        val headSnap = IceLite.load(srcDir)
        val rangeFiles = headSnap.files.filter(f => f.bucket >= 6 && f.bucket <= 7)
          .map(_.path).toSet
        val scanned = IceLite.read(s, headSnap,
          f => f.bucket >= 6 && f.bucket <= 7, includeHidden = true).inputFiles
        require(scanned.nonEmpty && scanned.forall(f =>
          rangeFiles(new java.net.URI(f).getPath)),
          "chunk scan must read only its bucket range")
        putMetric("q144", "chunk_files_read", scanned.size.toDouble)
        putMetric("q144", "src_files_total", headSnap.files.size.toDouble)
        // replica ≡ source head, then the oracle re-derives the same state
        val sel = Seq(col("repo"), col("path"), col("commit"), col("lang"),
          sha2(col("content"), 256).as("content_sha"), col("author"))
        val srcState = IceLite.read(s, headSnap).select(sel: _*)
        val replState = IceLite.read(s, IceLite.load(replDir)).select(sel: _*)
        require(replState.except(srcState).isEmpty && srcState.except(replState).isEmpty,
          "replica must converge to the source head")
        replState.orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q144")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q153_maintenance_advisor",
      // TARGETED MAINTENANCE under the hard gate: WHICH buckets need
      // compacting is answered from manifest metadata alone (file counts,
      // delta counts, tombstone fractions — no Spark job, no file opens:
      // the only affordable planning mode on a 10^6-file table), then the
      // pass compacts EXACTLY the advised buckets. Hard-asserted: the
      // advice splits the buckets non-trivially (zipf skew makes file
      // accumulation uneven), un-advised buckets' files are left
      // byte-identical on disk (targeted = no collateral rewrites), the
      // advisor reports clean afterwards, and the state still equals the
      // oracle fold.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q153")
        val root = workDir("q153")
        val tableDir = s"$root/table"
        val logDir = s"$root/log"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 4000, nRepos = 40,
            pathsPerRepo = 30, deleteEvery = 20, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") { dumpDecodedByEpoch(s, logDir, root, epochs = 3) }
        // the fixture NEEDS uneven per-bucket file accumulation (that is the
        // workload a maintenance advisor exists for): pin the merge's
        // per-task row target low so each epoch shards into several files
        // per bucket and the zipf key skew makes the counts uneven — the
        // scale-adaptive default would write one file per bucket per epoch
        // here and the advisor would have nothing to discriminate; 8
        // rows/task gives enough shards that zipf sparsity leaves some
        // shards empty (uneven per-bucket file counts)
        graft.Conf.withConf(s, "spark.graft.merge.targetRowsPerTask" -> "8") {
          clock("replay") { Replay.replayLog(s, logDir, tableDir, buckets = 8) }
        }
        val snap = IceLite.load(tableDir)
        val counts = Compaction.health(snap).map(_.files)
        require(counts.min < counts.max,
          s"fixture needs uneven file accumulation, got $counts")
        val threshold = (counts.min + counts.max) / 2
        val advised = Compaction.advise(snap, maxFiles = threshold)
        require(advised.nonEmpty && advised.size < snap.buckets,
          s"advice must split the buckets: $advised of ${snap.buckets}")
        putMetric("q153", "buckets_advised", advised.size.toDouble)
        val untouchedBefore = snap.files.filterNot(f => advised(f.bucket))
          .map(_.path).sorted
        clock("compact_advised") {
          Compaction.compact(s, tableDir, "q153-maint", Some(advised))
        }
        val after = IceLite.load(tableDir)
        require(after.files.filterNot(f => advised(f.bucket)).map(_.path).sorted
          == untouchedBefore,
          "un-advised buckets must keep their exact files (targeted maintenance)")
        require(Compaction.advise(after, maxFiles = threshold).isEmpty,
          "the advisor must report clean after the targeted pass")
        IceLite.read(s, after)
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q153")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q151_incremental_digests",
      // INCREMENTAL DIGEST MAINTENANCE under the hard gate — the O(changes)
      // upkeep that makes q148's anti-entropy digests affordable on a
      // 10^10-row table where per-epoch full rescans are off the table.
      // The CDF row-version ledger (pre-images carrying the PREDECESSOR's
      // sequence — each row a version entering or leaving the live set)
      // folds into the leaf digests by XOR self-inverse cancellation; the
      // folded map must be BIT-EQUAL to a from-scratch recompute of the
      // new snapshot — any lost pre-image, double-counted insert, or
      // wrong-sequence cancellation breaks the equality, and a digest bug
      // would silently break divergence detection downstream. Output =
      // the final state vs the oracle's independent fold.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q151")
        val root = workDir("q151")
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val p = LogGen.Params(nEvents = 4000, nRepos = 40, pathsPerRepo = 30,
          deleteEvery = 20)
        def gen(lo: Long, hi: Long, epoch: Long) =
          s.range(lo, hi, 1, 8).mapPartitions { it =>
            val fs = Cdc.fsV2; val d = fs.findMessage(Cdc.MessageType).get
            val pid = org.apache.spark.TaskContext.getPartitionId()
            it.map { id =>
              graft.decode.ChangeEvent(
                LogGen.encodeChange(LogGen.rawChange(id, p), d, fs, includeAuthor = true),
                Cdc.SchemaId, 2, Cdc.MessageType, pid, id)
            }
          }.toDF().withColumn("epoch", lit(epoch))
        clock("gen") {
          gen(0, 1500, 0).unionByName(gen(1500, 3000, 1))
            .write.partitionBy("epoch").mode("overwrite").parquet(s"$root/logpre")
          gen(3000, 4000, 2)
            .write.partitionBy("epoch").mode("overwrite").parquet(s"$root/logtail")
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          val log = s.read.parquet(s"$root/logpre")
            .unionByName(s.read.parquet(s"$root/logtail"))
          val ev = log
            .transform(Epoch.events)
          Replay.decodeForMerge(ev, registry, None).updates
            .write.mode("overwrite").parquet(s"$root/decoded")
        }
        import graft.lake.{AntiEntropy, Cdf}
        val leaves = 32
        clock("replay_pre") { Replay.replayLog(s, s"$root/logpre", tableDir, buckets = 8) }
        val vPre = IceLite.load(tableDir).version
        val baseline = clock("digest_baseline") {
          AntiEntropy.leafDigests(s, tableDir, leaves)
        }
        clock("replay_tail") { Replay.replayLog(s, s"$root/logtail", tableDir, buckets = 8) }
        val vHead = IceLite.load(tableDir).version
        val ledger = clock("ledger") {
          Cdf.rowVersionLedger(s, tableDir, vPre, vHead).localCheckpoint()
        }
        val folded = clock("fold") {
          AntiEntropy.applyVersionLedger(s, baseline, ledger,
            IceLite.load(tableDir), leaves)
        }
        val recomputed = AntiEntropy.leafDigests(s, tableDir, leaves)
        require(folded == recomputed,
          "incrementally folded digests must equal the full recompute bit-for-bit")
        val ledgerRows = ledger.count()
        val tableRows = recomputed.values.map(_._1).sum
        require(ledgerRows < tableRows,
          s"fold must be O(changes): $ledgerRows ledger rows vs $tableRows table rows")
        putMetric("q151", "ledger_rows", ledgerRows.toDouble)
        putMetric("q151", "table_rows", tableRows.toDouble)
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q151")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q148_anti_entropy",
      // MERKLE-STYLE ANTI-ENTROPY under the hard gate: a replica that
      // SILENTLY MISSED one feed epoch (the failure no fencing can see —
      // the hop was never attempted) is detected by comparing O(leaves)
      // commutative digests (count + XOR hash fold per key-hash
      // residue class, layout/order/compaction independent), then repaired
      // by shipping ONLY the diverged leaves: source rows at original
      // sequences + tombstones for the missed deletes. Leaves are a
      // multiple of both sides' bucket counts, so both repair scans are
      // structurally bucket-pruned — at 10^10 rows the repair reads
      // O(diverged), never O(table). Hard-asserted: divergence is a strict
      // leaf subset, digests match after repair, rows shipped ≪ table
      // rows; the repaired replica must equal the oracle's independent
      // fold of the FULL log (so the repair reconstructed exactly what the
      // missed epoch would have delivered).
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q148")
        val root = workDir("q148")
        val primary = s"$root/primary"
        val replica = s"$root/replica"
        val logDir = s"$root/log"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val pBroad = LogGen.Params(nEvents = 4000, nRepos = 40, pathsPerRepo = 30,
          deleteEvery = 20)
        // the missed hop is a NARROW final epoch (3 fixed keys; one ends
        // in a DELETE so the repair's tombstone path is exercised) — at
        // 10^10 rows a lagging replica misses a sliver, not the keyspace
        def narrowChange(id: Long): LogGen.RawChange = {
          val keys = Vector(
            ("org000/repo000", "src/dir0/file0.scala", "scala"),
            ("org001/repo001", "src/dir1/file1.java", "java"),
            ("org002/repo002", "src/dir2/file2.py", "py"))
          val (r, path, lang) = keys((id % 3).toInt)
          val del = id == 4197L // k0's final event: a missed DELETE
          LogGen.RawChange(r, path, f"${LogGen.mix(id)}%016x", lang,
            if (del) "" else LogGen.content(0, 0, id, 42L), id,
            if (del) "DELETE" else "UPSERT", s"dev${id % 97}")
        }
        def gen(lo: Long, hi: Long, mk: Long => LogGen.RawChange, epoch: Long) =
          s.range(lo, hi, 1, 8).mapPartitions { it =>
            val fs = Cdc.fsV2; val d = fs.findMessage(Cdc.MessageType).get
            val pid = org.apache.spark.TaskContext.getPartitionId()
            it.map { id =>
              graft.decode.ChangeEvent(
                LogGen.encodeChange(mk(id), d, fs, includeAuthor = true),
                Cdc.SchemaId, 2, Cdc.MessageType, pid, id)
            }
          }.toDF().withColumn("epoch", lit(epoch))
        clock("gen") {
          gen(0, 2000, LogGen.rawChange(_, pBroad), 0)
            .unionByName(gen(2000, 4000, LogGen.rawChange(_, pBroad), 1))
            .unionByName(gen(4000, 4200, narrowChange, 2))
            .write.partitionBy("epoch").mode("overwrite").parquet(logDir)
        }
        clock("decode_dump") { dumpDecodedByEpoch(s, logDir, root, epochs = 3) }
        clock("replay_primary") { Replay.replayLog(s, logDir, primary, buckets = 8) }
        clock("replica_with_gap") {
          // bootstrap at v1, apply v1->v2, SILENTLY miss the last hop v2->v3
          val snapV1 = IceLite.loadVersion(primary, 1)
          val dataCols = snapV1.currentSchema.filterNot(_.hidden).map(_.name)
          val snap = IceLite.read(s, snapV1, includeHidden = true)
            .filter(!coalesce(col(IceLite.DelCol.name), lit(false)))
            .select(dataCols.map(col) :+ col(IceLite.SeqCol.name).as("seq"): _*)
          Replay.bootstrap(s, snap, "seq", replica, buckets = 4)
          Replay.applyChanges(s, IceLite.changes(s, primary, 1, 2), replica,
            "repl-2", buckets = 4,
            feedRowsHint = Some(IceLite.changesRowEstimate(primary, 1, 2)))
        }
        import graft.lake.AntiEntropy
        val leaves = 32
        val (dp, dr) = clock("digest") {
          (AntiEntropy.leafDigests(s, primary, leaves),
            AntiEntropy.leafDigests(s, replica, leaves))
        }
        val diverged = AntiEntropy.divergedLeaves(dp, dr)
        require(diverged.nonEmpty && diverged.size < leaves,
          s"divergence must be a strict leaf subset: ${diverged.size}/$leaves")
        val st = clock("repair") {
          AntiEntropy.repairLeaves(s, primary, replica, diverged, leaves, "ae-1")
        }
        val after = AntiEntropy.leafDigests(s, replica, leaves)
        require(AntiEntropy.divergedLeaves(dp, after).isEmpty,
          "digests must match after repair")
        val tableRows = dp.values.map(_._1).sum
        require(st.upserts + st.deletes < tableRows,
          s"repair must ship less than the table (${st.upserts}+${st.deletes} vs $tableRows)")
        require(st.deletes > 0, "the missed-delete tombstone path must be exercised")
        putMetric("q148", "leaves_diverged", diverged.size.toDouble)
        putMetric("q148", "repair_deletes", st.deletes.toDouble)
        putMetric("q148", "rows_shipped", (st.upserts + st.deletes).toDouble)
        putMetric("q148", "table_rows", tableRows.toDouble)
        IceLite.read(s, IceLite.load(replica))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q148")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    // POISON-BATCH CIRCUIT BREAKER under the hard gate: epoch 1 of the
    // log is 50% corrupted (an upstream deploy gone wrong — truncated
    // varint tags), far past the 10% tolerance, so the guarded replay
    // must REFUSE it whole (no merge, no dead-letter flood, a quarantine
    // marker) while epochs 0 and 2 apply normally around it. Mid-state is
    // hard-asserted (fences present for 0/2 only, marker for 1). The
    // release then applies epoch 1 through the normal routing path —
    // good rows merge, corrupt rows dead-letter — and the final table
    // must equal the oracle fold of every UNCORRUPTED event: a breaker
    // that quarantined the wrong epoch, lost the healthy half of the
    // poisoned one, or double-applied on release all hash-diverge.
    OpQuery("q165_circuit_breaker",
      (s, _) => {
        val root = workDir("q165")
        val logDir = s"$root/log"
        val badLog = s"$root/badlog"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        dumpDecodedByEpoch(s, logDir, root, epochs = 3)
        // poison epoch 1: every even offset gets a truncated varint tag
        s.read.parquet(logDir).withColumn("payload",
            when(col("epoch") === 1 && pmod(col("offset"), lit(2)) === 0,
              lit(Array[Byte](-1))).otherwise(col("payload")))
          .write.partitionBy("epoch").mode("overwrite").parquet(badLog)
        import graft.cdc.Breaker
        val verdicts = Breaker.replayGuarded(s, badLog, tableDir,
          maxBadFraction = 0.1, buckets = 8)
        require(verdicts.filter(_.quarantined).map(_.epoch) == Seq(1L),
          s"exactly epoch 1 must be quarantined: $verdicts")
        val snap = IceLite.load(tableDir)
        require(snap.hasEpoch("replay-0") && snap.hasEpoch("replay-2") &&
          !snap.hasEpoch("replay-1"), "healthy epochs apply around the poison")
        require(Breaker.quarantined(tableDir) == Seq(1L), "marker must exist")
        val rel = Breaker.release(s, badLog, tableDir, 1L)
        require(rel.applied && Breaker.quarantined(tableDir).isEmpty,
          "release applies the healthy half and clears the marker")
        val dl = s.read.parquet(s"$tableDir/_deadletter")
        require(dl.count() > 0, "released corrupt rows must dead-letter")
        putMetric("q165", "quarantined_bad", verdicts(1).bad.toDouble)
        putMetric("q165", "dead_letters", dl.count().toDouble)
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q165")}/decoded/*.parquet')
              WHERE NOT (epoch = 1 AND seq % 2 = 0)) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    // SELECTIVE REPLAY (row-level decode pushdown) under the hard gate:
    // rebuild ONE hot repo's slice from the log. A keys-only decode pass
    // (non-key fields wire-skipped, payload bodies never materialized)
    // finds the matching events; only those run the full decode -> MERGE.
    // The slice table must equal the oracle fold RESTRICTED to the
    // predicate - a key mis-decode (wrong slice), a lost match, or a
    // stray non-matching event all hash-diverge. Hard asserts: the full
    // decode touched a small fraction of the log (the pushdown evidence)
    // and the table holds exactly one repo.
    OpQuery("q166_selective_replay",
      (s, _) => {
        val root = workDir("q166")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        dumpDecodedByEpoch(s, logDir, root, epochs = 3)
        val target = LogGen.repoName(3) // Zipf rank 4: hot but not dominant
        val res = Replay.replaySelective(s, logDir, tableDir,
          s"repo = '$target'", buckets = 8)
        val decodedFully = res.stats.map(_.batchRows).sum
        require(decodedFully > 0 && decodedFully * 4 < 3000,
          s"pushdown must keep full decode to a fraction ($decodedFully/3000)")
        val out = IceLite.read(s, IceLite.load(tableDir))
        require(out.select("repo").distinct().count() == 1,
          "the slice table must hold exactly the predicate's repo")
        putMetric("q166", "events_full_decoded", decodedFully.toDouble)
        putMetric("q166", "log_events", 3000.0)
        out.select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q166")}/decoded/*.parquet')
              WHERE repo = '${LogGen.repoName(3)}') t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    // HOT-KEY DETECTION on the ingest feed (Misra-Gries prefilter + exact
    // recount) under the hard gate: the repos with frequency > N/(k+1) in
    // a Zipf-keyed change log — the number a salting planner or cache
    // admission policy consumes. The per-partition summaries bound driver
    // state at k × partitions (never key cardinality: a 100 TB log with
    // billions of repos collects the same ≤ k·P candidates), the recount
    // is a filtered aggregate over the bounded candidate set, and the
    // superset guarantee makes the result EXACTLY the plain GROUP BY …
    // HAVING the oracle runs — integer counts, byte-deterministic. Hard
    // asserts: heavy hitters exist (the Zipf head), and the candidate set
    // genuinely pruned the key space.
    OpQuery("q154_heavy_hitters",
      (s, _) => {
        val root = workDir("q154")
        val logDir = s"$root/log"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 6000, nRepos = 400,
          pathsPerRepo = 6, v1Fraction = 0.7), logDir, epochs = 2)
        dumpDecodedByEpoch(s, logDir, root, epochs = 2)
        // fix the layout the per-partition pass sees (the guarantee holds
        // for ANY layout; the assert below needs a repeatable one)
        val decoded = s.read.parquet(s"$root/decoded").repartition(8)
        val (hh, nCands) = graft.operators.SketchOps.heavyHitters(
          decoded, "repo", k = 32)
        val nDistinct = decoded.select("repo").distinct().count()
        require(nCands < nDistinct,
          s"candidate set must prune the key space ($nCands vs $nDistinct keys)")
        val out = hh.orderBy(desc("cnt"), col("repo"))
        require(out.limit(1).count() > 0, "gate is vacuous without heavy hitters")
        putMetric("q154", "candidates", nCands.toDouble)
        putMetric("q154", "distinct_keys", nDistinct.toDouble)
        out
      },
      Some(s"""WITH src AS (SELECT repo
          FROM parquet_scan('${workDir("q154")}/decoded/*.parquet')
          WHERE repo IS NOT NULL),
        n AS (SELECT count(*) AS nn FROM src)
        SELECT repo, count(*) AS cnt FROM src, n GROUP BY repo, nn
        HAVING count(*) * 33 > nn ORDER BY cnt DESC, repo""")),

    // CLAIM-CHECK PATTERN under the hard gate: oversized payloads are
    // checked OUT of the log into a content-addressed blob store (the
    // Kafka/Debezium oversized-message recipe), then the replay re-inlines
    // them through the eventTransform hook (blob join fused into each
    // epoch's decode plan) and must land the SAME table as a replay of the
    // original log — the oracle folds the ORIGINAL decoded dump, so a
    // dropped claim, a mis-addressed blob, or a corrupted re-inline all
    // hash-diverge. Hard asserts: a real split happened (both claimed and
    // inline rows exist), no inline payload above the threshold survives
    // in the claimed log, and blob dedup stored strictly fewer blobs than
    // claimed rows would imply only if payloads repeat (they don't here —
    // counts must match).
    OpQuery("q159_claim_check",
      (s, _) => {
        val root = workDir("q159")
        val logDir = s"$root/log"
        val claimedLog = s"$root/claimed"
        val blobDir = s"$root/blobs"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        dumpDecodedByEpoch(s, logDir, root, epochs = 3)
        val st = graft.cdc.ClaimCheck.checkIn(
          s, logDir, claimedLog, blobDir, threshold = 700)
        require(st.claimed > 0 && st.claimed < st.events,
          s"split must be real: ${st.claimed} of ${st.events} claimed")
        require(st.blobs == st.claimed,
          s"unique payloads here → blobs == claimed (${st.blobs} vs ${st.claimed})")
        val maxInline = s.read.parquet(claimedLog)
          .agg(max(length(col("payload")))).head().getInt(0)
        require(maxInline <= 700, s"inline payload above threshold: $maxInline")
        Replay.replayLog(s, claimedLog, tableDir, buckets = 8,
          eventTransform = Some(graft.cdc.ClaimCheck.resolver(s, blobDir)))
        putMetric("q159", "claimed", st.claimed.toDouble)
        putMetric("q159", "blobs", st.blobs.toDouble)
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q159")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    // SNAPSHOT-KEYED RESULT CACHE under the hard gate: a repeated grouped
    // aggregate is served from its materialized result as long as the
    // table version is unchanged (hit audited as reading ONLY cache files
    // — the inputFiles assert), then a later epoch commits, the version
    // bumps, and the same call MUST recompute (correct-by-construction
    // invalidation: every engine write path commits a version). The final
    // answer must equal the oracle's fold of ALL epochs — a stale hit
    // served after the commit would freeze the pre-commit numbers and
    // hash-diverge. Vacuum drops the superseded version's slot and the
    // fresh version still hits.
    OpQuery("q160_result_cache",
      (s, _) => {
        val root = workDir("q160")
        val logDir = s"$root/log"
        val logB = s"$root/log-late"
        val tableDir = s"$root/table"
        val cacheDir = s"$root/cache"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        dumpDecodedByEpoch(s, logDir, root, epochs = 3)
        // stage the last epoch as a separate, later-arriving log (q96 shape)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(logB))
        org.apache.commons.io.FileUtils.moveDirectory(
          new java.io.File(s"$logDir/epoch=2"), new java.io.File(s"$logB/epoch=2"))
        val q = (df: org.apache.spark.sql.DataFrame) => df.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("content"))).as("total_chars"))
        import graft.lake.ResultCache
        Replay.replayLog(s, logDir, tableDir, buckets = 8)
        val r1 = ResultCache.run(s, tableDir, cacheDir, "by_lang", q)
        require(!r1.hit, "first call must be a miss")
        val r2 = ResultCache.run(s, tableDir, cacheDir, "by_lang", q)
        require(r2.hit && r2.version == r1.version, "unchanged version must hit")
        val hitInputs = r2.df.inputFiles.map(f => new java.net.URI(f).getPath)
        require(hitInputs.nonEmpty && hitInputs.forall(_.startsWith(cacheDir)),
          s"a hit must read only cache files: ${hitInputs.mkString(",")}")
        Replay.replayLog(s, logB, tableDir, buckets = 8)
        val r3 = ResultCache.run(s, tableDir, cacheDir, "by_lang", q)
        require(!r3.hit && r3.version > r2.version,
          s"commit must invalidate (v${r2.version} -> v${r3.version}, hit=${r3.hit})")
        require(ResultCache.vacuum(cacheDir, "by_lang", keepLast = 1) == 1,
          "exactly the superseded version's slot is dropped")
        val r4 = ResultCache.run(s, tableDir, cacheDir, "by_lang", q)
        require(r4.hit && r4.version == r3.version, "fresh version still hits after vacuum")
        putMetric("q160", "versions_cached", 2.0)
        r4.df.orderBy("lang")
      },
      Some(s"""SELECT lang, count(*) AS n_docs,
          CAST(sum(length(content)) AS BIGINT) AS total_chars
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q160")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE'
        GROUP BY lang ORDER BY lang""")),

    // INCREMENTALLY-MAINTAINED JOIN VIEW under the hard gate — the
    // denormalization half of view maintenance (q65 is the aggregate
    // half): OUT = fact LEFT JOIN dim, kept current from BOTH change
    // feeds. A fact epoch re-emits only its changed keys; a dim tier
    // change re-emits only the fact rows referencing the touched dim
    // keys (a dim DELETE degrades them to NULL dim columns — LEFT JOIN
    // semantics, not row loss). The final view must equal the oracle's
    // full fold-and-join of both dumped histories — a missed dim
    // propagation, a double-applied fact delta, or a dropped
    // NULL-degrade all hash-diverge. Hard asserts: the second refresh
    // recomputed strictly less than the view (incremental evidence) and
    // a replayed refresh fences as a no-op.
    OpQuery("q162_incremental_join_view",
      (s, _) => {
        import s.implicits._
        val root = workDir("q162")
        val logDir = s"$root/log"
        val lateDir = s"$root/log-late"
        val fDir = s"$root/fact"
        val dDir = s"$root/dim"
        val outDir = s"$root/view"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 3600, nRepos = 60,
          pathsPerRepo = 40, v1Fraction = 0.7), logDir, epochs = 3)
        dumpDecodedByEpoch(s, logDir, root, epochs = 3)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(lateDir))
        org.apache.commons.io.FileUtils.moveDirectory(
          new java.io.File(s"$logDir/epoch=2"), new java.io.File(s"$lateDir/epoch=2"))
        Replay.replayLog(s, logDir, fDir, buckets = 8)
        // dim: repo -> tier, maintained by hand-rolled fenced merges
        createTierDim(s, dDir)
        def applyDim(rows: Seq[(String, String, Long, String)], tag: String): Unit =
          applyTierDim(s, dDir, s"$root/dimdump", rows, tag)
        applyDim((0 until 60).map(i => (LogGen.repoName(i),
          if (i % 3 == 0) "gold" else "std", 1L, "UPSERT")), "dim-1")
        import graft.lake.MatJoin
        MatJoin.create(fDir, dDir, outDir, buckets = 8)
        val r1 = MatJoin.refresh(s, fDir, dDir, outDir)
        require(r1.applied && r1.recomputed > 0, s"initial load must apply: $r1")
        // both sides move: a late fact epoch + a dim tier change + a dim delete
        Replay.replayLog(s, lateDir, fDir, buckets = 8)
        applyDim((0 until 60).collect {
          case i if i % 5 == 0 => (LogGen.repoName(i), "plat", 2L, "UPSERT") } ++
          Seq((LogGen.repoName(7), "", 2L, "DELETE")), "dim-2")
        val before = MatJoin.read(s, outDir).count()
        val r2 = MatJoin.refresh(s, fDir, dDir, outDir)
        require(r2.applied && r2.recomputed > 0, s"second refresh must apply: $r2")
        require(r2.recomputed < before,
          s"incremental: recomputed ${r2.recomputed} of $before view rows")
        val r3 = MatJoin.refresh(s, fDir, dDir, outDir)
        require(!r3.applied, "replayed refresh must fence as a no-op")
        putMetric("q162", "view_rows", before.toDouble)
        putMetric("q162", "recomputed_2nd", r2.recomputed.toDouble)
        MatJoin.read(s, outDir)
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"), col("tier"))
          .orderBy("repo", "path")
      },
      Some(s"""WITH f AS (SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
            FROM parquet_scan('${workDir("q162")}/decoded/*.parquet')) t
          WHERE rn = 1 AND op <> 'DELETE'),
        d AS (SELECT repo, tier FROM (
            SELECT *, row_number() OVER (PARTITION BY repo ORDER BY dseq DESC) AS rn
            FROM parquet_scan('${workDir("q162")}/dimdump/*.parquet')) t
          WHERE rn = 1 AND NOT del)
        SELECT f.repo, f.path, f."commit", f.lang, sha256(f.content) AS content_sha,
               f.author, d.tier
        FROM f LEFT JOIN d ON d.repo = f.repo
        ORDER BY f.repo, f.path""")),

    // STREAMING INGEST + JOIN VIEW + INDEX-PRUNED DIM PROPAGATION composed
    // under the hard gate: a Tail stream keeps the fact table fresh across
    // two waves (checkpoint resume between them), the dim retiers between
    // the waves, and MatJoin.refresh advances the denormalized view after
    // each — the second refresh's dim propagation runs through the fact's
    // join-column BLOOM INDEX and is hard-asserted to scan a strict
    // subset of the fact buckets. The final view must equal the oracle's
    // fold-and-join of both full histories.
    OpQuery("q163_streaming_join_view",
      (s, _) => {
        import s.implicits._
        val root = workDir("q163")
        val streamDir = s"$root/stream"
        val fDir = s"$root/fact"
        val dDir = s"$root/dim"
        val outDir = s"$root/view"
        val ckpt = s"$root/ckpt"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        // NB pathsPerRepo fans out ~6× through the per-event lang extension,
        // so one repo spans ~24 (repo, path) keys → ~20 of 64 fact buckets
        val p = LogGen.Params(nEvents = 3000, nRepos = 80, pathsPerRepo = 4,
          v1Fraction = 0.7)
        val ev = LogGen.events(s, p)
        val registry = s.sparkContext.broadcast(Cdc.registry)
        Replay.decodeForMerge(
          Epoch.events(ev), registry, None)
          .updates.write.mode("overwrite").parquet(s"$root/decoded")
        import graft.lake.MatJoin
        ev.filter(col("offset") < 1500).repartition(3)
          .write.mode("append").parquet(streamDir)
        graft.cdc.Tail.start(s, streamDir, fDir, ckpt, buckets = 64).awaitTermination()
        createTierDim(s, dDir)
        applyTierDim(s, dDir, s"$root/dimdump", (0 until 80).map(i =>
          (LogGen.repoName(i), if (i % 3 == 0) "gold" else "std", 1L, "UPSERT")), "dim-1")
        IceLite.addBloomIndex(s, fDir, "idx-repo", "repo")
        MatJoin.create(fDir, dDir, outDir, buckets = 8)
        val r1 = MatJoin.refresh(s, fDir, dDir, outDir)
        require(r1.applied, s"wave-1 backfill must apply: $r1")
        ev.filter(col("offset") >= 1500).repartition(3)
          .write.mode("append").parquet(streamDir)
        graft.cdc.Tail.start(s, streamDir, fDir, ckpt, buckets = 64).awaitTermination()
        applyTierDim(s, dDir, s"$root/dimdump", Seq(
          (LogGen.repoName(3), "plat", 2L, "UPSERT")), "dim-2")
        val r2 = MatJoin.refresh(s, fDir, dDir, outDir)
        require(r2.applied, s"wave-2 refresh must apply: $r2")
        require(r2.factBucketsScanned > 0 && r2.factBucketsScanned * 2 <=
          IceLite.load(fDir).buckets,
          s"bloom index must prune the propagation scan: " +
            s"${r2.factBucketsScanned}/${IceLite.load(fDir).buckets}")
        require(!MatJoin.refresh(s, fDir, dDir, outDir).applied,
          "a replayed refresh must fence as a no-op")
        putMetric("q163", "propagation_buckets", r2.factBucketsScanned.toDouble)
        putMetric("q163", "recomputed_2nd", r2.recomputed.toDouble)
        MatJoin.read(s, outDir)
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"), col("tier"))
          .orderBy("repo", "path")
      },
      Some(s"""WITH f AS (SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
            FROM parquet_scan('${workDir("q163")}/decoded/*.parquet')) t
          WHERE rn = 1 AND op <> 'DELETE'),
        d AS (SELECT repo, tier FROM (
            SELECT *, row_number() OVER (PARTITION BY repo ORDER BY dseq DESC) AS rn
            FROM parquet_scan('${workDir("q163")}/dimdump/*.parquet')) t
          WHERE rn = 1 AND NOT del)
        SELECT f.repo, f.path, f."commit", f.lang, sha256(f.content) AS content_sha,
               f.author, d.tier
        FROM f LEFT JOIN d ON d.repo = f.repo
        ORDER BY f.repo, f.path""")),

    // CDC RELAY under the hard gate — the encode service at pipeline
    // volume: table A's change feed is re-encoded epoch by epoch to
    // RepoChange v2 wire bytes (canonical field order, proto3 defaults
    // omitted), packed into VARINT-DELIMITED segments (~100 messages per
    // segment — the reference's delimited framing as an EXPORT format,
    // not just an ingest one), and replayed into table B through the
    // delimited decode path. B must hash-match the oracle's fold of the
    // ORIGINAL log's decode — any encode defect, framing slip (a length
    // prefix off by one corrupts every later message in its segment), or
    // feed row lost in the re-pack diverges the replica. Segment grouping
    // is arbitrary by design: the fold is seq-LWW, so the relay's
    // correctness cannot depend on packing order.
    OpQuery("q164_cdc_relay",
      (s, _) => {
        import s.implicits._
        val root = workDir("q164")
        val logDir = s"$root/log"
        val aDir = s"$root/a"
        val relayDir = s"$root/relay"
        val bDir = s"$root/b"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        dumpDecodedByEpoch(s, logDir, root, epochs = 3)
        Replay.replayLog(s, logDir, aDir, buckets = 8)
        val registry = s.sparkContext.broadcast(Cdc.registry)
        var nEvents = 0L
        (0 until 3).foreach { e =>
          val rows = IceLite.changes(s, aDir, e, e + 1).select(
            col("repo"), col("path"), col("commit"), col("lang"),
            col("content"), col("author"),
            col(IceLite.SeqCol.name).as("seq"),
            when(coalesce(col(IceLite.DelCol.name), lit(false)), "DELETE")
              .otherwise("UPSERT").as("op"))
          nEvents += rows.count()
          graft.decode.Encode.encode(rows, registry, Cdc.KeyV2, Cdc.MessageType)
            .mapPartitions { it =>
              val pid = org.apache.spark.TaskContext.getPartitionId()
              it.grouped(100).zipWithIndex.map { case (batch, i) =>
                val w = new graft.proto.Wire.Writer
                batch.foreach { b =>
                  w.writeVarint64(b.length.toLong); w.writeRaw(b)
                }
                graft.decode.ChangeEvent(w.toBytes, Cdc.SchemaId, 2,
                  Cdc.MessageType, pid, pid.toLong * 1000000L + i)
              }
            }.toDF().withColumn("epoch", lit(e.toLong))
            .write.mode("append").partitionBy("epoch").parquet(relayDir)
        }
        val nSegments = s.read.parquet(relayDir).count()
        require(nEvents > 0 && nSegments * 10 < nEvents,
          s"segments must pack many messages each ($nSegments segs / $nEvents events)")
        Replay.replayLog(s, relayDir, bDir, buckets = 8,
          framing = graft.decode.Framing.VarintDelimited, namespace = "relay")
        putMetric("q164", "relay_events", nEvents.toDouble)
        putMetric("q164", "relay_segments", nSegments.toDouble)
        IceLite.read(s, IceLite.load(bDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q164")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    // DISTRIBUTION DRIFT between committed versions under the hard gate:
    // replay a 3-epoch log, then ask whether the content-length
    // distribution of the LIVE rows moved between version 1 (after epoch
    // 0) and version 3 (all epochs). The query reads both sides through
    // time travel (IceLite.loadVersion); the oracle re-derives each side
    // as an independent LWW fold of the decoded dump at the matching epoch
    // cut, re-bins with the same integer floor-division, and recomputes
    // the chi-square-style statistic with the same fixed-order double
    // chain — so a wrong fold on either side, a binning mismatch, or any
    // float looseness in the statistic hash-diverges. No tolerance: the
    // statistic must match bit-for-bit.
    OpQuery("q155_drift_detection",
      (s, _) => {
        val root = workDir("q155")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        dumpDecodedByEpoch(s, logDir, root, epochs = 3)
        Replay.replayLog(s, logDir, tableDir, buckets = 8)
        val out = graft.lake.Drift.betweenVersions(
          s, tableDir, vOld = 1, vNew = 3, "length(content)", bins = 16, width = 64)
        val stat = out.select("drift_stat").head().getDouble(0)
        require(stat > 0.0, "gate is vacuous without measurable drift")
        putMetric("q155", "drift_stat", stat)
        out.orderBy("bin")
      },
      Some {
        val dec = s"${workDir("q155")}/decoded/*.parquet"
        def fold(maxEpoch: Int) =
          s"""SELECT length(content) AS v FROM (
                SELECT content, op, row_number()
                  OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
                FROM parquet_scan('$dec') WHERE epoch <= $maxEpoch) t
              WHERE rn = 1 AND op <> 'DELETE' AND content IS NOT NULL"""
        val terms = (0 until 16)
          .map(b => s"max(CASE WHEN bin = $b THEN term END)").mkString(" + ")
        s"""WITH f1 AS (${fold(0)}), f2 AS (${fold(2)}),
          spine AS (SELECT CAST(range AS INT) AS bin FROM range(16)),
          h1 AS (SELECT least(15, greatest(0, CAST((v // 64) AS INT))) AS bin,
                 count(*) AS c FROM f1 GROUP BY 1),
          h2 AS (SELECT least(15, greatest(0, CAST((v // 64) AS INT))) AS bin,
                 count(*) AS c FROM f2 GROUP BY 1),
          j AS (SELECT s.bin, CAST(coalesce(h1.c, 0) AS BIGINT) AS c_old,
                       CAST(coalesce(h2.c, 0) AS BIGINT) AS c_new
                FROM spine s LEFT JOIN h1 ON h1.bin = s.bin
                             LEFT JOIN h2 ON h2.bin = s.bin),
          n AS (SELECT (SELECT count(*) FROM f1) AS n1,
                       (SELECT count(*) FROM f2) AS n2),
          t AS (SELECT j.bin, j.c_old, j.c_new,
                CASE WHEN j.c_old + j.c_new > 0 THEN
                  ((CAST(j.c_old AS DOUBLE) / CAST(n.n1 AS DOUBLE))
                    - (CAST(j.c_new AS DOUBLE) / CAST(n.n2 AS DOUBLE)))
                  * ((CAST(j.c_old AS DOUBLE) / CAST(n.n1 AS DOUBLE))
                    - (CAST(j.c_new AS DOUBLE) / CAST(n.n2 AS DOUBLE)))
                  / ((CAST(j.c_old AS DOUBLE) + CAST(j.c_new AS DOUBLE))
                    / (CAST(n.n1 AS DOUBLE) + CAST(n.n2 AS DOUBLE)))
                ELSE 0.0 END AS term FROM j, n),
          stat AS (SELECT $terms AS drift_stat FROM t)
          SELECT t.bin, t.c_old, t.c_new, stat.drift_stat
          FROM t, stat ORDER BY bin"""
      }),

    // INCREMENTAL EXPORT CHAIN under the hard gate — publishing a 100 TB
    // table to raw readers nightly cannot re-link (let alone re-copy) the
    // whole table, so an export CHAIN ships each data file ONCE: step vN
    // hard-links only the files new since the previous step and its
    // manifest points unchanged files back at the step that first shipped
    // them. The fixture drives the steady state end to end: replay wave 1
    // → compact → step A (a full ship), then a TAIL wave with strictly
    // higher seqs over a hot key slice (1 repo × ≤12 (path,lang) keys of
    // the 16-bucket layout) → compact ONLY the delta-bearing buckets →
    // step B, which must genuinely reuse the untouched buckets' files
    // (shipped < total — the O(changed buckets) property the chain exists
    // for). Then expire + vacuum(0) drop every superseded source path and
    // BOTH steps must still serve — hard links are a physical pin, so an
    // external reader's pinned cut survives table maintenance. Oracle =
    // the LWW fold of both waves' decoded dump; a stale reused file, a
    // mis-pointed manifest loc, or a lost tail update all hash-diverge.
    OpQuery("q168_export_chain",
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q168")
        val root = workDir("q168")
        val logA = s"$root/log-a"
        val logB = s"$root/log-b"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val pA = LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7)
        // the tail: higher seqs (idOffset) win the LWW fold; tiny keyspace
        // so most buckets stay untouched between the two steps
        val pB = LogGen.Params(nEvents = 600, nRepos = 1, pathsPerRepo = 2,
          v1Fraction = 0.0, idOffset = 3000)
        clock("gen") {
          LogGen.writeLog(s, pA, logA, epochs = 2)
          LogGen.writeLog(s, pB, logB, epochs = 1)
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          Seq(logA, logB).foreach { ld =>
            val ev = s.read.parquet(ld)
              .transform(Epoch.events)
            Replay.decodeForMerge(ev, registry, None).updates
              .write.mode("append").parquet(s"$root/decoded")
          }
        }
        clock("replay_wave1") { Replay.replayLog(s, logA, tableDir, buckets = 16) }
        clock("compact1") { graft.lake.Compaction.compact(s, tableDir, "maint-1") }
        val step1 = clock("export1") {
          graft.lake.Export.exportIncremental(tableDir, "nightly")
        }
        require(step1.created && step1.filesReused == 0 &&
            step1.filesShipped == step1.filesTotal,
          s"first step is a full ship (${step1.filesShipped}/${step1.filesTotal})")
        clock("replay_wave2") {
          Replay.replayLog(s, logB, tableDir, buckets = 16, namespace = "tail")
        }
        // steady-state maintenance: rewrite ONLY the delta-bearing buckets
        val touched = IceLite.load(tableDir).files
          .filter(_.delta).map(_.bucket).toSet
        require(touched.nonEmpty && touched.size < 16,
          s"tail wave must touch a strict bucket subset (${touched.size}/16)")
        clock("compact2") {
          graft.lake.Compaction.compact(s, tableDir, "maint-2",
            buckets = Some(touched))
        }
        val step2 = clock("export2") {
          graft.lake.Export.exportIncremental(tableDir, "nightly")
        }
        require(step2.created && step2.filesReused > 0 &&
            step2.filesShipped < step2.filesTotal,
          s"steady-state step ships only the delta " +
            s"(${step2.filesShipped} shipped, ${step2.filesReused} reused)")
        require(!graft.lake.Export.exportIncremental(tableDir, "nightly").created,
          "same-version re-publish is idempotent")
        putMetric("q168", "step2_shipped", step2.filesShipped.toDouble)
        putMetric("q168", "step2_reused", step2.filesReused.toDouble)
        // physical-pin property: drop time travel and vacuum every
        // superseded source path — the chain's hard links must keep BOTH
        // steps readable (an external consumer's pinned cut survives
        // table maintenance)
        clock("vacuum") {
          graft.lake.Compaction.expire(tableDir, keepLast = 1)
          graft.lake.Compaction.vacuum(tableDir, olderThanMs = 0L)
        }
        val step1Files = graft.lake.Export.incrementalFiles(
          tableDir, "nightly", Some(step1.sourceVersion))
        val step1Rows = s.read.parquet(step1Files: _*)
          .where(expr(step1.rowFilter)).count()
        require(step1Rows == step1.rows,
          s"pre-tail step serves its exact snapshot after vacuum " +
            s"($step1Rows vs ${step1.rows})")
        // ENGINE-NEUTRAL read-back of the latest step: raw parquet over the
        // manifest's resolved file list + portable row filter, no IceLite
        val latest = graft.lake.Export.incrementalFiles(tableDir, "nightly")
        s.read.parquet(latest: _*).where(expr(step2.rowFilter))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q168")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    // PURGE THROUGH EXPORTS under the hard gate — the compliance closure of
    // the export story. Exports pin bytes BY DESIGN (hard links survive the
    // table's atomic-rename rewrites), so a right-to-be-forgotten erasure
    // that stops at Purge.purgeKey leaves every published export still
    // serving the key — the gate PINS that hole (post-table-purge, the
    // chain and the full export still read the victim) before
    // Purge.purgeExports closes it: every export path that can hold the
    // key (host-side bucket pruning from the manifest's recorded layout +
    // the bucket carried in each published file name — O(chains), never
    // O(exported bytes)) is rewritten in place. Afterward NO surface —
    // head scan, time travel, full export raw, either chain step raw —
    // serves the key. The victim is chosen at runtime (hottest live key on
    // both surfaces) and dumped to parquet so the oracle excludes exactly
    // the purged key from its two-wave LWW fold: an unpurged export file,
    // an over-purged neighbor row, or a stale manifest loc all
    // hash-diverge.
    OpQuery("q169_purge_exports",
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q169")
        val root = workDir("q169")
        val logA = s"$root/log-a"
        val logB = s"$root/log-b"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val pA = LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7)
        val pB = LogGen.Params(nEvents = 600, nRepos = 1, pathsPerRepo = 2,
          v1Fraction = 0.0, idOffset = 3000)
        clock("gen") {
          LogGen.writeLog(s, pA, logA, epochs = 2)
          LogGen.writeLog(s, pB, logB, epochs = 1)
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          Seq(logA, logB).foreach { ld =>
            val ev = s.read.parquet(ld)
              .transform(Epoch.events)
            Replay.decodeForMerge(ev, registry, None).updates
              .write.mode("append").parquet(s"$root/decoded")
          }
        }
        clock("replay_wave1") { Replay.replayLog(s, logA, tableDir, buckets = 16) }
        clock("compact1") { graft.lake.Compaction.compact(s, tableDir, "maint-1") }
        val (full, step1) = clock("publish1") {
          (graft.lake.Export.exportSnapshot(tableDir, "cut"),
            graft.lake.Export.exportIncremental(tableDir, "nightly"))
        }
        clock("replay_wave2") {
          Replay.replayLog(s, logB, tableDir, buckets = 16, namespace = "tail")
        }
        val touched = IceLite.load(tableDir).files
          .filter(_.delta).map(_.bucket).toSet
        clock("compact2") {
          graft.lake.Compaction.compact(s, tableDir, "maint-2",
            buckets = Some(touched))
        }
        val step2 = clock("publish2") {
          graft.lake.Export.exportIncremental(tableDir, "nightly")
        }
        // victim: first live key present on BOTH the head and the pre-tail
        // published cut — dumped so the oracle excludes exactly this key
        val victim = IceLite.read(s, IceLite.load(tableDir))
          .select("repo", "path")
          .intersect(s.read.parquet(s"${full.dir}/data")
            .where(expr(full.rowFilter)).select("repo", "path"))
          .orderBy("repo", "path").as[(String, String)].head()
        Seq(victim).toDF("repo", "path").coalesce(1)
          .write.mode("overwrite").parquet(s"$root/purged_key")
        val key = Map[String, Any]("repo" -> victim._1, "path" -> victim._2)
        def victimRaw(files: Seq[String]): Long =
          s.read.parquet(files: _*)
            .where(col("repo") === victim._1 && col("path") === victim._2)
            .count()
        val chainA = graft.lake.Export.incrementalFiles(
          tableDir, "nightly", Some(step1.sourceVersion))
        val chainB = graft.lake.Export.incrementalFiles(
          tableDir, "nightly", Some(step2.sourceVersion))
        val st = clock("purge_table") {
          graft.lake.Purge.purgeKey(s, tableDir, key)
        }
        require(st.rowsPurged > 0 && st.filesCandidates < st.filesTotal,
          s"table purge must erase a pruned candidate set: $st")
        // THE HOLE, pinned: the table is clean but every export's hard
        // link still serves the victim's bytes
        require(victimRaw(Seq(s"${full.dir}/data")) > 0 &&
            victimRaw(chainA) > 0 && victimRaw(chainB) > 0,
          "exports must still pin the key after table purge — the hole this operator closes")
        val est = clock("purge_exports") {
          graft.lake.Purge.purgeExports(s, tableDir, key)
        }
        require(est.exports == 2 && est.rowsPurged > 0 &&
            est.filesCandidates < est.filesTotal,
          s"export purge must erase a bucket-pruned candidate set: $est")
        // gone from EVERY surface
        require(IceLite.read(s, IceLite.load(tableDir))
            .where(col("repo") === victim._1 && col("path") === victim._2)
            .count() == 0, "head scan must miss")
        require(IceLite.read(s, IceLite.loadVersion(tableDir, step1.sourceVersion))
            .where(col("repo") === victim._1 && col("path") === victim._2)
            .count() == 0, "time travel must miss")
        require(victimRaw(Seq(s"${full.dir}/data")) == 0 &&
            victimRaw(chainA) == 0 && victimRaw(chainB) == 0,
          "every export surface must miss after purgeExports")
        putMetric("q169", "table_candidates", st.filesCandidates.toDouble)
        putMetric("q169", "export_files", est.filesTotal.toDouble)
        putMetric("q169", "export_candidates", est.filesCandidates.toDouble)
        putMetric("q169", "export_rewritten", est.filesRewritten.toDouble)
        s.read.parquet(chainB: _*).where(expr(step2.rowFilter))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q169")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE'
          AND NOT EXISTS (SELECT 1
              FROM parquet_scan('${workDir("q169")}/purged_key/*.parquet') k
              WHERE k.repo = t.repo AND k.path = t.path)
        ORDER BY repo, path""")),

    // CHAIN RETENTION GC under the hard gate — a nightly chain grows
    // O(days × changed buckets) forever without retention, but dropping a
    // step naively would tear files newer steps still reference (reuse is
    // the chain's whole design). Export.expireSteps frees EXACTLY the
    // files no retained manifest points to: the dropped step's manifest
    // unlinks first (the step atomically stops being readable), its
    // still-referenced files stay as a headless data dir that newer steps'
    // locs keep resolving into. Three tail waves build three steps; GC
    // keeps 2; hard asserts pin freed ≥ 1 AND retained ≥ 1 (both halves of
    // "exactly"), the dropped step's read refusal, the middle step still
    // serving its exact snapshot THROUGH the headless dir, and the chain
    // continuing to grow with reuse after the GC. Oracle = the three-wave
    // LWW fold against the latest step's raw read — a GC that freed a
    // referenced byte or a manifest that mis-pointed after the drop
    // hash-diverges.
    OpQuery("q170_chain_retention",
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q170")
        val root = workDir("q170")
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val waves = Seq(
          LogGen.Params(nEvents = 3000, nRepos = 40, pathsPerRepo = 30,
            v1Fraction = 0.7),
          LogGen.Params(nEvents = 600, nRepos = 1, pathsPerRepo = 2,
            v1Fraction = 0.0, idOffset = 3000),
          LogGen.Params(nEvents = 400, nRepos = 1, pathsPerRepo = 2,
            v1Fraction = 0.0, idOffset = 3600))
        clock("gen") {
          waves.zipWithIndex.foreach { case (p, i) =>
            LogGen.writeLog(s, p, s"$root/log-$i", epochs = if (i == 0) 2 else 1)
          }
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          (0 until 3).foreach { i =>
            val ev = s.read.parquet(s"$root/log-$i")
              .transform(Epoch.events)
            Replay.decodeForMerge(ev, registry, None).updates
              .write.mode("append").parquet(s"$root/decoded")
          }
        }
        val steps = (0 until 3).map { i =>
          clock(s"replay$i") {
            Replay.replayLog(s, s"$root/log-$i", tableDir, buckets = 16,
              namespace = s"wave$i")
          }
          clock(s"compact$i") {
            if (i == 0) graft.lake.Compaction.compact(s, tableDir, s"maint-$i")
            else {
              val touched = IceLite.load(tableDir).files
                .filter(_.delta).map(_.bucket).toSet
              graft.lake.Compaction.compact(s, tableDir, s"maint-$i",
                buckets = Some(touched))
            }
          }
          clock(s"publish$i") {
            graft.lake.Export.exportIncremental(tableDir, "nightly")
          }
        }
        require(steps(0).filesReused == 0 &&
            steps(1).filesReused > 0 && steps(2).filesReused > 0,
          "tail steps must reuse (full ship only on step 0)")
        val gc = clock("gc") {
          graft.lake.Export.expireSteps(tableDir, "nightly", keepLast = 2)
        }
        require(gc.stepsDropped == 1 && gc.filesFreed >= 1 && gc.filesRetained >= 1,
          s"GC must free superseded files AND keep referenced ones: $gc")
        val refused =
          try { graft.lake.Export.readIncremental(tableDir, "nightly",
            Some(steps(0).sourceVersion)); false }
          catch { case _: IllegalArgumentException => true }
        require(refused, "the dropped step must refuse reads")
        // the middle step reads THROUGH the dropped step's headless dir
        val midFiles = graft.lake.Export.incrementalFiles(
          tableDir, "nightly", Some(steps(1).sourceVersion))
        require(s.read.parquet(midFiles: _*)
            .where(expr(steps(1).rowFilter)).count() == steps(1).rows,
          "retained middle step must serve its exact snapshot after GC")
        require(graft.lake.Export.expireSteps(tableDir, "nightly", keepLast = 2)
            .stepsDropped == 0, "GC is idempotent")
        putMetric("q170", "files_freed", gc.filesFreed.toDouble)
        putMetric("q170", "files_retained", gc.filesRetained.toDouble)
        val latest = graft.lake.Export.incrementalFiles(tableDir, "nightly")
        s.read.parquet(latest: _*).where(expr(steps(2).rowFilter))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q170")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    // EXPORT DATA-SKIPPING under the hard gate — the consumer-side half of
    // Iceberg's lower/upper-bounds pruning, published INTO the chain
    // manifest so a raw reader prunes files with zero engine and zero file
    // opens. A clustering compaction makes each bucket's files
    // repo-contiguous with measured bounds; the chain step inherits them;
    // Export.prunedIncrementalFiles keeps only files whose bounds can
    // overlap the predicate (host-side, manifest-only). Hard asserts: the
    // pruned list is a fraction of the full set (≤ 1/2 — at 100 TB the
    // difference between opening a table and opening a slice), and the
    // pruned read equals the full-list read exactly (soundness — absent
    // bounds always keep). Oracle = the LWW fold restricted to the same
    // repo range: a pruned-away file that actually held an in-range row
    // hash-diverges.
    OpQuery("q171_export_skipping",
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q171")
        val root = workDir("q171")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 2)
        }
        clock("decode_dump") { dumpDecodedByEpoch(s, logDir, root, epochs = 2) }
        clock("replay") { Replay.replayLog(s, logDir, tableDir, buckets = 16) }
        clock("compact_cluster") {
          graft.lake.Compaction.compact(s, tableDir, "maint-1",
            clusterBy = Some("repo"), filesPerBucket = 8)
        }
        val step = clock("publish") {
          graft.lake.Export.exportIncremental(tableDir, "skipchain")
        }
        val lo = LogGen.repoName(6)
        val hi = LogGen.repoName(9)
        val full = graft.lake.Export.incrementalFiles(tableDir, "skipchain")
        val pruned = clock("prune") {
          graft.lake.Export.prunedIncrementalFiles(tableDir, "skipchain",
            Seq(("repo", lo, hi)))
        }
        require(pruned.nonEmpty && pruned.size * 3 <= full.size,
          s"manifest bounds must rule out most files (${pruned.size}/${full.size})")
        val read = (files: Seq[String]) => s.read.parquet(files: _*)
          .where(expr(step.rowFilter))
          .where(col("repo").between(lo, hi))
        require(read(pruned).count() == read(full).count(),
          "pruning must be lossless against the full file list")
        putMetric("q171", "files_total", full.size.toDouble)
        putMetric("q171", "files_pruned_to", pruned.size.toDouble)
        read(pruned)
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q171")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE'
          AND repo BETWEEN '${LogGen.repoName(6)}' AND '${LogGen.repoName(9)}'
        ORDER BY repo, path""")),

    // BATCH KEY PURGE under the hard gate — erasure requests arrive in
    // batches, and the dominant cost is file rewrites, so the batch shape
    // is the operator: candidates are the UNION of each key's pruned file
    // set (per-version bucket derivation + per-file bloom) and every
    // candidate is rewritten ONCE dropping ALL the batch's keys it holds —
    // K keys cost O(distinct candidate files), never K × per-key rewrites
    // (PurgeSpec pins the exact once-per-file count; this gate pins the
    // end state at pipeline scale). Six victims are chosen at runtime from
    // the live head and dumped so the oracle excludes exactly them from
    // the LWW fold; the engine's own head read is the output surface — an
    // over-purged neighbor, a survivor victim row in ANY retained
    // version's file, or a bloom false-negative all hash-diverge.
    OpQuery("q172_batch_purge",
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q172")
        val root = workDir("q172")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") { dumpDecodedByEpoch(s, logDir, root, epochs = 3) }
        clock("replay") { Replay.replayLog(s, logDir, tableDir, buckets = 16) }
        // victims: six live head keys spread across the alphabet — dumped
        // for the oracle's exclusion
        val victims = IceLite.read(s, IceLite.load(tableDir))
          .select("repo", "path").orderBy("repo", "path")
          .as[(String, String)].collect()
          .zipWithIndex.filter(_._2 % 97 == 0).map(_._1).take(6).toSeq
        require(victims.size == 6, "fixture must yield six victims")
        victims.toDF("repo", "path").coalesce(1)
          .write.mode("overwrite").parquet(s"$root/purged_keys")
        val st = clock("purge_batch") {
          graft.lake.Purge.purgeKeys(s, tableDir,
            victims.map { case (r, p) => Map[String, Any]("repo" -> r, "path" -> p) })
        }
        require(st.rowsPurged >= 6 && st.filesRewritten > 0,
          s"every victim had at least one physical row: $st")
        require(st.filesCandidates < st.filesTotal,
          s"per-key bucket+bloom pruning must rule out most files: $st")
        require(st.filesRewritten <= st.filesCandidates, s"rewrite ≤ candidates: $st")
        putMetric("q172", "files_total", st.filesTotal.toDouble)
        putMetric("q172", "files_candidates", st.filesCandidates.toDouble)
        putMetric("q172", "files_rewritten", st.filesRewritten.toDouble)
        putMetric("q172", "rows_purged", st.rowsPurged.toDouble)
        // no surface serves any victim: head, every retained version, feed
        val victimDf = victims.toDF("repo", "path")
        IceLite.history(tableDir).foreach { v =>
          val hits = IceLite.read(s, IceLite.loadVersion(tableDir, v))
            .join(victimDf, Seq("repo", "path"), "left_semi").count()
          require(hits == 0, s"version $v still serves a purged key")
        }
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q172")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE'
          AND NOT EXISTS (SELECT 1
              FROM parquet_scan('${workDir("q172")}/purged_keys/*.parquet') k
              WHERE k.repo = t.repo AND k.path = t.path)
        ORDER BY repo, path""")),

    // STREAMING CHAIN PUBLICATION under the hard gate — the export chain
    // TRACKING the Tail ingest: Export.publishStep rides Tail's
    // onBatchCommitted hook, so every applied micro-batch compacts exactly
    // the buckets that block a publish (its own delta buckets, plus the
    // one-time stale-schema rewrite right after the mid-stream v1→v2
    // evolution) and publishes the next chain step. Two arrival waves, the
    // second resuming from the first's checkpoint; steps must be one per
    // applied batch, the first a full ship and every later one genuinely
    // incremental (reuse > 0). Oracle = the full-log LWW fold against the
    // LATEST STEP's raw read — not the table: a stream whose published
    // surface lags, drops a step, or mis-links a reused file hash-diverges
    // even if the table itself is right.
    OpQuery("q173_streaming_chain",
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q173")
        val root = workDir("q173")
        val streamDir = s"$root/stream"
        val tableDir = s"$root/table"
        val ckpt = s"$root/ckpt"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        // wave 1 over the full keyspace, then two HOT-SLICE tail waves
        // (higher seqs, narrow keyspace — the steady-state shape where the
        // chain's O(changed buckets) publication pays off)
        val waves = Seq(
          LogGen.Params(nEvents = 3000, nRepos = 40, pathsPerRepo = 30,
            v1Fraction = 0.7),
          LogGen.Params(nEvents = 600, nRepos = 1, pathsPerRepo = 2,
            v1Fraction = 0.0, idOffset = 3000),
          LogGen.Params(nEvents = 400, nRepos = 1, pathsPerRepo = 2,
            v1Fraction = 0.0, idOffset = 3600))
        val evs = clock("gen") { waves.map(LogGen.events(s, _).localCheckpoint()) }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          evs.foreach { ev =>
            Replay.decodeForMerge(
              Epoch.events(ev), registry, None)
              .updates.write.mode("append").parquet(s"$root/decoded")
          }
        }
        val publisher = (ss: SparkSession, batchId: Long) => {
          graft.lake.Export.publishStep(ss, tableDir, "stream", s"pub-$batchId")
          ()
        }
        // each wave lands as ≤8 files → one micro-batch; waves 2 and 3
        // resume the same checkpoint (two restarts)
        evs.zipWithIndex.foreach { case (ev, i) =>
          clock(s"wave$i") {
            ev.repartition(8).write.mode("append").parquet(streamDir)
            graft.cdc.Tail.start(s, streamDir, tableDir, ckpt, buckets = 16,
              maxFilesPerTrigger = 8,
              onBatchCommitted = Some(publisher)).awaitTermination()
          }
        }
        val chainRoot = s"$tableDir/export/stream"
        val stepDirs = new java.io.File(chainRoot).listFiles()
          .filter(f => f.isDirectory && f.getName.matches("v\\d+")
            && new java.io.File(f, "manifest.json").exists())
          .map(_.getName.drop(1).toInt).sorted.toSeq
        require(stepDirs.size == 3, s"one step per applied batch: $stepDirs")
        val steps = stepDirs.map(v =>
          graft.lake.Export.readIncremental(tableDir, "stream", Some(v)))
        require(steps.head.filesReused == 0, "first step is the full ship")
        require(steps.tail.forall(st => st.filesReused > 0 &&
            st.filesShipped < st.filesTotal),
          s"every tail step is genuinely incremental: " +
            steps.map(st => (st.filesShipped, st.filesReused)).mkString(","))
        putMetric("q173", "steps", steps.size.toDouble)
        putMetric("q173", "last_step_shipped", steps.last.filesShipped.toDouble)
        putMetric("q173", "last_step_reused", steps.last.filesReused.toDouble)
        // the PUBLISHED surface (not the table) is what the oracle certifies
        val latest = graft.lake.Export.incrementalFiles(tableDir, "stream")
        s.read.parquet(latest: _*).where(expr(steps.last.rowFilter))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q173")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    // SANITIZED EXPORT CHAIN under the hard gate — the privacy-boundary
    // publication: a consumer team may join and aggregate by author but
    // must never see WHO the author is, so the chain's files are REWRITTEN
    // through a deterministic pseudonymization (author →
    // substr(sha256('pepper:'||author),1,12)) instead of hard-linked — a
    // link would hand out the raw bytes. Incremental contract preserved:
    // the tail wave's step rewrites ONLY the touched buckets' files and
    // reuses the previous step's TRANSFORMED files (transformId-checked,
    // so reuse can never serve a stale sanitization). Hard asserts: no
    // published author matches the raw dev\\d+ shape (the leak check, both
    // steps), NULL authors (v1-origin rows) stay NULL, and the tail step
    // genuinely reused. Oracle = the two-wave LWW fold with the SAME
    // pseudonym expression recomputed in SQL — a missed file, a stale
    // reused transform, or a pseudonym drift all hash-diverge.
    OpQuery("q176_sanitized_chain",
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q176")
        val root = workDir("q176")
        val logA = s"$root/log-a"
        val logB = s"$root/log-b"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val pA = LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7)
        val pB = LogGen.Params(nEvents = 600, nRepos = 1, pathsPerRepo = 2,
          v1Fraction = 0.0, idOffset = 3000)
        clock("gen") {
          LogGen.writeLog(s, pA, logA, epochs = 2)
          LogGen.writeLog(s, pB, logB, epochs = 1)
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          Seq(logA, logB).foreach { ld =>
            val ev = s.read.parquet(ld)
              .transform(Epoch.events)
            Replay.decodeForMerge(ev, registry, None).updates
              .write.mode("append").parquet(s"$root/decoded")
          }
        }
        val pseudo = Map("author" -> substring(
          sha2(concat(lit("pepper:"), col("author")), 256), 1, 12))
        clock("replay_wave1") { Replay.replayLog(s, logA, tableDir, buckets = 16) }
        clock("compact1") { graft.lake.Compaction.compact(s, tableDir, "maint-1") }
        val step1 = clock("publish1") {
          graft.lake.Export.exportTransformedIncremental(
            s, tableDir, "sanitized", "pseudo-v1", pseudo)
        }
        require(step1.created && step1.filesReused == 0, "first step full ship")
        clock("replay_wave2") {
          Replay.replayLog(s, logB, tableDir, buckets = 16, namespace = "tail")
        }
        val touched = IceLite.load(tableDir).files
          .filter(_.delta).map(_.bucket).toSet
        clock("compact2") {
          graft.lake.Compaction.compact(s, tableDir, "maint-2",
            buckets = Some(touched))
        }
        val step2 = clock("publish2") {
          graft.lake.Export.exportTransformedIncremental(
            s, tableDir, "sanitized", "pseudo-v1", pseudo)
        }
        require(step2.created && step2.filesReused > 0 &&
            step2.filesShipped < step2.filesTotal,
          s"tail step transforms only the touched buckets " +
            s"(${step2.filesShipped}/${step2.filesTotal})")
        putMetric("q176", "step2_shipped", step2.filesShipped.toDouble)
        putMetric("q176", "step2_reused", step2.filesReused.toDouble)
        // the LEAK CHECK: no published author on EITHER step has the raw
        // shape; NULLs (v1-origin rows) stay NULL
        Seq(step1, step2).foreach { st =>
          val files = graft.lake.Export.incrementalFiles(
            tableDir, "sanitized", Some(st.sourceVersion))
          val pub = s.read.parquet(files: _*)
          require(pub.where(col("author").rlike("^dev[0-9]+$")).count() == 0,
            s"raw author leaked into step v${st.sourceVersion}")
          require(pub.where(col("author").isNotNull &&
              length(col("author")) =!= 12).count() == 0,
            "every non-null published author is a 12-hex pseudonym")
        }
        val latest = graft.lake.Export.incrementalFiles(tableDir, "sanitized")
        s.read.parquet(latest: _*).where(expr(step2.rowFilter))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha,
          substr(sha256('pepper:' || author), 1, 12) AS author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q176")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    // INGEST EXPECTATIONS (q184): declarative row-level CHECK rules routed
    // like the reference's taxonomy — decodable-but-contract-violating
    // events dead-letter with route='expectation', per-rule attribution,
    // and the ORIGINAL payload (the retryable contract, like q49/q80).
    // Two rules: lang must be allowlisted (md files violate) and content
    // must be ≤ 800 chars (long generated docs violate) — both with
    // natural violations in the seeded corpus. The final state must equal
    // the LWW fold over CONFORMING events only: a key whose newest version
    // violates must fall back to its last conforming version — the
    // property a post-hoc filter on the table cannot express. The fn
    // hard-asserts the dead-letter count ≡ an independent recount, every
    // dead letter's payload/attribution, and that a re-run fences (no
    // duplicate dead letters, no re-merge).
    OpQuery("q184_ingest_expectations",
      (s, _) => {
        import s.implicits._
        val root = workDir("q184")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 2)
        val log = s.read.parquet(logDir)
        val registry = s.sparkContext.broadcast(Cdc.registry)
        val ev = log
          .transform(Epoch.events)
        graft.decode.Decode.success(graft.decode.Decode.decode(
          ev, registry, graft.registry.SchemaKey(Cdc.SchemaId, -1), Cdc.MessageType))
          .write.mode("overwrite").parquet(s"$root/decoded")
        val rules = Seq(
          graft.cdc.Expectations.Rule("lang_allowed", "lang IN ('scala','java','py','rs','go')"),
          graft.cdc.Expectations.Rule("content_max_len", "length(content) <= 800"))
        val st = graft.cdc.Expectations.replayWithExpectations(s, logDir, tableDir, rules, buckets = 8)
        // independent recount from the clean dump with the same predicate
        val dump = s.read.parquet(s"$root/decoded")
        val expViol = dump.filter(col("op") === "UPSERT" &&
          !(col("lang").isin("scala", "java", "py", "rs", "go") &&
            length(col("content")) <= 800)).count()
        require(expViol > 0, "fixture must contain natural violations")
        require(st.violations == expViol,
          s"expected $expViol expectation dead letters, got ${st.violations}")
        val dl = s.read.parquet(s"$tableDir/_deadletter")
          .filter(col("route") === graft.cdc.Expectations.Route)
        require(dl.count() == expViol, "dead-letter store count mismatch")
        require(dl.filter(length(col("payload")) > 1).count() == expViol,
          "expectation dead letters must keep the ORIGINAL payload")
        require(dl.filter(col("error") === "").count() == 0,
          "every expectation dead letter names its failed rule(s)")
        // re-run: epochs fence, dead letters must not duplicate
        val st2 = graft.cdc.Expectations.replayWithExpectations(s, logDir, tableDir, rules, buckets = 8)
        require(st2.violations == 0, "replay must fence expectation flushes")
        require(s.read.parquet(s"$tableDir/_deadletter")
          .filter(col("route") === graft.cdc.Expectations.Route).count() == expViol,
          "re-run duplicated dead letters")
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q184")}/decoded/*.parquet')
              WHERE NOT (op = 'UPSERT' AND NOT (lang IN ('scala','java','py','rs','go')
                                                AND length(content) <= 800))) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    // EXPECTATION RETRY AFTER RULE RELAXATION (q185): q184's dead letters
    // are not a dead end — the store keeps each violating event's ORIGINAL
    // payload, so when the contract is re-cut (here: 'md' joins the lang
    // allowlist) the kept originals re-evaluate under the NEW rules:
    // now-conforming events merge at their TRUE sequence (a retried newer
    // version beats the conforming fallback that held the key meanwhile —
    // the LWW late-retry property q184's post-hoc-filter strawman cannot
    // express), still-violating events stay with attribution REFRESHED to
    // the rules they fail NOW. The fn hard-asserts retry counts against
    // independent recounts from the clean dump, the remaining store
    // content, and that a re-retry under the same rules merges nothing.
    // Final state ≡ the fold over events conforming to the RELAXED rules.
    OpQuery("q185_expectation_retry",
      (s, _) => {
        import s.implicits._
        val root = workDir("q185")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
          pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 2)
        val log = s.read.parquet(logDir)
        val registry = s.sparkContext.broadcast(Cdc.registry)
        val ev = log
          .transform(Epoch.events)
        graft.decode.Decode.success(graft.decode.Decode.decode(
          ev, registry, graft.registry.SchemaKey(Cdc.SchemaId, -1), Cdc.MessageType))
          .write.mode("overwrite").parquet(s"$root/decoded")
        val strict = Seq(
          graft.cdc.Expectations.Rule("lang_allowed", "lang IN ('scala','java','py','rs','go')"),
          graft.cdc.Expectations.Rule("content_max_len", "length(content) <= 800"))
        val relaxed = Seq(
          graft.cdc.Expectations.Rule("lang_allowed", "lang IN ('scala','java','py','rs','go','md')"),
          graft.cdc.Expectations.Rule("content_max_len", "length(content) <= 800"))
        val st = graft.cdc.Expectations.replayWithExpectations(s, logDir, tableDir, strict, buckets = 8)
        // independent recounts from the clean dump
        val dump = s.read.parquet(s"$root/decoded")
        val strictViol = dump.filter(col("op") === "UPSERT" &&
          !(col("lang").isin("scala", "java", "py", "rs", "go") &&
            length(col("content")) <= 800)).count()
        val relaxedViol = dump.filter(col("op") === "UPSERT" &&
          !length(col("content")).leq(800)).count()
        require(st.violations == strictViol, "strict replay violation miscount")
        require(relaxedViol > 0 && strictViol > relaxedViol,
          "fixture must have both lang-only and length violations")
        val er = graft.cdc.Expectations.retryExpectations(s, tableDir, relaxed, "relax-1")
        require(er.attempted == strictViol && er.applied,
          s"retry must re-evaluate every expectation dead letter: $er")
        require(er.remaining == relaxedViol, s"still-violating miscount: $er")
        require(er.merged == strictViol - relaxedViol,
          s"now-conforming rows must merge at true seq: $er")
        val dl = s.read.parquet(s"$tableDir/_deadletter")
        require(dl.count() == relaxedViol &&
          dl.filter(col("route") === graft.cdc.Expectations.Route &&
            col("error") === "content_max_len").count() == relaxedViol,
          "store must hold ONLY still-violating rows, attribution refreshed")
        // a re-retry under the same rules merges nothing and keeps the store
        val er2 = graft.cdc.Expectations.retryExpectations(s, tableDir, relaxed, "relax-2")
        require(er2.attempted == relaxedViol && er2.merged == 0 &&
          er2.remaining == relaxedViol, s"re-retry must be a no-op: $er2")
        require(s.read.parquet(s"$tableDir/_deadletter").count() == relaxedViol,
          "re-retry changed the store")
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q185")}/decoded/*.parquet')
              WHERE NOT (op = 'UPSERT' AND NOT (lang IN ('scala','java','py','rs','go','md')
                                                AND length(content) <= 800))) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    // STREAMING EXPECTATIONS (q186): the q184 ingest contract enforced on
    // the Structured-Streaming Tail path — per micro-batch, violating
    // UPSERTs dead-letter with route='expectation' (original payload,
    // per-rule attribution) and only conforming events reach the MERGE,
    // under the stream's exactly-once fencing. The corpus arrives in two
    // waves; the second Tail resumes from the first's checkpoint. The fn
    // hard-asserts the dead-letter count against an independent recount
    // from the clean dump, uniqueness across the resume (no event
    // dead-letters twice), and payload/attribution presence. Final state
    // ≡ the LWW fold over CONFORMING events only — batch (q184) and
    // stream enforce the identical contract, hash-checked against the
    // same oracle shape.
    OpQuery("q186_tail_expectations",
      (s, _) => {
        import s.implicits._
        val root = workDir("q186")
        val streamDir = s"$root/stream"
        val tableDir = s"$root/table"
        val ckpt = s"$root/ckpt"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val p = LogGen.Params(nEvents = 3000, nRepos = 40, pathsPerRepo = 30,
          v1Fraction = 0.7)
        val ev = LogGen.events(s, p)
        val registry = s.sparkContext.broadcast(Cdc.registry)
        graft.decode.Decode.success(graft.decode.Decode.decode(
          Epoch.events(ev),
          registry, graft.registry.SchemaKey(Cdc.SchemaId, -1), Cdc.MessageType))
          .write.mode("overwrite").parquet(s"$root/decoded")
        val rules = Seq(
          graft.cdc.Expectations.Rule("lang_allowed", "lang IN ('scala','java','py','rs','go')"),
          graft.cdc.Expectations.Rule("content_max_len", "length(content) <= 800"))
        // wave 1, then wave 2 resuming from the same checkpoint
        ev.filter(col("offset") < 1500).repartition(3)
          .write.mode("append").parquet(streamDir)
        graft.cdc.Tail.start(s, streamDir, tableDir, ckpt, buckets = 8,
          rules = rules).awaitTermination()
        ev.filter(col("offset") >= 1500).repartition(3)
          .write.mode("append").parquet(streamDir)
        graft.cdc.Tail.start(s, streamDir, tableDir, ckpt, buckets = 8,
          rules = rules).awaitTermination()
        val dump = s.read.parquet(s"$root/decoded")
        val expViol = dump.filter(col("op") === "UPSERT" &&
          !(col("lang").isin("scala", "java", "py", "rs", "go") &&
            length(col("content")) <= 800)).count()
        require(expViol > 0, "fixture must contain natural violations")
        val dl = s.read.parquet(s"$tableDir/_deadletter")
          .filter(col("route") === graft.cdc.Expectations.Route)
        require(dl.count() == expViol,
          s"expected $expViol streaming expectation dead letters, got ${dl.count()}")
        require(dl.select("partition", "offset").distinct().count() == expViol,
          "an event dead-lettered twice across the checkpoint resume")
        require(dl.filter(length(col("payload")) > 1 && col("error") =!= "").count() == expViol,
          "dead letters must keep the ORIGINAL payload and name their rules")
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q186")}/decoded/*.parquet')
              WHERE NOT (op = 'UPSERT' AND NOT (lang IN ('scala','java','py','rs','go')
                                                AND length(content) <= 800))) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    // EXPECTATION EPOCH GUARD (q187): the q165 poison-batch logic applied
    // to SEMANTIC badness. Epochs 0-1 are the organic corpus (violations
    // trickle → row-level dead letters); epoch 2 simulates a bad upstream
    // deploy — 90% of its events carry an unknown lang 'xx'. With
    // maxViolationFraction=0.5 the flooded epoch is refused WHOLE (no
    // merge, no dead-letter flood, a quarantine marker shared with the
    // Breaker), while healthy epochs apply normally. The operator verdict
    // is that 'xx' is a legitimate new language: releaseQuarantined
    // applies epoch 2 under corrected rules — 'xx' rows merge at true
    // seq, rows violating OTHER rules (length, 'md') dead-letter. Final
    // state ≡ the fold with strict rules below seq 3000 and corrected
    // rules above — the per-seq CASE the oracle folds exactly.
    OpQuery("q187_expectation_guard",
      (s, _) => {
        import s.implicits._
        val root = workDir("q187")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val p = LogGen.Params(nEvents = 3000, nRepos = 40, pathsPerRepo = 30,
          v1Fraction = 0.7)
        LogGen.writeLog(s, p, logDir, epochs = 2)
        // epoch 2: the bad deploy — 90% of events carry lang 'xx'
        val fs2 = Cdc.fsV2
        val d2 = fs2.findMessage(Cdc.MessageType).get
        val flood = (3000L until 4000L).map { id =>
          val c0 = LogGen.rawChange(id, p)
          val c = if (id % 10 != 0 && c0.op == "UPSERT") c0.copy(lang = "xx") else c0
          graft.decode.ChangeEvent(
            LogGen.encodeChange(c, d2, fs2, includeAuthor = true),
            Cdc.SchemaId, 2, Cdc.MessageType, 0, id)
        }
        flood.toDS().withColumn("epoch", lit(2L))
          .write.partitionBy("epoch").mode("append").parquet(logDir)
        val log = s.read.parquet(logDir)
        val registry = s.sparkContext.broadcast(Cdc.registry)
        val ev = log
          .transform(Epoch.events)
        graft.decode.Decode.success(graft.decode.Decode.decode(
          ev, registry, graft.registry.SchemaKey(Cdc.SchemaId, -1), Cdc.MessageType))
          .write.mode("overwrite").parquet(s"$root/decoded")
        val base = Seq("scala", "java", "py", "rs", "go")
        val strict = Seq(
          graft.cdc.Expectations.Rule("lang_allowed",
            s"lang IN (${base.map(l => s"'$l'").mkString(",")})"),
          graft.cdc.Expectations.Rule("content_max_len", "length(content) <= 800"))
        val corrected = Seq(
          graft.cdc.Expectations.Rule("lang_allowed",
            s"lang IN (${(base :+ "xx").map(l => s"'$l'").mkString(",")})"),
          graft.cdc.Expectations.Rule("content_max_len", "length(content) <= 800"))
        val st = graft.cdc.Expectations.replayWithExpectations(s, logDir, tableDir,
          strict, buckets = 8, maxViolationFraction = Some(0.5))
        // independent recounts from the clean dump (seq == offset == id)
        val dump = s.read.parquet(s"$root/decoded")
        def violOf(df: org.apache.spark.sql.DataFrame, langs: Seq[String]) =
          df.filter(col("op") === "UPSERT" &&
            !(col("lang").isin(langs: _*) && length(col("content")) <= 800)).count()
        val organicViol = violOf(dump.filter(col("seq") < 3000), base)
        val floodStrict = violOf(dump.filter(col("seq") >= 3000), base)
        val floodUpserts = dump.filter(col("seq") >= 3000 && col("op") === "UPSERT").count()
        require(floodStrict.toDouble > 0.5 * floodUpserts,
          "fixture: the flooded epoch must trip the 0.5 guard")
        require(st.violations == organicViol,
          s"only the organic trickle dead-letters: $st vs $organicViol")
        require(graft.cdc.Breaker.quarantined(tableDir) == Seq(2L),
          "the flooded epoch must be quarantined")
        require(s.read.parquet(s"$tableDir/_deadletter").count() == organicViol,
          "a refused epoch must not flood the dead-letter store")
        // operator verdict: 'xx' is legitimate — release under corrected rules
        val floodStill = violOf(dump.filter(col("seq") >= 3000), base :+ "xx")
        val rel = graft.cdc.Expectations.releaseQuarantined(
          s, logDir, tableDir, 2L, corrected)
        require(rel.violations == floodStill,
          s"release must dead-letter exactly the still-violating rows: $rel vs $floodStill")
        require(graft.cdc.Breaker.quarantined(tableDir).isEmpty, "marker must clear")
        require(s.read.parquet(s"$tableDir/_deadletter").count() == organicViol + floodStill,
          "post-release store must hold organic + still-violating rows")
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q187")}/decoded/*.parquet')
              WHERE NOT (op = 'UPSERT' AND NOT (
                (CASE WHEN seq < 3000 THEN lang IN ('scala','java','py','rs','go')
                      ELSE lang IN ('scala','java','py','rs','go','xx') END)
                AND length(content) <= 800))) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    OpQuery("q191_subject_access",
      // SUBJECT-ACCESS REQUEST (the GDPR Art. 15 read, complementing q85's
      // Art. 17 erasure) under the hard gate: one data subject — a key —
      // asks for EVERYTHING the lake holds about them: the row each
      // retained snapshot version serves, plus their slice of the change
      // feed. The pull must be PRUNED, never a table scan: the per-version
      // rows come from lookupLocal (host-side bucket derivation + footer
      // bounds; ZERO Spark jobs — at 10^6 files a subject-access ticket
      // costs a few file opens per version), and the feed slice is the
      // post-bootstrap change files with the key filter pushed to the
      // scan. The oracle re-derives both sides from the decoded dump: an
      // LWW fold of epochs ≤ v−1 per version for the same
      // deterministically-picked subject, plus the per-epoch folded feed
      // rows — a version read that leaks later epochs, a feed that skips
      // an epoch, or a lookup that misses a delta file all hash-diverge.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q191")
        val root = workDir("q191")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 30,
            pathsPerRepo = 20, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") { dumpDecodedByEpoch(s, logDir, root, epochs = 3) }
        clock("replay") { Replay.replayLog(s, logDir, tableDir, buckets = 8) }
        // the subject: the hottest live key (q85's victim rule, so the
        // oracle's vic CTE derives the same one)
        val (vRepo, vPath) = clock("pick_subject") {
          val dec = s.read.parquet(s"$root/decoded")
          val live = dec.withColumn("rn", row_number().over(
              org.apache.spark.sql.expressions.Window.partitionBy("repo", "path")
                .orderBy(col("seq").desc)))
            .filter(col("rn") === 1 && col("op") =!= "DELETE").select("repo", "path")
          dec.join(live, Seq("repo", "path")).groupBy("repo", "path").count()
            .orderBy(col("count").desc, col("repo"), col("path"))
            .select("repo", "path").as[(String, String)].head()
        }
        val key = Map[String, Any]("repo" -> vRepo, "path" -> vPath)
        def shaHex(v: String): String =
          java.security.MessageDigest.getInstance("SHA-256")
            .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
        // per-version rows: host-side point GETs — no Spark job at all
        val versions = IceLite.history(tableDir).filter(_ >= 1)
        val verRows = clock("version_lookups") {
          versions.flatMap { v =>
            IceLite.lookupLocal(IceLite.loadVersion(tableDir, v), key).map { m =>
              def str(c: String) = Option(m.getOrElse(c, null)).map(_.toString).orNull
              (s"v$v", None: Option[Long], None: Option[Boolean],
                str("commit"), str("lang"),
                Option(str("content")).map(shaHex).orNull, str("author"))
            }
          }
        }
        require(verRows.nonEmpty, "the hottest key must be served by some version")
        val verDf = verRows.toDF(
          "scope", "seq", "is_delete", "commit", "lang", "content_sha", "author")
        // feed slice: post-bootstrap change files, key filter pushed down
        val feedDf = clock("feed_slice") {
          IceLite.changes(s, tableDir, fromVersion = 1,
              toVersion = IceLite.history(tableDir).max)
            .filter(col("repo") === vRepo && col("path") === vPath)
            .select(lit("feed").as("scope"),
              col(IceLite.SeqCol.name).as("seq"),
              col(IceLite.DelCol.name).as("is_delete"),
              col("commit"), col("lang"),
              sha2(col("content"), 256).as("content_sha"), col("author"))
        }
        verDf.unionByName(feedDf).orderBy("scope", "seq")
      },
      Some(s"""WITH d AS (SELECT * FROM parquet_scan('${workDir("q191")}/decoded/*.parquet')),
        fold AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
                 FROM d) t WHERE rn = 1 AND op <> 'DELETE'),
        vic AS (SELECT d.repo, d.path FROM d JOIN fold f ON d.repo = f.repo AND d.path = f.path
                GROUP BY d.repo, d.path ORDER BY count(*) DESC, d.repo, d.path LIMIT 1),
        vers AS (SELECT unnest([1, 2, 3]) AS v),
        vrows AS (SELECT 'v' || CAST(v AS VARCHAR) AS scope,
            CAST(NULL AS BIGINT) AS seq, CAST(NULL AS BOOLEAN) AS is_delete,
            "commit", lang, sha256(content) AS content_sha, author
          FROM (SELECT v, dd."commit", dd.lang, dd.content, dd.author, dd.op,
              row_number() OVER (PARTITION BY v ORDER BY dd.seq DESC) AS rn
            FROM vers JOIN d dd ON dd.epoch <= v - 1
            JOIN vic ON dd.repo = vic.repo AND dd.path = vic.path) q
          WHERE rn = 1 AND op <> 'DELETE'),
        frows AS (SELECT 'feed' AS scope, seq, (op = 'DELETE') AS is_delete,
            "commit", lang, sha256(content) AS content_sha, author
          FROM (SELECT dd.*, row_number() OVER (PARTITION BY epoch ORDER BY dd.seq DESC) AS rn
            FROM d dd JOIN vic ON dd.repo = vic.repo AND dd.path = vic.path
            WHERE dd.epoch >= 1) t WHERE rn = 1)
        SELECT * FROM (SELECT * FROM vrows UNION ALL SELECT * FROM frows) u
        ORDER BY scope, seq""")),

    OpQuery("q193_legal_hold",
      // LEGAL HOLD vs ERASURE under the hard gate (preservation beats
      // destruction — GDPR Art. 17(3)(e)): two erasure tickets arrive for
      // the two hottest keys, but the hottest is under an active
      // litigation hold. Hard asserts: a direct purge of the held key
      // FAILS CLOSED; the batch ticket erases only the unheld key and
      // reports the refusal; the held key keeps serving from every read
      // path; after release the deferred erasure proceeds. The final head
      // equals the oracle's fold excluding BOTH victims — so a hold that
      // silently blocked the unheld erasure, or a release that lost the
      // deferred ticket, diverges.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q193")
        val root = workDir("q193")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 30,
            pathsPerRepo = 20, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") { dumpDecodedByEpoch(s, logDir, root, epochs = 3) }
        clock("replay") { Replay.replayLog(s, logDir, tableDir, buckets = 8) }
        // victims: the TWO hottest live keys (the oracle's vic LIMIT 2)
        val vics = clock("pick_victims") {
          val dec = s.read.parquet(s"$root/decoded")
          val live = dec.withColumn("rn", row_number().over(
              org.apache.spark.sql.expressions.Window.partitionBy("repo", "path")
                .orderBy(col("seq").desc)))
            .filter(col("rn") === 1 && col("op") =!= "DELETE").select("repo", "path")
          dec.join(live, Seq("repo", "path")).groupBy("repo", "path").count()
            .orderBy(col("count").desc, col("repo"), col("path"))
            .select("repo", "path").as[(String, String)].take(2).toSeq
        }
        val keyA = Map[String, Any]("repo" -> vics(0)._1, "path" -> vics(0)._2)
        val keyB = Map[String, Any]("repo" -> vics(1)._1, "path" -> vics(1)._2)
        graft.lake.LegalHold.place(tableDir, "case-7", keyA, "litigation")
        // a direct purge of the held key must fail closed, changing nothing
        val threw =
          try { graft.lake.Purge.purgeKey(s, tableDir, keyA); false }
          catch { case _: IllegalArgumentException => true }
        require(threw, "purge of a held key must fail closed")
        require(IceLite.lookupLocal(IceLite.load(tableDir), keyA).nonEmpty,
          "held key must survive the refused purge")
        // the batch ticket: the unheld key is erased, the held one refused
        val (st, refused) = clock("guarded_purge") {
          graft.lake.LegalHold.guardedPurge(s, tableDir, Seq(keyA, keyB))
        }
        require(refused == Seq(keyA), s"expected exactly keyA refused: $refused")
        require(st.rowsPurged > 0, s"the unheld key must be erased: $st")
        require(IceLite.lookupLocal(IceLite.load(tableDir), keyA).nonEmpty &&
          IceLite.lookupLocal(IceLite.load(tableDir), keyB).isEmpty,
          "hold preserves A; the ticket erased B")
        // release → the deferred erasure proceeds
        require(graft.lake.LegalHold.release(tableDir, "case-7"))
        val st2 = clock("deferred_purge") {
          graft.lake.Purge.purgeKey(s, tableDir, keyA)
        }
        require(st2.rowsPurged > 0, s"deferred erasure must find the key: $st2")
        putMetric("q193", "rows_purged_batch", st.rowsPurged.toDouble)
        putMetric("q193", "rows_purged_deferred", st2.rowsPurged.toDouble)
        IceLite.read(s, IceLite.load(tableDir))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""WITH d AS (SELECT * FROM parquet_scan('${workDir("q193")}/decoded/*.parquet')),
        fold AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
                 FROM d) t WHERE rn = 1 AND op <> 'DELETE'),
        vic AS (SELECT d.repo, d.path FROM d JOIN fold f ON d.repo = f.repo AND d.path = f.path
                GROUP BY d.repo, d.path ORDER BY count(*) DESC, d.repo, d.path LIMIT 2)
        SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM fold WHERE NOT EXISTS (SELECT 1 FROM vic WHERE vic.repo = fold.repo AND vic.path = fold.path)
        ORDER BY repo, path""")),

    OpQuery("q198_stream_crypto_ingest",
      // ENCRYPT-AT-INGEST under the hard gate — the deployment shape of
      // q189's crypto-shredding: the streaming Tail encrypts the sensitive
      // column (content, keyed by its REPO's data key) inside each
      // micro-batch via the schema-preserving transform hook, so PLAINTEXT
      // NEVER TOUCHES DISK — data files, snapshots, the change feed, and
      // any backup hold base64(AES-GCM) from the first byte. The IV
      // derives from (repo, seq): deterministic, so a fenced replay of a
      // micro-batch re-produces identical bytes and the exactly-once
      // contract holds. Hard asserts: the raw table leaks no plaintext
      // sha; shredding one repo's key erases its content from the read
      // (rows and keys remain — only the protected column is gone).
      // The oracle folds the PLAINTEXT dump with the victim's content
      // nulled: a transform that skipped a row, a decrypt leak, or a
      // wrong-key join all hash-diverge.
      (s, _) => {
        import s.implicits._
        import graft.lake.CryptoShred
        val clock = new PhaseClock("q198")
        val root = workDir("q198")
        val streamDir = s"$root/stream"
        val tableDir = s"$root/table"
        val ckpt = s"$root/ckpt"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val p = LogGen.Params(nEvents = 3000, nRepos = 30, pathsPerRepo = 20,
          v1Fraction = 0.7)
        val ev = clock("gen") { LogGen.events(s, p).localCheckpoint() }
        val registry = s.sparkContext.broadcast(Cdc.registry)
        clock("decode_dump") {
          Replay.decodeForMerge(
            Epoch.events(ev), registry, None)
            .updates.write.mode("overwrite").parquet(s"$root/decoded")
        }
        val ring = CryptoShred.keyringS(s, master = "graft-q198-master",
          s.read.parquet(s"$root/decoded").select(col("repo").as("principal")).distinct())
          .localCheckpoint()
        clock("stream_ingest") {
          ev.repartition(3).write.mode("append").parquet(streamDir)
          graft.cdc.Tail.start(s, streamDir, tableDir, ckpt, buckets = 8,
            transformUpdates = Some((ss, up) =>
              CryptoShred.encryptInPlace(up, ring, "seq", "repo", "content")))
            .awaitTermination()
        }
        // at-rest check: no stored content equals any plaintext sha
        val raw = IceLite.read(s, IceLite.load(tableDir))
        val plainShas = s.read.parquet(s"$root/decoded")
          .select(sha2(col("content"), 256).as("psha")).distinct()
        require(raw.select(sha2(col("content"), 256).as("psha"))
          .join(plainShas, Seq("psha")).limit(1).count() == 0,
          "plaintext content reached disk")
        // the subject erasure: the hottest repo loses its key
        val vic = clock("pick_victim") {
          s.read.parquet(s"$root/decoded").groupBy("repo").count()
            .orderBy(col("count").desc, col("repo"))
            .select("repo").as[String].head()
        }
        val shredded = ring.filter(col("principal") =!= vic)
        clock("read_post_shred") {
          CryptoShred.decryptInPlace(raw, shredded, "repo", "content")
            .select(col("repo"), col("path"), col("commit"), col("lang"),
              sha2(col("content"), 256).as("content_sha"), col("author"))
            .orderBy("repo", "path")
        }
      },
      Some(s"""WITH d AS (SELECT * FROM parquet_scan('${workDir("q198")}/decoded/*.parquet')),
        vic AS (SELECT repo FROM d GROUP BY repo ORDER BY count(*) DESC, repo LIMIT 1)
        SELECT repo, path, "commit", lang,
          CASE WHEN repo IN (SELECT repo FROM vic) THEN NULL
               ELSE sha256(content) END AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM d) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path"""))
  ,

    OpQuery("q202_stream_heavy_hitters",
      // CONTINUOUS HEAVY HITTERS under the hard gate — "which repos are
      // hot in the change feed", answered EXACTLY from bounded streaming
      // state: a per-shard Misra-Gries sketch (4 shards × k=24 counters,
      // O(1) state at any key cardinality) carried across micro-batches
      // in RocksDB via transformWithState, fed the decoded Zipf change
      // stream in 3 waves with a full query stop/restart at every wave
      // boundary (the q152 recovery harness). The final tracked set
      // provably supersets every repo with freq > N/(k+1) — a key lives
      // wholly in one shard, and incremental per-batch MG over a shard's
      // substream IS one MG run over it — so the exact recount of just
      // the candidates, filtered at the global threshold, equals the
      // plain GROUP BY ... HAVING the oracle runs, regardless of arrival
      // order or wave cuts. Hard asserts: state stayed within the
      // 4 × 24 bound, and eviction actually happened (candidates <
      // distinct repos — the sketch really was lossy, not a trivial
      // everything-fits run).
      (s, _) => {
        import s.implicits._
        import graft.streaming.HeavyHittersStream
        val clock = new PhaseClock("q202")
        val root = workDir("q202")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val p = LogGen.Params(nEvents = 4000, nRepos = 200, pathsPerRepo = 10,
          v1Fraction = 0.7)
        val ev = clock("gen") { LogGen.events(s, p).localCheckpoint() }
        val registry = s.sparkContext.broadcast(Cdc.registry)
        clock("decode_dump") {
          Replay.decodeForMerge(
            Epoch.events(ev), registry, None)
            .updates.write.mode("overwrite").parquet(s"$root/decoded")
        }
        val dec = s.read.parquet(s"$root/decoded")
        val k = 24; val nShards = 4; val chunks = 3
        graft.functions.Hash60.register(s)
        val keyed = dec.select(col("repo").as("key"), col("seq"))
          .withColumn("shard",
            expr(s"CAST(hash60(concat('hh:', key)) % $nShards AS INT)"))
          .withColumn("band",
            least(lit(chunks - 1), (col("seq") * chunks / p.nEvents).cast("int")))
        val emissions = clock("stream") {
          HeavyHittersStream.sketchToCompletion(s, keyed, s"$root/hh", chunks, k)
            .localCheckpoint()
        }
        val candKeys = HeavyHittersStream.finalSketch(emissions)
          .select(col("key").as("repo")).distinct().localCheckpoint()
        val nCand = candKeys.count()
        val nDistinct = dec.select("repo").distinct().count()
        require(nCand <= nShards.toLong * k,
          s"sketch state bound violated: $nCand candidates > ${nShards * k}")
        require(nCand < nDistinct,
          s"gate is vacuous: no eviction ($nCand candidates of $nDistinct keys)")
        val n = dec.count()
        clock("recount") {
          dec.groupBy("repo").agg(count(lit(1)).as("cnt"))
            .join(candKeys, Seq("repo"), "left_semi")
            .filter(col("cnt") * (k + 1) > n)
            .orderBy("repo")
        }
      },
      Some(s"""WITH d AS (SELECT repo FROM parquet_scan('${workDir("q202")}/decoded/*.parquet'))
        SELECT repo, cnt FROM (SELECT repo, count(*) AS cnt FROM d GROUP BY repo) g
        WHERE cnt * 25 > (SELECT count(*) FROM d) ORDER BY repo"""))
  ,

    OpQuery("q205_shallow_clone",
      // SHALLOW CLONE + CATCH-UP under the hard gate (Delta's CLONE, the
      // dev/staging-fork move): replay epochs 0-1 into a source table,
      // fork it with IceLite.cloneTable — ZERO bytes copied, hard-asserted
      // by inode identity between every cloned file and a source file —
      // then catch the FORK up by replaying the log against it: the
      // carried epoch ledger fences epochs 0-1 as no-ops (hard-asserted:
      // re-replaying them commits no new version) and only epoch 2
      // applies. The source must be bit-untouched by everything after the
      // fork (version history and head version hard-asserted). The result
      // is the fork's head state; the oracle folds the FULL decoded log —
      // a clone that dropped a file, double-applied a fenced epoch, or
      // leaked fork writes into the source all break equality.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q205")
        val root = workDir("q205")
        val logDir = s"$root/log"
        val src = s"$root/src"
        val fork = s"$root/fork"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        }
        dumpDecodedByEpoch(s, logDir, root, epochs = 3)
        val log01 = s"$root/log01"; val log2 = s"$root/log2"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(log01))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(log2))
        Seq(0, 1).foreach(e => java.nio.file.Files.move(
          java.nio.file.Paths.get(logDir, s"epoch=$e"),
          java.nio.file.Paths.get(log01, s"epoch=$e")))
        java.nio.file.Files.move(
          java.nio.file.Paths.get(logDir, "epoch=2"),
          java.nio.file.Paths.get(log2, "epoch=2"))
        clock("replay_src") { Replay.replayLog(s, log01, src, buckets = 8) }
        val srcPre = IceLite.load(src)
        val srcHistPre = IceLite.history(src)
        clock("clone") { IceLite.cloneTable(src, fork) }
        def ino(p: String): Any =
          java.nio.file.Files.getAttribute(java.nio.file.Paths.get(p), "unix:ino")
        val srcInos = srcPre.files.map(f => ino(f.path)).toSet
        val cloned = IceLite.load(fork).files
        require(cloned.nonEmpty && cloned.forall(f => srcInos(ino(f.path))),
          "clone must hard-link, not copy: every cloned file shares a source inode")
        clock("catch_up") {
          Replay.replayLog(s, log01, fork, buckets = 8) // all fenced: no-op
          require(IceLite.load(fork).version == 0,
            "fenced epochs must not commit new fork versions")
          Replay.replayLog(s, log2, fork, buckets = 8) // the unapplied tail
        }
        require(IceLite.load(fork).version == 1, "exactly one tail epoch applies")
        require(IceLite.history(src) == srcHistPre &&
            IceLite.load(src).version == srcPre.version,
          "fork writes must never touch the source's history")
        IceLite.read(s, IceLite.load(fork))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
          .orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q205")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path"""))
  ,

    OpQuery("q211_fork_merge_back",
      // FORK-MERGE-BACK under the hard gate — the workflow q205's clone
      // opens: replay the main log into the source, fork it (zero-copy
      // clone), run EXPERIMENTAL ingest on the fork only (a continuation
      // log at higher sequences, replayed under its own fence NAMESPACE so
      // the carried ledger doesn't swallow it), then merge the fork's work
      // back by shipping ONLY its post-fork change feed
      // (IceLite.changes(0, head) — the clone snapshot is v0, so the
      // window is exactly the new epochs) through applyChanges as one
      // fenced epoch. Sequence-LWW makes the merge-back safe without
      // coordination: the fork's events carry strictly higher sequences.
      // Hard-asserted: the shipped feed is O(fork's new work), not
      // O(table); source ≡ fork row-for-row after the merge; a replayed
      // merge-back fences. The oracle folds BOTH logs.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q211")
        val root = workDir("q211")
        val logDir = s"$root/log"; val log2Dir = s"$root/log2"
        val src = s"$root/src"; val fork = s"$root/fork"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val p = LogGen.Params(nEvents = 3000, nRepos = 40, pathsPerRepo = 30,
          v1Fraction = 0.7)
        val p2 = p.copy(nEvents = 800, v1Fraction = 0.0, idOffset = 3000L)
        clock("gen") {
          LogGen.writeLog(s, p, logDir, epochs = 3)
          LogGen.writeLog(s, p2, log2Dir, epochs = 1)
        }
        clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          Seq(logDir, log2Dir).foreach { ld0 =>
            Replay.decodeForMerge(
              s.read.parquet(ld0)
                .transform(Epoch.events), registry, None)
              .updates.write.mode("append").parquet(s"$root/decoded")
          }
        }
        clock("replay_src") { Replay.replayLog(s, logDir, src, buckets = 8) }
        clock("fork") { IceLite.cloneTable(src, fork) }
        clock("fork_ingest") {
          Replay.replayLog(s, log2Dir, fork, buckets = 8, namespace = "fork")
        }
        val forkHead = IceLite.load(fork).version
        val feed = IceLite.changes(s, fork, 0, forkHead).localCheckpoint()
        val srcRows = IceLite.read(s, IceLite.load(src)).count()
        val feedRows = feed.count()
        require(feedRows < srcRows,
          s"merge-back must ship O(new work): $feedRows feed rows vs $srcRows table rows")
        clock("merge_back") {
          Replay.applyChanges(s, feed, src, s"merge-back-$forkHead", buckets = 8,
            feedRowsHint = Some(feedRows))
        }
        // a replayed merge-back is a fenced no-op
        val vAfter = IceLite.load(src).version
        Replay.applyChanges(s, feed, src, s"merge-back-$forkHead", buckets = 8)
        require(IceLite.load(src).version == vAfter,
          "replayed merge-back must fence as a no-op")
        val srcState = IceLite.read(s, IceLite.load(src))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
        val forkState = IceLite.read(s, IceLite.load(fork))
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            sha2(col("content"), 256).as("content_sha"), col("author"))
        require(srcState.exceptAll(forkState).isEmpty &&
            forkState.exceptAll(srcState).isEmpty,
          "source and fork must converge after the merge-back")
        srcState.orderBy("repo", "path")
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q211")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path"""))
  ,

    OpQuery("q212_code_churn",
      // CODE-CHURN ANALYTICS over the CDF row images (q76's surface put to
      // work): per language — files added / updated / deleted and bytes
      // in/out across the table's whole history, each image row counted
      // under ITS OWN language so a file whose lang changes mid-history
      // books the removal to the old group and the addition to the new
      // (the group-switch subtlety a naive head-minus-tail diff misses).
      // One O(changes) pass over changesWithImages(0, head); the oracle
      // re-derives every image from the decoded dump (the q76 CTE chain)
      // and aggregates the same six integers.
      (s, _) => {
        import s.implicits._
        val clock = new PhaseClock("q212")
        val root = workDir("q212")
        val logDir = s"$root/log"
        val tableDir = s"$root/table"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        clock("gen") {
          LogGen.writeLog(s, LogGen.Params(nEvents = 3000, nRepos = 40,
            pathsPerRepo = 30, v1Fraction = 0.7), logDir, epochs = 3)
        }
        clock("decode_dump") { dumpDecodedByEpoch(s, logDir, root, epochs = 3) }
        clock("replay") { Replay.replayLog(s, logDir, tableDir, buckets = 8) }
        val head = IceLite.load(tableDir).version
        val images = clock("images") {
          // window (v1, head]: epochs 1-2's changes against the epoch-0
          // state (the q76 window — v0 is the empty create snapshot, whose
          // pre-evolution schema cannot anchor the pre-image read)
          graft.lake.Cdf.changesWithImages(s, tableDir, 1, head).localCheckpoint()
        }
        clock("churn") {
          images.groupBy("lang").agg(
            count(when(col("change_type") === "insert", 1)).as("adds"),
            count(when(col("change_type") === "update_postimage", 1)).as("upds"),
            count(when(col("change_type") === "delete", 1)).as("dels"),
            sum(when(col("change_type").isin("insert", "update_postimage"),
              length(col("content")).cast("long")).otherwise(0L)).as("len_in"),
            sum(when(col("change_type").isin("delete", "update_preimage"),
              length(col("content")).cast("long")).otherwise(0L)).as("len_out"))
            .withColumn("net_len", col("len_in") - col("len_out"))
            .orderBy("lang")
        }
      },
      Some(s"""WITH d AS (SELECT * FROM parquet_scan('${workDir("q212")}/decoded/*.parquet')),
        v AS (SELECT * FROM (SELECT *, row_number()
              OVER (PARTITION BY repo, path, epoch ORDER BY seq DESC) AS rn FROM d) t
              WHERE rn = 1),
        tl AS (SELECT *, lag(op) OVER w AS p_op, lag(lang) OVER w AS p_lang,
               lag(content) OVER w AS p_content
               FROM v WINDOW w AS (PARTITION BY repo, path ORDER BY seq)),
        img AS (
          SELECT CASE WHEN op = 'DELETE' THEN 'delete'
                 ELSE 'update_preimage' END AS change_type,
                 p_lang AS lang, p_content AS content
          FROM tl WHERE epoch >= 1 AND p_op IS NOT NULL AND p_op <> 'DELETE'
          UNION ALL
          SELECT CASE WHEN p_op IS NOT NULL AND p_op <> 'DELETE'
                 THEN 'update_postimage' ELSE 'insert' END AS change_type,
                 lang, content
          FROM tl WHERE epoch >= 1 AND op <> 'DELETE')
        SELECT lang,
          count(*) FILTER (WHERE change_type = 'insert') AS adds,
          count(*) FILTER (WHERE change_type = 'update_postimage') AS upds,
          count(*) FILTER (WHERE change_type = 'delete') AS dels,
          CAST(coalesce(sum(CASE WHEN change_type IN ('insert', 'update_postimage')
            THEN length(content) ELSE 0 END), 0) AS BIGINT) AS len_in,
          CAST(coalesce(sum(CASE WHEN change_type IN ('delete', 'update_preimage')
            THEN length(content) ELSE 0 END), 0) AS BIGINT) AS len_out,
          CAST(coalesce(sum(CASE WHEN change_type IN ('insert', 'update_postimage')
            THEN length(content) ELSE 0 END), 0) -
          coalesce(sum(CASE WHEN change_type IN ('delete', 'update_preimage')
            THEN length(content) ELSE 0 END), 0) AS BIGINT) AS net_len
        FROM img GROUP BY lang ORDER BY lang"""))
  )
}
