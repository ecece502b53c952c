package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.{Cdc, Lineage, LogGen, Replay}
import graft.lake.IceLite
import CdcQueries.{putMetric, replayFinalState}
import Gate.{lwwOracle, workDir}

/** Replay and ingest gates: the seeded log decoded and merged by batch replay,
  * the streaming Tail, producers, dead-letter routes, schema evolution and
  * the log tools (compaction, audit, claim check, relay). */
private[operators] object CdcReplayGates {

  /** The PATCH fixture of q108/q111: ids [lo, hi) as full v2 rows, except
    * that with `patchy` about two thirds of the upserts become v5 PATCH
    * events with a deterministic per-event mask. */
  private def patchEvents(s: SparkSession, p: LogGen.Params, lo: Long, hi: Long,
      slices: Int, patchy: Boolean) = Gate.encodedEvents(s, lo, hi, slices) { id =>
    val c = LogGen.rawChange(id, p)
    if (patchy && c.op == "UPSERT" && Math.floorMod(LogGen.mix(id + 17), 3L) != 0L) {
      val mask = Math.floorMod(LogGen.mix(id + 31), 4L).toInt match {
        case 0 => Seq(4)
        case 1 => Seq(8)
        case 2 => Seq(3, 5)
        case _ => Seq(5, 8)
      }
      5 -> LogGen.encodePatch(c, mask, Cdc.fsV5, Cdc.fsV5.findMessage(Cdc.MessageType).get)
    } else Gate.encode(c, 2)
  }

  /** The log of `p` with each event tagged by its key's shard (0 or 1), for
    * the two-source gates q109/q122. */
  private def shardedEvents(s: SparkSession, p: LogGen.Params, seed: Long): DataFrame = {
    import s.implicits._
    LogGen.events(s, p).map { ev =>
      // shard by KEY (not offset): re-derive the key deterministically
      val c = LogGen.rawChange(ev.offset, p)
      (ev.payload, ev.schemaId, ev.schemaVersion, ev.messageType, ev.partition, ev.offset,
        Math.floorMod(graft.functions.XxHash64Host.hashString(c.repo + "|" + c.path, seed),
          2L).toInt)
    }.toDF("payload", "schemaId", "schemaVersion", "messageType",
      "partition", "offset", "shard").localCheckpoint()
  }

  val queries: Seq[OpQuery] = Seq(
    OpQuery("q00_cdc_replay",
      (s, _) => replayFinalState(s, nEvents = 5000, tag = "q00", dumpDecodedLog = true),
      Some(lwwOracle("q00"))),

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
        val g = Gate(s, "q41")
        g.genLog(3000, epochs = 1)
        g.dumpDecoded()
        val registry = s.sparkContext.broadcast(Cdc.registry)
        val back = s.read.parquet(g.decoded)
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
        val g = Gate(s, "q49")
        g.genLog(3000, epochs = 2)
        val log = s.read.parquet(g.log)
        // oracle input: the CLEAN decode, offsets included
        g.dumpDecoded(log, offsets = true)
        // corrupt: malformed payload (mod 10 = 0) and unknown schema
        // version (mod 10 = 5); keep the epoch partitioning
        log
          .withColumn("payload",
            when(col("offset") % 10 === 0, lit(Array(0xFF.toByte))).otherwise(col("payload")))
          .withColumn("schemaVersion",
            when(col("offset") % 10 === 5, lit(99)).otherwise(col("schemaVersion")))
          .write.partitionBy("epoch").mode("overwrite").parquet(s"${g.root}/badlog")
        Replay.replayLog(s, s"${g.root}/badlog", g.table, buckets = 8)
        val nErr = log.filter(col("offset") % 10 === 0).count()
        val nInv = log.filter(col("offset") % 10 === 5).count()
        val dl = s.read.parquet(s"${g.table}/_deadletter")
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
        g.finalState()
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
        val g = Gate(s, "q48")
        g.genLog(3000, epochs = 2)
        val log = s.read.parquet(g.log)
        log.select("epoch", "partition").write.mode("overwrite").parquet(s"${g.root}/meta")
        g.dumpDecoded(log, epochs = 2)
        Replay.replayLog(s, g.log, g.table, buckets = 8)
        Lineage.read(s, g.table)
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
        val g = Gate(s, "q47")
        val streamDir = s"${g.root}/stream"
        val ckpt = s"${g.root}/ckpt"
        val ev = LogGen.events(s, Gate.params(3000))
        // oracle input: the decoded change rows of the FULL log
        g.dumpDecoded(ev)
        // wave 1, then wave 2 resuming from the same checkpoint
        ev.filter(col("offset") < 1500).repartition(3)
          .write.mode("append").parquet(streamDir)
        graft.cdc.Tail.start(s, streamDir, g.table, ckpt, buckets = 8).awaitTermination()
        ev.filter(col("offset") >= 1500).repartition(3)
          .write.mode("append").parquet(streamDir)
        graft.cdc.Tail.start(s, streamDir, g.table, ckpt, buckets = 8).awaitTermination()
        g.finalState()
      },
      Some(lwwOracle("q47"))),

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
        val g = Gate(s, "q80")
        g.clock("gen") { g.genLog(3000, epochs = 2) }
        val log = s.read.parquet(g.log)
        val registry = s.sparkContext.broadcast(Cdc.registry)
        g.clock("decode_dump") { g.dumpDecoded(log, offsets = true) }
        // corrupt offsets ≡ 3 (mod 20): these must dead-letter FOREVER
        log.withColumn("payload",
            when(col("offset") % 20 === 3, lit(Array(0xFF.toByte))).otherwise(col("payload")))
          .write.partitionBy("epoch").mode("overwrite").parquet(s"${g.root}/badlog")
        val nCorrupt = log.filter(col("offset") % 20 === 3).count()
        val nV2 = log.filter(col("offset") % 20 =!= 3 && col("schemaVersion") === 2).count()
        // schema resolution precedes payload parsing, so under the v1-only
        // registry EVERY v2 event (corrupt or not) routes invalid_schema;
        // only corrupt v1 events reach the parser and route error
        val nV2all = log.filter(col("schemaVersion") === 2).count()
        val nCorruptV1 = log.filter(col("offset") % 20 === 3 && col("schemaVersion") === 1).count()
        g.clock("replay_v1only") {
          Replay.replayLog(s, s"${g.root}/badlog", g.table, buckets = 8,
            baseRegistry = Some(Cdc.registryV1Only))
        }
        val dl = s.read.parquet(s"${g.table}/_deadletter")
        require(dl.filter(col("route") === "invalid_schema").count() == nV2all,
          s"expected $nV2all invalid_schema dead letters before the fix")
        require(dl.filter(col("route") === "error").count() == nCorruptV1,
          s"expected $nCorruptV1 error dead letters")
        val st = g.clock("retry") {
          Replay.retryDeadLetters(s, g.table, registry, "retry-1")
        }
        require(st.applied && st.merged == nV2 && st.remaining == nCorrupt,
          s"retry must merge the $nV2 fixed events and keep the $nCorrupt corrupt ones: $st")
        require(s.read.parquet(s"${g.table}/_deadletter").count() == nCorrupt,
          "the store must hold exactly the still-failing rows after the swap")
        val again = Replay.retryDeadLetters(s, g.table, registry, "retry-1")
        require(!again.applied && again.remaining == nCorrupt,
          s"a replayed retry must fence as a no-op: $again")
        g.finalState()
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
        val g = Gate(s, "q81")
        g.clock("gen") { g.genLog(3000, epochs = 3) }
        g.clock("decode_dump") { g.dumpDecoded(epochs = 3) }
        // the consistent snapshot: LWW fold of epochs 0-1, live rows only,
        // each carrying its winner's ORIGINAL sequence
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("repo", "path").orderBy(col("seq").desc)
        val snapshot = s.read.parquet(g.decoded).filter(col("epoch") <= 1)
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .filter(col("op") =!= "DELETE")
          .select("repo", "path", "commit", "lang", "content", "author", "seq")
        val bs = g.clock("bootstrap") {
          Replay.bootstrap(s, snapshot, "seq", g.table, buckets = 8)
        }
        require(bs.applied && bs.batchRows == snapshot.count(),
          s"bootstrap must load the full snapshot: $bs")
        // switch over at epoch 1: epochs 1-2 re-delivered (epoch 1 OVERLAPS)
        val tail = g.splitLog("logtail", 1, 2)
        g.clock("replay_tail") { Replay.replayLog(s, tail, g.table, buckets = 8) }
        require(IceLite.load(g.table).version == 3,
          "bootstrap + 2 log epochs = 3 commits")
        g.finalState()
      },
      Some(lwwOracle("q81"))),

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
        val g = Gate(s, "q84")
        val compDir = s"${g.root}/compacted"
        g.clock("gen") { g.genLog(4000, epochs = 3, _.copy(nRepos = 20, pathsPerRepo = 15)) }
        g.clock("decode_dump") { g.dumpDecoded() }
        val st = g.clock("compact") { graft.cdc.LogCompact.compactLog(s, g.log, compDir) }
        require(st.eventsOut * 3 <= st.eventsIn,
          s"compaction must shrink >=3x here: ${st.eventsOut}/${st.eventsIn}")
        require(st.tombstonesKept > 0, "a newest-event DELETE must survive as a tombstone")
        // byte-verbatim: every survivor's payload sha must exist at the SAME
        // (partition, offset) in the source log
        g.clock("verbatim_check") {
          val full = s.read.parquet(g.log)
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
        g.clock("replay_compacted") { Replay.replayLog(s, compDir, g.table, buckets = 8) }
        g.finalState()
      },
      Some(lwwOracle("q84"))),

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
        val g = Gate(s, "q87")
        val txnDir = s"${g.root}/txn"
        val tables = Seq(s"${g.root}/a", s"${g.root}/b")
        g.clock("gen") { g.genLog(3000, epochs = 2, _.copy(nRepos = 30, pathsPerRepo = 20)) }
        g.clock("decode_dump") { g.dumpDecoded(offsets = true) }
        val crashed = g.clock("apply_crash") {
          try {
            graft.cdc.Txn.applyLog(s, g.log, txnDir, tables, buckets = 8,
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
        val rec = g.clock("recover") {
          graft.cdc.Txn.recover(s, g.log, txnDir, tables, buckets = 8)
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
        val g = Gate(s, "q88")
        g.clock("gen") {
          g.genLog(3000, epochs = 2, _.copy(nRepos = 30, pathsPerRepo = 20, v1Fraction = 0.5))
        }
        val log = s.read.parquet(g.log)
        g.clock("decode_dump") { g.dumpDecoded(log, offsets = true) }
        val nV2 = log.filter(col("schemaVersion") === 2).count()
        g.clock("replay_v1only") {
          Replay.replayLog(s, g.log, g.table, buckets = 8,
            baseRegistry = Some(Cdc.registryV1Only))
        }
        require(s.read.parquet(s"${g.table}/_deadletter")
          .filter(col("route") === "invalid_schema").count() == nV2,
          s"all $nV2 v2 events must dead-letter before the fix")
        // the gate refuses every hostile candidate, names the violation
        import graft.registry.Compat
        import graft.proto.ProtoTextParser
        val hostile = Seq(
          "wire_type" -> Cdc.protoV2.replace("string commit  = 3;", "int64 commit   = 3;"),
          "type_change" -> Cdc.protoV2.replace("string content = 5;", "bytes content  = 5;"),
          "name_moved" -> Cdc.protoV2.replace("string commit  = 3;", "string commit  = 9;"))
        g.clock("compat_gate") {
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
        val st = g.clock("retry") {
          Replay.retryDeadLetters(s, g.table, s.sparkContext.broadcast(fixed), "retry-1")
        }
        require(st.applied && st.merged == nV2 && st.remaining == 0,
          s"retry under the accepted schema must consume all $nV2 dead letters: $st")
        putMetric("q88", "dead_lettered", nV2.toDouble)
        putMetric("q88", "refused_candidates", hostile.size.toDouble)
        g.finalState()
      },
      // v1-origin winners: '' in the clean decode, NULL in the table (the
      // column arrived after them via evolution) — nullif models that
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha,
               nullif(author, '') AS author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q88")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

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
        val g = Gate(s, "q91")
        val badDir = s"${g.root}/corrupted"
        g.genLog(3000, epochs = 2, _.copy(nRepos = 30, pathsPerRepo = 20))
        val clean = s.read.parquet(g.log)
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
        val g = Gate(s, "q92")
        val p = LogGen.Params(nEvents = 4000, nRepos = 30, pathsPerRepo = 20,
          v1Fraction = 0.5)
        g.clock("gen_scattered") {
          LogGen.events(s, p)
            // epoch by hash: each epoch holds an arbitrary seq interleaving
            .withColumn("epoch", pmod(xxhash64(col("offset")), lit(3)))
            .write.option("parquet.block.size", 16 * 1024 * 1024)
            .partitionBy("epoch").mode("overwrite").parquet(g.log)
        }
        val log = s.read.parquet(g.log)
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
        g.clock("decode_dump") { g.dumpDecoded(log) }
        g.clock("replay_scattered") { Replay.replayLog(s, g.log, g.table, buckets = 8) }
        g.finalState()
      },
      Some(lwwOracle("q92"))),

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
        val g = Gate(s, "q102")
        g.genLog(3000, epochs = 2)
        // oracle input: the bulk-path full decode
        g.dumpDecoded()
        // the query under test: scalar decode + subset projection
        graft.functions.PruneProtoDecode.install(s)
        val df = s.read.parquet(g.log)
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
        val g = Gate(s, "q106")
        g.clock("gen") {
          LogGen.writeSegmentLog(s, Gate.params(3000), g.log, epochs = 2, msgsPerSegment = 64)
        }
        g.clock("decode_dump") {
          g.dumpDecoded(framing = graft.decode.Framing.VarintDelimited)
        }
        g.clock("replay") {
          Replay.replayLog(s, g.log, g.table, buckets = 8,
            framing = graft.decode.Framing.VarintDelimited)
        }
        g.finalState()
      },
      Some(lwwOracle("q106"))),

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
        val g = Gate(s, "q107")
        g.clock("gen") {
          g.genLog(3000, epochs = 2, _.copy(v1Fraction = 0.5))
          val sd = java.nio.file.Paths.get(g.root, "schemas")
          java.nio.file.Files.createDirectories(sd)
          java.nio.file.Files.write(sd.resolve("repo_change-v2.proto"),
            Cdc.protoV2.getBytes("UTF-8"))
        }
        g.clock("decode_dump") { g.dumpDecoded() }
        g.clock("replay") {
          val res = Replay.replayLog(s, g.log, g.table, buckets = 8,
            baseRegistry = Some(Cdc.registryV1Only),
            schemaDir = Some(s"${g.root}/schemas"))
          require(res.stats.map(_.batchRows).sum == 3000,
            s"every event incl. the file-loaded v2 half must decode and " +
              s"merge, got ${res.stats.map(_.batchRows).sum}")
        }
        g.finalState()
      },
      Some(lwwOracle("q107"))),

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
        val g = Gate(s, "q105")
        require(graft.registry.Compat.check(Cdc.fsV3, Cdc.fsV4, Cdc.MessageType).isEmpty,
          "int32 -> int64 must be a sanctioned widening")
        val p = LogGen.Params(nEvents = 3000, nRepos = 40, pathsPerRepo = 30,
          deleteEvery = 25)
        def gen(v: Int, lo: Long, hi: Long) = Gate.encodedEvents(s, lo, hi, 8) { id =>
          val c = LogGen.rawChange(id, p)
          val size =
            if (c.op == "DELETE") 0L
            else if (v == 3) c.content.length.toLong
            else 4000000000L + c.content.length // needs the widen
          Gate.encode(c, v, size)
        }
        g.clock("gen") {
          gen(3, 0, 1500).toDF().withColumn("epoch", lit(0L))
            .write.partitionBy("epoch").mode("overwrite").parquet(s"${g.root}/logpre")
          gen(4, 1500, 3000).toDF().withColumn("epoch", lit(1L))
            .write.partitionBy("epoch").mode("overwrite").parquet(s"${g.root}/logtail")
        }
        g.clock("decode_dump") {
          g.dumpDecoded(g.logs(s"${g.root}/logpre", s"${g.root}/logtail"),
            registry = Cdc.registryV4)
        }
        g.clock("replay_v3") {
          Replay.replayLog(s, s"${g.root}/logpre", g.table, buckets = 8,
            baseRegistry = Some(Cdc.registryV3))
        }
        val preSnap = IceLite.load(g.table)
        val preCol = preSnap.currentSchema.find(_.name == "size_bytes")
        require(preCol.exists(_.dataType.toUpperCase.startsWith("INT")),
          s"pre-widen column must be INT, got $preCol")
        g.clock("replay_v4") {
          Replay.replayLog(s, s"${g.root}/logtail", g.table, buckets = 8,
            baseRegistry = Some(Cdc.registryV4))
        }
        val snap = IceLite.load(g.table)
        val postCol = snap.currentSchema.find(_.name == "size_bytes")
        require(postCol.exists(_.dataType.toUpperCase.startsWith("BIGINT")),
          s"post-widen column must be BIGINT, got $postCol")
        require(postCol.get.id == preCol.get.id,
          "widening must keep the field id (column identity)")
        // AS OF the pre-widen version the column is still INT
        val travel = IceLite.loadVersion(g.table, preSnap.version)
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
        val g = Gate(s, "q108")
        require(graft.registry.Compat.check(Cdc.fsV2, Cdc.fsV5, Cdc.MessageType).isEmpty,
          "v2 -> v5 (enum value + repeated-field additions) must be Compat-sanctioned")
        val p = LogGen.Params(nEvents = 3000, nRepos = 40, pathsPerRepo = 30,
          deleteEvery = 25)
        // deterministic per-event mask: lang | author | commit+content |
        // content+author (field numbers 3/4/5/8)
        def gen(lo: Long, hi: Long, patchy: Boolean) = patchEvents(s, p, lo, hi, 8, patchy)
        g.clock("gen") {
          gen(0, 1000, patchy = false).toDF().withColumn("epoch", lit(0L))
            .unionByName(gen(1000, 2000, patchy = true).toDF().withColumn("epoch", lit(1L)))
            .unionByName(gen(2000, 3000, patchy = true).toDF().withColumn("epoch", lit(2L)))
            .write.partitionBy("epoch").mode("overwrite").parquet(g.log)
        }
        // the patch contract assumes per-key IN-ORDER delivery ACROSS
        // epochs (the Kafka key-partition guarantee; in-batch order is
        // free) — assert the fixture honors it: epochs are disjoint
        // ascending seq ranges
        val spans = s.read.parquet(g.log)
          .groupBy(col("epoch").cast("long").as("e"))
          .agg(min("offset").as("lo"), max("offset").as("hi"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
        spans.sliding(2).foreach {
          case Array((_, _, hi0), (_, lo1, _)) =>
            require(hi0 < lo1, "epochs must be disjoint ascending seq ranges")
          case _ => ()
        }
        g.clock("decode_dump") { g.dumpDecoded(registry = Cdc.registryV5) }
        g.clock("replay") {
          Replay.replayLog(s, g.log, g.table, buckets = 8,
            baseRegistry = Some(Cdc.registryV5))
        }
        val snap = IceLite.load(g.table)
        require(!snap.currentSchema.exists(_.name == graft.lake.Merge.PatchMaskCol),
          "the patch mask is envelope, not a table column")
        val nPatch = s.read.parquet(g.decoded)
          .filter(col("op") === "PATCH").count()
        require(nPatch > 300, s"expected a patch-heavy log, got $nPatch patches")
        putMetric("q108", "patch_events", nPatch.toDouble)
        g.finalState(snap)
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
        val g = Gate(s, "q109")
        val p = LogGen.Params(nEvents = 5000, nRepos = 40, pathsPerRepo = 30,
          v1Fraction = 0.4)
        g.clock("gen_sharded") {
          val tagged = shardedEvents(s, p, seed = 42L)
          // source A: first 4000 offsets in 2 epochs; its tail (4000+) is
          // appended AFTER the first convergence. Source B: 3 epochs.
          tagged.filter(col("shard") === 0 && col("offset") < 4000)
            .withColumn("epoch", (col("offset") / 2000).cast("long")).drop("shard")
            .write.partitionBy("epoch").mode("overwrite").parquet(s"${g.root}/logA")
          tagged.filter(col("shard") === 1)
            .withColumn("epoch", (col("offset") / 1700).cast("long")).drop("shard")
            .write.partitionBy("epoch").mode("overwrite").parquet(s"${g.root}/logB")
          // tail files carry NO epoch column — the partition dir supplies it
          tagged.filter(col("shard") === 0 && col("offset") >= 4000)
            .drop("shard")
            .write.mode("overwrite").parquet(s"${g.root}/tailA/epoch=2")
        }
        g.clock("decode_dump") {
          g.dumpDecoded(g.logs(s"${g.root}/logA", s"${g.root}/logB", s"${g.root}/tailA"))
        }
        g.clock("replay_initial") {
          Replay.replayLog(s, s"${g.root}/logA", g.table, buckets = 8, namespace = "srcA")
          Replay.replayLog(s, s"${g.root}/logB", g.table, buckets = 8, namespace = "srcB")
        }
        val applied2 = g.clock("tail_follow") {
          // the new epoch arrives on source A; re-replaying the whole log
          // must apply exactly it (per-source ledger resumability)
          val dst = new java.io.File(s"${g.root}/logA/epoch=2")
          org.apache.commons.io.FileUtils.copyDirectory(
            new java.io.File(s"${g.root}/tailA/epoch=2"), dst)
          Replay.replayLog(s, s"${g.root}/logA", g.table, buckets = 8, namespace = "srcA")
            .stats.count(_.applied)
        }
        require(applied2 == 1, s"tail follow must apply exactly the new epoch, applied $applied2")
        val led = IceLite.load(g.table).ledger
        require(led.watermarks.contains("srcA") || led.recent.contains("srcA"),
          "source A's fence namespace must be in the ledger")
        require(led.watermarks.contains("srcB") || led.recent.contains("srcB"),
          "source B's fence namespace must be in the ledger")
        g.finalState()
      },
      Some(lwwOracle("q109"))),

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
        val g = Gate(s, "q111")
        val streamDir = s"${g.root}/stream"
        val ckpt = s"${g.root}/ckpt"
        val p = LogGen.Params(nEvents = 3000, nRepos = 40, pathsPerRepo = 30,
          deleteEvery = 25)
        def gen(lo: Long, hi: Long, patchy: Boolean) = patchEvents(s, p, lo, hi, 4, patchy)
        g.clock("gen") {
          // the v5 descriptor arrives as a RUNTIME schema file, not code
          val sd = java.nio.file.Paths.get(s"${g.root}/schemas")
          java.nio.file.Files.createDirectories(sd)
          java.nio.file.Files.writeString(
            sd.resolve(s"${Cdc.SchemaId}-v5.proto"), Cdc.protoV5)
          g.dumpDecoded(gen(0, 1500, patchy = false).unionByName(gen(1500, 3000, patchy = true)),
            registry = Cdc.registryV5)
        }
        // one microbatch per wave (maxFilesPerTrigger > files/wave): patch
        // materialization assumes the standard CDC per-key IN-ORDER
        // delivery contract (Kafka key partitions); the waves are
        // seq-ranged, so batch order = sequence order, while resume,
        // get-or-load, and cross-batch pre-image chaining stay exercised
        g.clock("wave1") {
          gen(0, 1500, patchy = false).toDF().repartition(3)
            .write.mode("append").parquet(streamDir)
          graft.cdc.Tail.start(s, streamDir, g.table, ckpt, buckets = 8,
            maxFilesPerTrigger = 16, schemaDir = Some(s"${g.root}/schemas"))
            .awaitTermination()
        }
        g.clock("wave2_resume") {
          gen(1500, 3000, patchy = true).toDF().repartition(3)
            .write.mode("append").parquet(streamDir)
          graft.cdc.Tail.start(s, streamDir, g.table, ckpt, buckets = 8,
            maxFilesPerTrigger = 16, schemaDir = Some(s"${g.root}/schemas"))
            .awaitTermination()
        }
        // zero dead letters: the runtime-loaded v5 descriptor decoded
        // every patch event
        require(!java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(s"${g.table}/_deadletter")) ||
          s.read.parquet(s"${g.table}/_deadletter").isEmpty,
          "v5 patches must decode with zero dead letters via get-or-load")
        val nPatch = s.read.parquet(g.decoded)
          .filter(col("op") === "PATCH").count()
        require(nPatch > 300, s"expected a patch-heavy wave 2, got $nPatch")
        putMetric("q111", "patch_events", nPatch.toDouble)
        g.finalState()
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
        val g = Gate(s, "q114")
        val p = LogGen.Params(nEvents = 4500, nRepos = 40, pathsPerRepo = 30,
          deleteEvery = 25)
        def gen(lo: Long, hi: Long) =
          Gate.encodedEvents(s, lo, hi, 4)(id => Gate.encode(LogGen.rawChange(id, p), 2))
        import graft.cdc.LogWriter
        g.clock("produce") {
          val ingest1 = LogWriter.register(g.log, "ingest")
          require(LogWriter.append(ingest1, gen(0, 1000), 0, batchId = 0).appended)
          require(LogWriter.append(ingest1, gen(1000, 2000), 0, batchId = 1).appended)
          // at-least-once retry of an acked batch: suppressed
          require(!LogWriter.append(ingest1, gen(1000, 2000), 0, batchId = 1).appended,
            "duplicate batch delivery must be suppressed")
          // failover; the old instance becomes a zombie
          val ingest2 = LogWriter.register(g.log, "ingest")
          require(ingest2.epoch > ingest1.epoch, "failover bumps the fencing epoch")
          val fenced =
            try { LogWriter.append(ingest1, gen(9000, 9500), 1, batchId = 2); false }
            catch { case _: LogWriter.ProducerFencedException => true }
          require(fenced, "the zombie instance must be fenced")
          require(LogWriter.append(ingest2, gen(2000, 3500), 1, batchId = 2).appended)
          val backfill = LogWriter.register(g.log, "backfill")
          require(backfill.epoch == 1, "independent producer ids fence independently")
          require(LogWriter.append(backfill, gen(3500, 4500), 1, batchId = 0).appended)
        }
        // exactly the accepted events are in the log — no duplicate, no
        // zombie rows (ids 9000+ would betray the fence)
        val logged = s.read.parquet(g.log)
        require(logged.count() == 4500L, s"accepted events only: ${logged.count()}")
        require(logged.select("offset").distinct().count() == 4500L,
          "no duplicate deliveries on disk")
        g.clock("decode_dump") { g.dumpDecoded(logged) }
        g.clock("replay") { Replay.replayLog(s, g.log, g.table, buckets = 8) }
        g.finalState()
      },
      Some(lwwOracle("q114"))),

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
        val g = Gate(s, "q117")
        val ckpt = s"${g.root}/ckpt"
        val p = LogGen.Params(nEvents = 4000, nRepos = 40, pathsPerRepo = 30,
          deleteEvery = 25)
        def gen(lo: Long, hi: Long) =
          Gate.encodedEvents(s, lo, hi, 4)(id => Gate.encode(LogGen.rawChange(id, p), 2))
        import graft.cdc.LogWriter
        g.clock("wave1") {
          val ingest1 = LogWriter.register(g.log, "ingest")
          require(LogWriter.append(ingest1, gen(0, 1000), 0, batchId = 0).appended)
          require(LogWriter.append(ingest1, gen(1000, 2000), 0, batchId = 1).appended)
          require(!LogWriter.append(ingest1, gen(1000, 2000), 0, batchId = 1).appended,
            "duplicate delivery suppressed before the stream ever sees it")
          graft.cdc.Tail.start(s, g.log, g.table, ckpt, buckets = 8,
            maxFilesPerTrigger = 16).awaitTermination()
        }
        g.clock("wave2_resume") {
          val ingest1Zombie = LogWriter.Producer(g.log, "ingest", 1)
          val ingest2 = LogWriter.register(g.log, "ingest")
          val fenced =
            try { LogWriter.append(ingest1Zombie, gen(9000, 9500), 1, 2); false }
            catch { case _: LogWriter.ProducerFencedException => true }
          require(fenced, "the zombie is fenced mid-pipeline")
          require(LogWriter.append(ingest2, gen(2000, 3000), 1, batchId = 2).appended)
          val backfill = LogWriter.register(g.log, "backfill")
          require(LogWriter.append(backfill, gen(3000, 4000), 1, batchId = 0).appended)
          graft.cdc.Tail.start(s, g.log, g.table, ckpt, buckets = 8,
            maxFilesPerTrigger = 16).awaitTermination()
        }
        require(!java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(s"${g.table}/_deadletter")) ||
          s.read.parquet(s"${g.table}/_deadletter").isEmpty, "zero dead letters")
        val logged = s.read.parquet(g.log)
        require(logged.count() == 4000L && logged.select("offset").distinct().count() == 4000L,
          "exactly the accepted events reached the log")
        g.clock("decode_dump") { g.dumpDecoded(logged) }
        g.finalState()
      },
      Some(lwwOracle("q117"))),

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
        val g = Gate(s, "q122")
        val p = LogGen.Params(nEvents = 4000, nRepos = 40, pathsPerRepo = 30,
          v1Fraction = 0.4)
        g.clock("gen_sharded") {
          val tagged = shardedEvents(s, p, seed = 43L)
          tagged.filter(col("shard") === 0)
            .withColumn("epoch", (col("offset") / 1400).cast("long")).drop("shard")
            .write.partitionBy("epoch").mode("overwrite").parquet(s"${g.root}/logA")
          tagged.filter(col("shard") === 1)
            .withColumn("epoch", (col("offset") / 1400).cast("long")).drop("shard")
            .write.partitionBy("epoch").mode("overwrite").parquet(s"${g.root}/logB")
        }
        g.clock("decode_dump") { g.dumpDecoded(g.logs(s"${g.root}/logA", s"${g.root}/logB")) }
        val (results, retries) = g.clock("concurrent_replay") {
          Replay.replayLogsConcurrent(s,
            Seq(s"${g.root}/logA" -> "wa", s"${g.root}/logB" -> "wb"),
            g.table, buckets = 8, deltaThreshold = 3)
        }
        require(results.forall(_.stats.forall(_.applied)),
          "every epoch from both writers must apply exactly once")
        val led = IceLite.load(g.table).ledger
        require(led.watermarks.contains("wa") || led.recent.contains("wa"),
          "writer A's fence namespace must be in the ledger")
        require(led.watermarks.contains("wb") || led.recent.contains("wb"),
          "writer B's fence namespace must be in the ledger")
        val again = g.clock("fence_recheck") {
          Replay.replayLog(s, s"${g.root}/logA", g.table, buckets = 8, namespace = "wa")
        }
        require(again.stats.forall(st => !st.applied),
          "re-replaying writer A's log after the race must fence every epoch")
        putMetric("q122", "conflict_retries", retries.toDouble)
        g.finalState()
      },
      Some(lwwOracle("q122"))),

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
        val g = Gate(s, "q165")
        val badLog = s"${g.root}/badlog"
        g.genLog(3000, epochs = 3)
        g.dumpDecoded(epochs = 3)
        // poison epoch 1: every even offset gets a truncated varint tag
        s.read.parquet(g.log).withColumn("payload",
            when(col("epoch") === 1 && pmod(col("offset"), lit(2)) === 0,
              lit(Array[Byte](-1))).otherwise(col("payload")))
          .write.partitionBy("epoch").mode("overwrite").parquet(badLog)
        import graft.cdc.Breaker
        val verdicts = Breaker.replayGuarded(s, badLog, g.table,
          maxBadFraction = 0.1, buckets = 8)
        require(verdicts.filter(_.quarantined).map(_.epoch) == Seq(1L),
          s"exactly epoch 1 must be quarantined: $verdicts")
        val snap = IceLite.load(g.table)
        require(snap.hasEpoch("replay-0") && snap.hasEpoch("replay-2") &&
          !snap.hasEpoch("replay-1"), "healthy epochs apply around the poison")
        require(Breaker.quarantined(g.table) == Seq(1L), "marker must exist")
        val rel = Breaker.release(s, badLog, g.table, 1L)
        require(rel.applied && Breaker.quarantined(g.table).isEmpty,
          "release applies the healthy half and clears the marker")
        val dl = s.read.parquet(s"${g.table}/_deadletter")
        require(dl.count() > 0, "released corrupt rows must dead-letter")
        putMetric("q165", "quarantined_bad", verdicts(1).bad.toDouble)
        putMetric("q165", "dead_letters", dl.count().toDouble)
        g.finalState()
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
        val g = Gate(s, "q166")
        g.genLog(3000, epochs = 3)
        g.dumpDecoded(epochs = 3)
        val target = LogGen.repoName(3) // Zipf rank 4: hot but not dominant
        val res = Replay.replaySelective(s, g.log, g.table,
          s"repo = '$target'", buckets = 8)
        val decodedFully = res.stats.map(_.batchRows).sum
        require(decodedFully > 0 && decodedFully * 4 < 3000,
          s"pushdown must keep full decode to a fraction ($decodedFully/3000)")
        require(IceLite.read(s, IceLite.load(g.table)).select("repo").distinct().count() == 1,
          "the slice table must hold exactly the predicate's repo")
        putMetric("q166", "events_full_decoded", decodedFully.toDouble)
        putMetric("q166", "log_events", 3000.0)
        g.finalState()
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q166")}/decoded/*.parquet')
              WHERE repo = '${LogGen.repoName(3)}') t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

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
        val g = Gate(s, "q159")
        val claimedLog = s"${g.root}/claimed"
        val blobDir = s"${g.root}/blobs"
        g.genLog(3000, epochs = 3)
        g.dumpDecoded(epochs = 3)
        val st = graft.cdc.ClaimCheck.checkIn(
          s, g.log, claimedLog, blobDir, threshold = 700)
        require(st.claimed > 0 && st.claimed < st.events,
          s"split must be real: ${st.claimed} of ${st.events} claimed")
        require(st.blobs == st.claimed,
          s"unique payloads here → blobs == claimed (${st.blobs} vs ${st.claimed})")
        val maxInline = s.read.parquet(claimedLog)
          .agg(max(length(col("payload")))).head().getInt(0)
        require(maxInline <= 700, s"inline payload above threshold: $maxInline")
        Replay.replayLog(s, claimedLog, g.table, buckets = 8,
          eventTransform = Some(graft.cdc.ClaimCheck.resolver(s, blobDir)))
        putMetric("q159", "claimed", st.claimed.toDouble)
        putMetric("q159", "blobs", st.blobs.toDouble)
        g.finalState()
      },
      Some(lwwOracle("q159"))),

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
        val g = Gate(s, "q164")
        val aDir = s"${g.root}/a"
        val relayDir = s"${g.root}/relay"
        val bDir = s"${g.root}/b"
        g.genLog(3000, epochs = 3)
        g.dumpDecoded(epochs = 3)
        Replay.replayLog(s, g.log, aDir, buckets = 8)
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
        g.finalState(IceLite.load(bDir))
      },
      Some(lwwOracle("q164")))
  )
}
