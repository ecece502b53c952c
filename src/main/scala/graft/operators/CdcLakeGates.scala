package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc.{Cdc, LogGen, Replay}
import graft.lake.{Compaction, Dml, IceLite}
import CdcQueries.{putMetric, replayFinalState}
import Gate.{lwwOracle, workDir}

/** Lake lifecycle gates: table maintenance, time travel, DDL and DML,
  * branches and clones, point lookups and indexes, replication and
  * anti-entropy over IceLite tables. */
private[operators] object CdcLakeGates {

  val queries: Seq[OpQuery] = Seq(
    OpQuery("q30_maintenance_lifecycle",
      // the full table-maintenance lifecycle, driver-gated: replay a seeded
      // log, compact HALF the buckets incrementally (tombstones purged
      // there), REBUCKET the table to a different bucket count, expire old
      // snapshots and vacuum — the final state must still equal the
      // oracle's LWW fold of the decoded log. Exercises: incremental
      // compaction, rebucket commit, manifest rewrite, expire + vacuum,
      // and reads across mixed pre/post-maintenance files.
      (s, _) => {
        val g = Gate(s, "q30")
        g.clock("gen") { g.genLog(4000, epochs = 2) }
        // oracle input: decoded change rows
        g.clock("decode_dump") { g.dumpDecoded() }
        g.clock("replay") { Replay.replayLog(s, g.log, g.table, buckets = 8) }
        g.clock("compact") {
          graft.lake.Compaction.compact(s, g.table, "q30-compact", Some(Set(0, 1, 2, 3)))
        }
        g.clock("rebucket") {
          graft.lake.Compaction.rebucket(s, g.table, newBuckets = 16, epochId = "q30-rebucket")
        }
        g.clock("expire_vacuum") {
          graft.lake.Compaction.expire(g.table, keepLast = 1)
          // retention 0: this gate is strictly single-writer, no commit in flight
          graft.lake.Compaction.vacuum(g.table, olderThanMs = 0L)
        }
        g.finalState()
      },
      Some(lwwOracle("q30"))),

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
        val g = Gate(s, "q68")
        g.genLog(3000, epochs = 3)
        g.dumpDecoded(epochs = 3)
        val log01 = g.splitLog("log01", 0, 1); val log2 = g.splitLog("log2", 2)
        import graft.lake.Branch
        Replay.replayLog(s, log01, g.table, buckets = 8)
        val mainV = IceLite.load(g.table).version
        val preBranch = IceLite.read(s, IceLite.load(g.table)).count()
        val bdir = Branch.fork(g.table, "ingest")
        Replay.replayLog(s, log2, bdir, buckets = 8)
        // audit: the branch carries epoch 2, main is untouched
        require(IceLite.load(g.table).version == mainV,
          "main must not advance while the branch ingests")
        require(IceLite.read(s, IceLite.load(g.table)).count() == preBranch,
          "main must not see branch rows before publish")
        require(Branch.aheadBy(g.table, "ingest") >= 1, "branch made no commits?")
        val published = Branch.publish(g.table, "ingest")
        putMetric("q68", "published_versions", published.toDouble)
        Branch.discard(g.table, "ingest")
        g.finalState()
      },
      Some(lwwOracle("q68"))),

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
        Gate.finalRows(IceLite.read(s, IceLite.load(tableDir)))
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
        Gate.finalRows(IceLite.read(s, IceLite.load(tableDir)))
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
        val g = Gate(s, "q71")
        g.genLog(3000, epochs = 3)
        g.dumpDecoded(epochs = 3)
        val log01 = g.splitLog("log01", 0, 1); val log2 = g.splitLog("log2", 2)
        import graft.lake.{Audit, Branch, Dml}
        Replay.replayLog(s, log01, g.table, buckets = 8)
        val mainV = IceLite.load(g.table).version
        val contract = Seq(
          Audit.NotNull(Seq("repo", "path", "content")),
          Audit.Unique(Seq("repo", "path")),
          Audit.Check("commit_set", "length(commit) > 0"),
          Audit.RowCount(min = 1))
        // bad branch: a poisoning DML nulls content — audit must block it
        val bad = Branch.fork(g.table, "bad")
        Dml.updateWhere(s, bad, "lang = 'md'", Seq("content" -> "NULL"), "poison")
        val (badReport, badPublished) = Audit.auditAndPublish(s, g.table, "bad", contract)
        require(!badPublished && !badReport.passed, s"poisoned branch must fail audit: $badReport")
        require(IceLite.load(g.table).version == mainV, "failed audit must not publish")
        putMetric("q71", "bad_violations",
          badReport.violations.map(_.violations).sum.toDouble)
        Branch.discard(g.table, "bad", force = true)
        // good branch: epoch 2 passes the same contract and publishes
        val good = Branch.fork(g.table, "good")
        Replay.replayLog(s, log2, good, buckets = 8)
        val (goodReport, goodPublished) = Audit.auditAndPublish(s, g.table, "good", contract)
        require(goodPublished && goodReport.passed, s"clean branch must publish: $goodReport")
        putMetric("q71", "good_rows", goodReport.rows.toDouble)
        g.finalState()
      },
      Some(lwwOracle("q71"))),

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
        val g = Gate(s, "q72")
        def fid(n: Long) = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("graft.fieldId", n).build()
        IceLite.create(g.table, IceLite.withCdcCols(Vector(
          IceLite.ColDef(1, "event_id", "BIGINT"), IceLite.ColDef(2, "user_id", "BIGINT"),
          IceLite.ColDef(3, "event_type", "STRING"), IceLite.ColDef(4, "value", "DOUBLE"))),
          Vector("event_id"), buckets = 8)
        val ev = s.read.parquet(s"$dir/events.parquet")
          .select(col("event_id").as("event_id", fid(1)),
            col("user_id").as("user_id", fid(2)),
            col("event_type").as("event_type", fid(3)),
            col("value").as("value", fid(4)),
            col("event_id").as("seq"), lit("UPSERT").as("op"))
        graft.lake.Merge.mergeEpoch(s, g.table, ev, "seq", "op", "load-0")
        graft.lake.Compaction.compact(s, g.table, "z-0",
          zorderBy = Seq("user_id", "value"), filesPerBucket = 8)
        val snap = IceLite.load(g.table)
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
        val g = Gate(s, "q73")
        g.genLog(3000, epochs = 3)
        g.dumpDecoded(epochs = 3)
        Replay.replayLog(s, g.log, g.table, buckets = 8) // v1..v3
        val headRows = IceLite.read(s, IceLite.load(g.table)).count()
        val v2Rows = IceLite.read(s, IceLite.loadVersion(g.table, 2)).count()
        val rb = IceLite.rollback(g.table, 2)
        require(rb.version == 4, s"rollback must commit a NEW version, got v${rb.version}")
        require(IceLite.read(s, IceLite.load(g.table)).count() == v2Rows,
          "rolled-back head must equal the v2 state")
        // remediation replay: fence 0-1, re-apply 2
        val re = Replay.replayLog(s, g.log, g.table, buckets = 8)
        require(re.stats.count(_.applied) == 1,
          s"re-replay must apply exactly the un-happened epoch: ${re.stats.map(st => st.epochId -> st.applied)}")
        putMetric("q73", "reapplied_epochs", re.stats.count(_.applied).toDouble)
        require(IceLite.read(s, IceLite.load(g.table)).count() == headRows,
          "remediated head must equal the pre-rollback state")
        g.finalState()
      },
      Some(lwwOracle("q73"))),

    OpQuery("q74_meta_tables",
      // METADATA INSPECTION TABLES (rows-only check — file layout is
      // parallelism-dependent, so no cross-engine oracle): replay a seeded
      // log, then answer "table health" questions from snapshot metadata
      // alone — per-version file/epoch counts via MetaTables.history (no
      // manifest or data reads), internally cross-checked against the
      // loaded snapshot.
      (s, _) => {
        val g = Gate(s, "q74")
        g.genLog(2000, epochs = 2)
        Replay.replayLog(s, g.log, g.table, buckets = 8)
        val snap = IceLite.load(g.table)
        val hist = graft.lake.MetaTables.history(s, g.table)
        val headFiles = hist.orderBy(col("version").desc)
          .select("files").head().getLong(0)
        require(headFiles == snap.files.size.toLong,
          s"history's manifest-derived file count ($headFiles) must match the loaded snapshot (${snap.files.size})")
        require(graft.lake.MetaTables.files(s, g.table).count() == snap.files.size.toLong,
          "files table must enumerate every live file")
        hist.orderBy("version")
      },
      None),

    OpQuery("q83_replication",
      // LOGICAL REPLICATION under the hard gate: seed a replica from the
      // source's v1 snapshot (every live row at its original sequence,
      // read AS OF — not the head), then converge it by shipping each
      // later version's change feed as one fenced epoch. Replication is
      // logical, so the replica uses a DIFFERENT bucket count; re-shipping
      // a version must fence. Hard-asserts replica ≡ source row-for-row,
      // then both are checked against the decoded-dump fold.
      (s, _) => {
        val g = Gate(s, "q83")
        val aDir = s"${g.root}/source"
        val bDir = s"${g.root}/replica"
        g.clock("gen") { g.genLog(3000, epochs = 3) }
        g.clock("decode_dump") { g.dumpDecoded() }
        g.clock("replay_source") { Replay.replayLog(s, g.log, aDir, buckets = 8) }
        // seed: the source AS OF v1, every live row at its original seq
        g.clock("bootstrap_replica") {
          val v1 = IceLite.loadVersion(aDir, 1)
          val snap = IceLite.read(s, v1, includeHidden = true)
            .filter(!coalesce(col(IceLite.DelCol.name), lit(false)))
            .drop(IceLite.DelCol.name)
          Replay.bootstrap(s, snap, IceLite.SeqCol.name, bDir, buckets = 4)
        }
        // converge: ship v2 and v3's change feeds
        (2 to 3).foreach { v =>
          val st = g.clock(s"ship_v$v") {
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
        val a = g.state(aDir)
        val b = g.state(bDir)
        require(b.exceptAll(a).isEmpty && a.exceptAll(b).isEmpty,
          "replica must equal the source row-for-row")
        b.orderBy("repo", "path")
      },
      Some(lwwOracle("q83"))),

    OpQuery("q46_time_travel",
      // SNAPSHOT TIME TRAVEL under the hard gate: replay 3 epochs, then
      // read the table AS OF the snapshot after epoch 1 (version 2 — v0 is
      // create). The oracle folds ONLY epochs 0-1 of the decoded log, so a
      // version read that leaks later files (or prunes an older one)
      // breaks equality. Exercises loadVersion + per-version manifest
      // resolution + merge-on-read LWW over the historical file set.
      (s, _) => {
        val g = Gate(s, "q46")
        g.genLog(3000, epochs = 3)
        g.dumpDecoded(epochs = 3)
        Replay.replayLog(s, g.log, g.table, buckets = 8)
        g.finalState(IceLite.loadVersion(g.table, 2))
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
        val g = Gate(s, "q50")
        g.genLog(3000, epochs = 3)
        g.dumpDecoded(epochs = 3)
        // split the log so the DDL lands mid-history: epochs 0-1, DDL, epoch 2
        val log01 = g.splitLog("log01", 0, 1); val log2 = g.splitLog("log2", 2)
        Replay.replayLog(s, log01, g.table, buckets = 8) // snapshots v1, v2
        val preDrop = IceLite.load(g.table).version
        IceLite.dropColumn(g.table, "ddl-0", "lang") // v3: lang retired
        Replay.replayLog(s, log2, g.table, buckets = 8) // v4: must not resurrect lang
        val cur = IceLite.read(s, IceLite.load(g.table))
        require(!cur.columns.contains("lang"),
          "dropColumn must remove lang from the current projection")
        val curHalf = cur.select(lit("cur").as("as_of"),
          col("repo"), col("path"), col("commit"),
          lit(null).cast("string").as("lang"),
          sha2(col("content"), 256).as("content_sha"), col("author"))
        val asofHalf = IceLite.read(s, IceLite.loadVersion(g.table, preDrop))
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
        val g = Gate(s, "q62")
        g.genLog(3000, epochs = 3)
        g.dumpDecoded(epochs = 3)
        val log01 = g.splitLog("log01", 0, 1); val log2 = g.splitLog("log2", 2)
        Replay.replayLog(s, log01, g.table, buckets = 8)
        val preRename = IceLite.load(g.table).version
        IceLite.renameColumn(g.table, "ddl-rn", "author", "author_name")
        Replay.replayLog(s, log2, g.table, buckets = 8) // old descriptors say `author`
        val cur = IceLite.read(s, IceLite.load(g.table))
        require(cur.columns.contains("author_name") && !cur.columns.contains("author"),
          "rename must hold after old-descriptor epochs (pinned id)")
        val curHalf = cur.select(lit("cur").as("as_of"),
          col("repo"), col("path"), col("commit"),
          sha2(col("content"), 256).as("content_sha"),
          col("author_name"))
        val oldSnap = IceLite.read(s, IceLite.loadVersion(g.table, preRename))
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
        val g = Gate(s, "q42")
        g.clock("gen") { g.genLog(3000, epochs = 2) }
        g.clock("decode_dump") { g.dumpDecoded() }
        g.clock("replay") { Replay.replayLog(s, g.log, g.table, buckets = 8) }
        val snap = IceLite.load(g.table)
        // the probe set: the 20 smallest live keys (the oracle derives the
        // same set from the dump, so it is data-deterministic on both sides)
        val keys = g.clock("key_list") {
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
        val result = g.clock("lookups") {
          var schema: org.apache.spark.sql.types.StructType = null
          val sha = java.security.MessageDigest.getInstance("SHA-256")
          val rows = keys.toSeq.flatMap { case (r, p) =>
            val t0 = System.nanoTime()
            val df = IceLite.lookup(s, snap, Map("repo" -> r, "path" -> p))
              .select(Gate.stateCols: _*)
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
        val g = Gate(s, "q61")
        g.clock("gen") { g.genLog(6000, epochs = 5) }
        g.clock("decode_dump") { g.dumpDecoded() }
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
          g.clock("replay") { Replay.replayLog(s, g.log, g.table, buckets = 8,
            deltaThreshold = 1000) }
        }
        val snap = IceLite.load(g.table)
        val deltas = snap.files.filter(_.delta)
        require(deltas.length >= 5 * 8,
          s"fixture must be delta-heavy (got ${deltas.length} delta files)")
        require(deltas.forall(_.bloom.isDefined), "delta files must carry blooms")
        val noBloom = snap.copy(files = snap.files.map(_.copy(bloom = None)))

        val keyPool = g.clock("key_list") {
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
        val result = g.clock("lookups") {
          var schema: org.apache.spark.sql.types.StructType = null
          val sha = java.security.MessageDigest.getInstance("SHA-256")
          val rows = keys.toSeq.flatMap { case (r, p) =>
            val key = Map[String, Any]("repo" -> r, "path" -> p)
            candWith += IceLite.lookupFiles(snap, key).length
            candWithout += IceLite.lookupFiles(noBloom, key).length
            val t0 = System.nanoTime()
            val loc = IceLite.lookupLocal(snap, key)
            localLat += (System.nanoTime() - t0) / 1e6
            val df = IceLite.lookup(s, snap, key).select(Gate.stateCols: _*)
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
        g.clock("absent_probes") {
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
        val g = Gate(s, "q64")
        g.clock("gen") { g.genLog(3000, epochs = 3) }
        g.clock("decode_dump") { g.dumpDecoded(epochs = 3) }
        val log01 = g.splitLog("log01", 0, 1); val log2 = g.splitLog("log2", 2)
        g.clock("replay01") { Replay.replayLog(s, log01, g.table, buckets = 8) }
        g.clock("index_backfill") {
          IceLite.addBloomIndex(s, g.table, "idx-commit", "commit")
        }
        g.clock("replay2") { Replay.replayLog(s, log2, g.table, buckets = 8) }
        val snap = IceLite.load(g.table)
        require(snap.indexedCols == Set("commit"),
          "index must survive the epoch-2 merge")
        val (probeA, probeB) = g.clock("pick_probes") {
          val fin = IceLite.read(s, snap)
          val a = fin.agg(min("commit")).as[String].head()
          val intro2 = s.read.parquet(g.decoded)
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
        Gate.finalRows(Seq(probeA, probeB).distinct
          .map(v => IceLite.readWhere(s, snap, "commit", v))
          .reduce(_.unionByName(_)))
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
        val g = Gate(s, "q66")
        g.clock("gen") { g.genLog(3000, epochs = 3) }
        g.clock("decode_dump") { g.dumpDecoded() }
        val log01 = g.splitLog("log01", 0, 1); val log2 = g.splitLog("log2", 2)
        g.clock("replay01") { Replay.replayLog(s, log01, g.table, buckets = 8) }
        g.clock("cluster") {
          graft.lake.Compaction.compact(s, g.table, "q66-cluster",
            clusterBy = Some("commit"), filesPerBucket = 4)
        }
        g.clock("replay2") { Replay.replayLog(s, log2, g.table, buckets = 8) }
        val snap = IceLite.load(g.table)
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
        Gate.finalRows(IceLite.readRange(s, snap, "commit", "2", "5"))
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q66")}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' AND "commit" >= '2' AND "commit" <= '5'
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
        val g = Gate(s, "q86")
        g.clock("gen") {
          g.genLog(3000, epochs = 3, _.copy(nRepos = 30, pathsPerRepo = 20, deleteEvery = 20))
        }
        g.clock("decode_dump") { g.dumpDecoded() }
        g.clock("replay") { Replay.replayLog(s, g.log, g.table, buckets = 8) }
        val recorded = g.clock("record") { graft.lake.Scrub.record(s, g.table) }
        require(graft.lake.Scrub.verify(s, g.table).isEmpty, "fresh table must scrub clean")
        val victim = IceLite.load(g.table).files.filter(_.rows > 0).maxBy(_.rows)
        g.clock("corrupt") {
          val raf = new java.io.RandomAccessFile(victim.path, "rw")
          try { raf.seek(raf.length() / 2); raf.write(Array.fill[Byte](64)(0x5a)) }
          finally raf.close()
          val t = java.nio.file.Paths.get(victim.path)
          java.nio.file.Files.deleteIfExists(
            t.resolveSibling("." + t.getFileName.toString + ".crc"))
        }
        val found = g.clock("detect") { graft.lake.Scrub.verify(s, g.table) }
        require(found == Vector(victim.path),
          s"scrub must flag exactly the corrupted file, got $found")
        g.clock("repair") {
          graft.lake.Scrub.repairBucket(s, g.table, g.log, victim.bucket, "repair-0")
        }
        require(graft.lake.Scrub.verify(s, g.table).isEmpty, "post-repair scrub must be clean")
        require(!IceLite.load(g.table).files.exists(_.path == victim.path),
          "damaged file must leave the head snapshot")
        putMetric("q86", "files_recorded", recorded.toDouble)
        putMetric("q86", "repaired_bucket", victim.bucket.toDouble)
        g.finalState()
      },
      Some(lwwOracle("q86"))),

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
        val g = Gate(s, "q89")
        g.clock("gen") { g.genLog(3000, epochs = 2, _.copy(nRepos = 30, pathsPerRepo = 20)) }
        g.clock("replay") { Replay.replayLog(s, g.log, g.table, buckets = 8) }
        g.clock("melt_dump") {
          graft.lake.Analyze.melt(s, g.table)
            .write.mode("overwrite").parquet(s"${g.root}/melt")
        }
        val stats = g.clock("analyze") { graft.lake.Analyze.analyze(s, g.table, k = 64) }
        val byCol = stats.collect().map(r => r.getString(0) -> r).toMap
        Seq("repo", "lang").foreach(c =>
          require(byCol(c).isNullAt(4), s"$c must saturate the k=64 sketch"))
        require(!byCol("commit").isNullAt(4), "commit must estimate through the sketch")
        require(graft.lake.Analyze.ndv(g.table).size == byCol.size,
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
        val g = Gate(s, "q90")
        val primary = s"${g.root}/primary"
        val replica = s"${g.root}/replica"
        g.clock("gen") {
          g.genLog(3000, epochs = 3, _.copy(nRepos = 30, pathsPerRepo = 20, deleteEvery = 20))
        }
        g.clock("decode_dump") { g.dumpDecoded() }
        g.clock("replay_primary") { Replay.replayLog(s, g.log, primary, buckets = 8) }
        // DR rebuild path: the compacted log alone reproduces the state
        val cst = g.clock("compact_log") {
          graft.cdc.LogCompact.compactLog(s, g.log, s"${g.root}/log.c")
        }
        g.clock("replay_replica") { Replay.replayLog(s, s"${g.root}/log.c", replica, buckets = 4) }
        g.clock("dr_equal") {
          require(g.state(primary).exceptAll(g.state(replica)).isEmpty &&
            g.state(replica).exceptAll(g.state(primary)).isEmpty,
            "replica rebuilt from the compacted log must equal the primary")
        }
        // coordinated erasure: same victim rule as q85
        val (vRepo, vPath) = g.clock("pick_victim") { g.hottestLiveKeys(1).head }
        val key = Map[String, Any]("repo" -> vRepo, "path" -> vPath)
        g.clock("purge_both") {
          Seq(primary, replica).foreach { d =>
            val st = graft.lake.Purge.purgeKey(s, d, key)
            require(st.rowsPurged > 0, s"purge found nothing in $d")
            require(IceLite.lookupLocal(IceLite.load(d), key).isEmpty,
              s"$d still serves the purged key")
          }
        }
        g.clock("scrub_both") {
          Seq(primary, replica).foreach { d =>
            graft.lake.Scrub.record(s, d)
            require(graft.lake.Scrub.verify(s, d).isEmpty, s"$d must scrub clean")
          }
        }
        val stats = g.clock("analyze") { graft.lake.Analyze.analyze(s, primary) }
        val nRows = stats.filter(col("col_name") === "repo").head().getLong(1)
        putMetric("q90", "compaction_ratio", cst.eventsIn.toDouble / cst.eventsOut)
        putMetric("q90", "final_rows", nRows.toDouble)
        g.state(primary).orderBy("repo", "path")
      },
      Some(s"""WITH d AS (SELECT * FROM parquet_scan('${workDir("q90")}/decoded/*.parquet')),
        fold AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
                 FROM d) t WHERE rn = 1 AND op <> 'DELETE'),
        vic AS (SELECT d.repo, d.path FROM d JOIN fold f ON d.repo = f.repo AND d.path = f.path
                GROUP BY d.repo, d.path ORDER BY count(*) DESC, d.repo, d.path LIMIT 1)
        SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM fold WHERE NOT EXISTS (SELECT 1 FROM vic WHERE vic.repo = fold.repo AND vic.path = fold.path)
        ORDER BY repo, path""")),

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
        val g = Gate(s, "q96")
        g.clock("gen") {
          g.genLog(4000, epochs = 3, _.copy(nRepos = 30, pathsPerRepo = 20, deleteEvery = 15))
        }
        g.clock("decode_dump") { // the FULL log, before the tail is split off
          g.dumpDecoded()
        }
        // epoch 2 becomes "the future of the stream": its own tail dir
        val logTail = g.splitLog("logtail", 2)
        g.clock("replay_pre") { Replay.replayLog(s, g.log, g.table, buckets = 8) }
        require(IceLite.load(g.table).buckets == 8, "table must start at 8 buckets")
        g.clock("rebucket") {
          graft.lake.Compaction.rebucket(s, g.table, newBuckets = 16,
            epochId = "rebucket-1")
        }
        require(IceLite.load(g.table).buckets == 16, "rebucket must evolve the layout")
        g.clock("replay_tail") { Replay.replayLog(s, logTail, g.table, buckets = 8) }
        // lookups through the evolved layout, against the oracle-side fold
        val dec = s.read.parquet(g.decoded)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("repo", "path").orderBy(col("seq").desc)
        val newest = dec.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        val snap = IceLite.load(g.table)
        g.clock("lookups") {
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
        g.finalState(snap)
      },
      Some(lwwOracle("q96"))),

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
        val g = Gate(s, "q110")
        g.clock("gen") {
          g.genLog(6000, epochs = 3, _.copy(v1Fraction = 0.5))
          // stash the tail epoch: the DDL + DML land mid-history
          java.nio.file.Files.move(
            java.nio.file.Paths.get(s"${g.root}/log/epoch=2"),
            java.nio.file.Paths.get(s"${g.root}/tail-epoch=2"))
        }
        g.clock("decode_dump") { g.dumpDecoded(g.logs(g.log, s"${g.root}/tail-epoch=2")) }
        g.clock("replay_head") { Replay.replayLog(s, g.log, g.table, buckets = 8) }
        val preV = IceLite.load(g.table).version
        g.clock("ddl_dml") {
          IceLite.addColumn(g.table, "ddl-tier", "tier", "STRING", fieldId = 20,
            default = Some("bronze"))
          // AS OF the pre-DDL version the column must not exist
          require(!IceLite.loadVersion(g.table, preV).currentSchema.exists(_.name == "tier"),
            "time travel must read the pre-DDL schema")
          val cut = IceLite.load(g.table).maxSeq + 1 // the DML's sequence
          Seq(cut).toDF("s").coalesce(1)
            .write.mode("overwrite").parquet(s"${g.root}/cut")
          graft.lake.Dml.updateWhere(s, g.table, "lang = 'scala'",
            Seq("tier" -> "'gold'"), "dml-gold")
        }
        g.clock("replay_tail") {
          java.nio.file.Files.move(
            java.nio.file.Paths.get(s"${g.root}/tail-epoch=2"),
            java.nio.file.Paths.get(s"${g.root}/log/epoch=2"))
          val applied = Replay.replayLog(s, g.log, g.table, buckets = 8)
            .stats.count(_.applied)
          require(applied == 1, s"tail replay must apply exactly epoch 2, applied $applied")
        }
        val out = IceLite.read(s, IceLite.load(g.table))
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
        val g = Gate(s, "q112")
        val pDel = LogGen.Params(nEvents = 3000, nRepos = 40, pathsPerRepo = 30,
          deleteEvery = 25)
        val pClean = pDel.copy(deleteEvery = 0) // epoch 2 delete-free: the
        // maintenance pass can purge EVERY tombstone (watermark = tag cut)
        def gen(lo: Long, hi: Long, p: LogGen.Params, epoch: Long) =
          Gate.encodedEvents(s, lo, hi, 8) { id =>
            val c = LogGen.rawChange(id, p)
            Gate.encode(c, 4, if (c.op == "DELETE") 0L else 4000000000L + c.content.length)
          }.toDF().withColumn("epoch", lit(epoch))
        g.clock("gen") {
          gen(0, 1500, pDel, 0).unionByName(gen(1500, 3000, pDel, 1))
            .write.partitionBy("epoch").mode("overwrite").parquet(s"${g.root}/logpre")
          gen(3000, 4500, pClean, 2)
            .write.partitionBy("epoch").mode("overwrite").parquet(s"${g.root}/logtail")
        }
        g.clock("decode_dump") {
          g.dumpDecoded(g.logs(s"${g.root}/logpre", s"${g.root}/logtail"), epochs = 3,
            registry = Cdc.registryV4)
        }
        g.clock("replay_head") {
          Replay.replayLog(s, s"${g.root}/logpre", g.table, buckets = 8,
            baseRegistry = Some(Cdc.registryV4))
        }
        val tagV = IceLite.load(g.table).version
        IceLite.tag(g.table, "model-cut", tagV)
        IceLite.tag(g.table, "model-cut", tagV) // same-version re-tag: no-op
        require(IceLite.tagVersion(g.table, "model-cut").contains(tagV),
          "tag must resolve to the pinned version")
        g.clock("replay_tail") {
          Replay.replayLog(s, s"${g.root}/logtail", g.table, buckets = 8,
            baseRegistry = Some(Cdc.registryV4))
        }
        // the epoch snapshot has delta files: metadata must refuse, not guess
        require(graft.lake.MetaAgg.liveCount(IceLite.load(g.table)).isEmpty,
          "a snapshot with delta files must not answer count from metadata")
        g.clock("maintain") {
          graft.lake.Compaction.expire(g.table, keepLast = 1)
          require(IceLite.history(g.table).head == tagV,
            s"the tagged version is the retention root: ${IceLite.history(g.table)}")
          graft.lake.Compaction.compact(s, g.table, "maint")
          graft.lake.Compaction.expire(g.table, keepLast = 1)
          graft.lake.Compaction.vacuum(g.table, olderThanMs = 0)
        }
        val head = IceLite.load(g.table)
        require(IceLite.history(g.table) == Vector(tagV, head.version),
          s"exactly {tag, head} retained: ${IceLite.history(g.table)}")
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
        IceLite.read(s, IceLite.loadTag(g.table, "model-cut"))
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
        val g = Gate(s, "q115")
        g.clock("gen") { g.genLog(4500, epochs = 3) }
        g.clock("decode_dump") { g.dumpDecoded() }
        import graft.cdc.LogGc
        import LogGc.Consumer
        g.clock("replay_consumers") {
          // B lags one epoch behind A
          java.nio.file.Files.move(
            java.nio.file.Paths.get(g.log, "epoch=2"),
            java.nio.file.Paths.get(s"${g.root}/stash-epoch=2"))
          Replay.replayLog(s, g.log, s"${g.root}/b", buckets = 8)
          java.nio.file.Files.move(
            java.nio.file.Paths.get(s"${g.root}/stash-epoch=2"),
            java.nio.file.Paths.get(g.log, "epoch=2"))
          Replay.replayLog(s, g.log, s"${g.root}/a", buckets = 8)
        }
        val consumers = Seq(Consumer(s"${g.root}/a"), Consumer(s"${g.root}/b"))
        require(LogGc.safeTruncationPoint(Seq(Consumer(s"${g.root}/a"))) == 2L)
        val st = g.clock("truncate") { LogGc.truncate(g.log, consumers) }
        require(st.safePoint == 1L && st.removedEpochs == Seq(0L, 1L),
          s"min(A=2, B=1) = 1 must bound the truncation: $st")
        require(LogGc.epochs(g.log) == Seq(2L), "only the unconsumed tail survives")
        g.clock("resume_b") { Replay.replayLog(s, g.log, s"${g.root}/b", buckets = 8) }
        // NEW consumer: the truncated log is not enough (gapped ledger
        // pins the point), bootstrap + tail is
        g.clock("onboard_c") {
          val aSnap = IceLite.load(s"${g.root}/a")
          val snapshot = IceLite.read(s, aSnap, includeHidden = true)
            .filter(!coalesce(col(IceLite.DelCol.name), lit(false)))
            .select(col("repo"), col("path"), col("commit"), col("lang"),
              col("content"), col("author"), col(IceLite.SeqCol.name).as("seq"))
          Replay.bootstrap(s, snapshot, "seq", s"${g.root}/c", buckets = 8)
          Replay.replayLog(s, g.log, s"${g.root}/c", buckets = 8)
          require(LogGc.safeTruncationPoint(Seq(Consumer(s"${g.root}/c"))) == -1L,
            "a gapped ledger must never advance the safe point")
        }
        val Seq(a, b, c) = Seq("a", "b", "c").map(t => g.state(s"${g.root}/$t"))
        require(b.except(a).isEmpty && a.except(b).isEmpty, "resumed B must converge to A")
        require(c.except(a).isEmpty && a.except(c).isEmpty, "bootstrapped C must converge to A")
        putMetric("q115", "removed_files", st.removedFiles.toDouble)
        b.orderBy("repo", "path")
      },
      Some(lwwOracle("q115"))),

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
        val g = Gate(s, "q116")
        g.clock("gen") { g.genLog(4000, epochs = 3) }
        g.clock("decode_dump") { g.dumpDecoded(epochs = 3) }
        g.clock("replay") {
          // epoch 2 lands after a real wall-clock gap, so the timestamp
          // cut between the commits is unambiguous
          java.nio.file.Files.move(
            java.nio.file.Paths.get(g.log, "epoch=2"),
            java.nio.file.Paths.get(s"${g.root}/stash-epoch=2"))
          Replay.replayLog(s, g.log, g.table, buckets = 8)
          Thread.sleep(40)
          java.nio.file.Files.move(
            java.nio.file.Paths.get(s"${g.root}/stash-epoch=2"),
            java.nio.file.Paths.get(g.log, "epoch=2"))
          Replay.replayLog(s, g.log, g.table, buckets = 8)
        }
        val head = IceLite.load(g.table)
        val vCut = head.version - 1 // the snapshot after epoch 1
        val tCut = IceLite.commitTimeOf(g.table, vCut)
        val tHead = IceLite.commitTimeOf(g.table, head.version)
        require(tHead > tCut, s"monotone commit times: $tCut vs $tHead")
        // strictly-between cut resolves to the earlier snapshot;
        // exactly-at-commit is inclusive; "now" is the head; pre-create
        // refuses
        val asOf = IceLite.loadAsOf(g.table, (tCut + tHead) / 2)
        require(asOf.version == vCut, s"mid-gap cut must resolve to v$vCut, got ${asOf.version}")
        require(IceLite.loadAsOf(g.table, tCut).version == vCut, "at-commit is inclusive")
        require(IceLite.loadAsOf(g.table, System.currentTimeMillis() + 1000)
          .version == head.version, "a future cut is the head")
        val preCreate =
          try { IceLite.loadAsOf(g.table, IceLite.commitTimeOf(g.table, 0) - 10); false }
          catch { case _: IllegalArgumentException => true }
        require(preCreate, "a pre-create cut must refuse")
        putMetric("q116", "cut_gap_ms", (tHead - tCut).toDouble)
        g.finalState(asOf)
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q116")}/decoded/*.parquet') WHERE epoch <= 1) t
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
        val g = Gate(s, "q118")
        g.clock("replay") { replayFinalState(s, nEvents = 5000, tag = "q118",
          dumpDecodedLog = true) }
        val sourceDf = g.clock("source") {
          val live = IceLite.read(s, IceLite.load(g.table))
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
          src.write.mode("overwrite").parquet(s"${g.root}/source")
          s.read.parquet(s"${g.root}/source")
        }
        val st = g.clock("merge") {
          Dml.mergeInto(s, g.table, sourceDf,
            matchedDelete = Some("s.del"),
            matchedSet = Seq("content" -> "s.content",
              "author" -> "concat(s.author, ':', t.lang)"),
            insertNotMatched = true, epochId = "merge-0")
        }
        require(st.inserted == 300, s"300 unmatched source rows insert, got ${st.inserted}")
        require(st.updated > 0 && st.deleted > 0, s"fixture must exercise all three clauses: $st")
        // replaying the same epoch fences as a no-op, like any CDC epoch
        require(!Dml.mergeInto(s, g.table, sourceDf, Some("s.del"),
          Seq("content" -> "s.content"), insertNotMatched = true,
          epochId = "merge-0").merge.applied, "replayed MERGE epoch must fence")
        // duplicate source keys are the classic MERGE ambiguity — refuse
        val dupRefused =
          try { Dml.mergeInto(s, g.table, sourceDf.unionByName(sourceDf.limit(1)),
            None, Seq("content" -> "s.content"), insertNotMatched = false, "merge-1"); false }
          catch { case _: IllegalArgumentException => true }
        require(dupRefused, "duplicate source keys must refuse")
        putMetric("q118", "updated", st.updated.toDouble)
        putMetric("q118", "deleted", st.deleted.toDouble)
        g.finalState()
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
        val g = Gate(s, "q120")
        g.clock("replay") { replayFinalState(s, nEvents = 5000, tag = "q120",
          dumpDecodedLog = true) }
        val scope = "repo LIKE 'org01%'" // org010-org019 + the sync repo
        val sourceDf = g.clock("source") {
          val live = IceLite.read(s, IceLite.load(g.table))
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
          src.write.mode("overwrite").parquet(s"${g.root}/source")
          s.read.parquet(s"${g.root}/source")
        }
        val st = g.clock("merge") {
          Dml.mergeInto(s, g.table, sourceDf,
            matchedDelete = None,
            matchedSet = Seq("content" -> "s.content"),
            insertNotMatched = true, epochId = "sync-0",
            notMatchedBySourceDelete = Some(scope))
        }
        require(st.inserted == 120 && st.updated > 0 && st.deletedBySource > 0,
          s"fixture must exercise update + insert + by-source delete: $st")
        require(st.deleted == 0, s"no matched-delete clause was given: $st")
        // the clause partition is exact: in-scope live keys == source keys
        val inScope = IceLite.read(s, IceLite.load(g.table)).filter(expr(scope))
        require(inScope.count() == sourceDf.count(),
          "inside the scope the table mirrors the source exactly")
        putMetric("q120", "deleted_by_source", st.deletedBySource.toDouble)
        g.finalState()
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
        val g = Gate(s, "q119")
        g.clock("gen") { g.genLog(4000, epochs = 3) }
        g.clock("decode_dump") { g.dumpDecoded(epochs = 3) }
        g.clock("replay") {
          // epoch-at-a-time with real wall-clock gaps between commits
          (2 to 1 by -1).foreach { e =>
            java.nio.file.Files.move(
              java.nio.file.Paths.get(g.log, s"epoch=$e"),
              java.nio.file.Paths.get(s"${g.root}/stash-epoch=$e"))
          }
          Replay.replayLog(s, g.log, g.table, buckets = 8)
          (1 to 2).foreach { e =>
            Thread.sleep(40)
            java.nio.file.Files.move(
              java.nio.file.Paths.get(s"${g.root}/stash-epoch=$e"),
              java.nio.file.Paths.get(g.log, s"epoch=$e"))
            Replay.replayLog(s, g.log, g.table, buckets = 8)
          }
        }
        val Seq(t1, t2, t3) = (1 to 3).map(IceLite.commitTimeOf(g.table, _))
        require(t1 < t2 && t2 + 1 < t3, s"separated commit times: $t1 $t2 $t3")
        IceLite.tag(g.table, "audit", 1) // epoch-0 state pinned forever
        // the wall-clock change feed: the window (after-epoch-1, now]
        // carries exactly epoch 2's change rows
        val feed = IceLite.changesBetween(s, g.table,
            fromTsMs = (t2 + t3) / 2, toTsMs = System.currentTimeMillis())
          .select(Gate.stateCols ++ Seq(col(IceLite.SeqCol.name).as("seq"),
            col(IceLite.DelCol.name).as("is_delete")): _*)
          .orderBy("seq").localCheckpoint()
        g.clock("expire_vacuum") {
          // a full maintenance compaction (v4) absorbs every delta file, so
          // the replay epochs' deltas become exclusive to the pre-compaction
          // versions AT ANY PARALLELISM — the earlier formulation relied on
          // the inline per-bucket COW threshold tripping during epoch 2,
          // which a low-shuffle-partition session (fewer delta files per
          // bucket) never reaches, leaving vacuum nothing to reclaim
          Thread.sleep(5) // t4 strictly after t3 on the ms commit-time axis
          Compaction.compact(s, g.table, "maint-q119")
          val t4 = IceLite.commitTimeOf(g.table, 4)
          require(t3 < t4, s"separated compaction commit time: $t3 $t4")
          val dropped = Compaction.expireOlderThan(g.table, t4, keepLast = 1)
          require(dropped == 3, s"v0, v2, v3 drop; tagged v1 survives: dropped $dropped")
          require(IceLite.history(g.table) == Vector(1, 4),
            s"retained ${IceLite.history(g.table)}")
          // a cut inside the dropped range falls back to the newest RETAINED
          // snapshot at or before it (the tag), and a cut before every
          // retained snapshot refuses — time travel there ended with expire
          require(IceLite.loadAsOf(g.table, (t1 + t2) / 2).version == 1)
          val preRetained =
            try { IceLite.loadAsOf(g.table, t1 - 1); false }
            catch { case _: IllegalArgumentException => true }
          require(preRetained, "pre-retention cut must refuse after expire")
          require(Compaction.vacuum(g.table, 0) > 0,
            "the dropped versions had exclusive files for vacuum to reclaim")
        }
        // the tagged epoch-0 state survives expire+vacuum byte-exact
        val tagRead = IceLite.read(s, IceLite.loadTag(g.table, "audit"))
          .select("repo", "path", "content")
        val tagOracle = s.read.parquet(g.decoded).filter(col("epoch") === 0)
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
        val g = Gate(s, "q143")
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
          Gate.encodedEvents(s, lo, hi, 8)(id => Gate.encode(mk(id), 2))
            .toDF().withColumn("epoch", lit(epoch))
        g.clock("gen") {
          gen(0, 1500, LogGen.rawChange(_, pBroad), 0)
            .unionByName(gen(1500, 3000, LogGen.rawChange(_, pBroad), 1))
            .write.partitionBy("epoch").mode("overwrite").parquet(s"${g.root}/logpre")
          gen(3000, 3200, narrowChange, 2)
            .write.partitionBy("epoch").mode("overwrite").parquet(s"${g.root}/logtail")
        }
        g.clock("replay_pre") { Replay.replayLog(s, s"${g.root}/logpre", g.table, buckets = 8) }
        // baseline sketch store: all 8 buckets at the post-epoch-1 snapshot
        g.clock("baseline_stats") {
          graft.lake.Analyze.refreshBuckets(s, g.table, (0 until 8).toSet, k = 64)
        }
        val vPre = IceLite.load(g.table).version
        g.clock("replay_tail") { Replay.replayLog(s, s"${g.root}/logtail", g.table, buckets = 8) }
        val touched = graft.lake.Analyze.touchedBuckets(
          g.table, vPre, IceLite.load(g.table).version)
        require(touched.nonEmpty && touched.size < 8,
          s"narrow epoch must touch a strict bucket subset, got $touched")
        putMetric("q143", "buckets_touched", touched.size.toDouble)
        putMetric("q143", "buckets_total", 8.0)
        g.clock("refresh") { graft.lake.Analyze.refreshBuckets(s, g.table, touched, k = 64) }
        val merged = g.clock("merge") { graft.lake.Analyze.mergedStats(s, g.table) }
        // bit-equality vs a from-scratch full analyze at the same k
        val full = graft.lake.Analyze.analyze(s, g.table, k = 64)
        def keyed(df: DataFrame) = df.collect().map { r =>
          (r.getString(0), r.getLong(1), r.getLong(2),
            java.lang.Double.doubleToLongBits(r.getDouble(3)),
            if (r.isNullAt(4)) None else Some(r.getLong(4)))
        }.toSeq
        require(keyed(merged) == keyed(full),
          "merged per-bucket sketches must equal the full analyze bit-for-bit")
        // oracle input: the head-state melt (col_name, hash, is_null)
        g.clock("melt_dump") {
          graft.lake.Analyze.melt(s, g.table)
            .write.mode("overwrite").parquet(s"${g.root}/melt")
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
        val g = Gate(s, "q144")
        val srcDir = s"${g.root}/src"
        val replDir = s"${g.root}/replica"
        val p = LogGen.Params(nEvents = 4000, nRepos = 40, pathsPerRepo = 30,
          deleteEvery = 25)
        def gen(lo: Long, hi: Long, epoch: Long) =
          Gate.encodedEvents(s, lo, hi, 8)(id => Gate.encode(LogGen.rawChange(id, p), 2))
            .toDF().withColumn("epoch", lit(epoch))
        g.clock("gen") {
          (0 until 4).foreach { e =>
            gen(e * 1000L, (e + 1) * 1000L, e)
              .write.partitionBy("epoch").mode("overwrite").parquet(s"${g.root}/log$e")
          }
        }
        g.clock("decode_dump") {
          g.dumpDecoded(g.logs((0 until 4).map(e => s"${g.root}/log$e"): _*), epochs = 4)
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
        g.clock("interleaved_bootstrap") {
          Replay.replayLog(s, s"${g.root}/log0", srcDir, buckets = 8)
          copyChunk(0, 0, 1)
          Replay.replayLog(s, s"${g.root}/log1", srcDir, buckets = 8)
          ship(chunkVersions(0), srcVersion)
          copyChunk(1, 2, 3)
          Replay.replayLog(s, s"${g.root}/log2", srcDir, buckets = 8)
          copyChunk(2, 4, 5)
          ship(2, srcVersion)
          Replay.replayLog(s, s"${g.root}/log3", srcDir, buckets = 8)
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
        val srcState = IceLite.read(s, headSnap).select(Gate.stateCols: _*)
        val replState = g.state(replDir)
        require(replState.except(srcState).isEmpty && srcState.except(replState).isEmpty,
          "replica must converge to the source head")
        replState.orderBy("repo", "path")
      },
      Some(lwwOracle("q144"))),

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
        val g = Gate(s, "q153")
        g.clock("gen") { g.genLog(4000, epochs = 3, _.copy(deleteEvery = 20)) }
        g.clock("decode_dump") { g.dumpDecoded(epochs = 3) }
        // the fixture NEEDS uneven per-bucket file accumulation (that is the
        // workload a maintenance advisor exists for): pin the merge's
        // per-task row target low so each epoch shards into several files
        // per bucket and the zipf key skew makes the counts uneven — the
        // scale-adaptive default would write one file per bucket per epoch
        // here and the advisor would have nothing to discriminate; 8
        // rows/task gives enough shards that zipf sparsity leaves some
        // shards empty (uneven per-bucket file counts)
        graft.Conf.withConf(s, "spark.graft.merge.targetRowsPerTask" -> "8") {
          g.clock("replay") { Replay.replayLog(s, g.log, g.table, buckets = 8) }
        }
        val snap = IceLite.load(g.table)
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
        g.clock("compact_advised") {
          Compaction.compact(s, g.table, "q153-maint", Some(advised))
        }
        val after = IceLite.load(g.table)
        require(after.files.filterNot(f => advised(f.bucket)).map(_.path).sorted
          == untouchedBefore,
          "un-advised buckets must keep their exact files (targeted maintenance)")
        require(Compaction.advise(after, maxFiles = threshold).isEmpty,
          "the advisor must report clean after the targeted pass")
        g.finalState(after)
      },
      Some(lwwOracle("q153"))),

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
        val g = Gate(s, "q151")
        val p = LogGen.Params(nEvents = 4000, nRepos = 40, pathsPerRepo = 30,
          deleteEvery = 20)
        def gen(lo: Long, hi: Long, epoch: Long) =
          Gate.encodedEvents(s, lo, hi, 8)(id => Gate.encode(LogGen.rawChange(id, p), 2))
            .toDF().withColumn("epoch", lit(epoch))
        g.clock("gen") {
          gen(0, 1500, 0).unionByName(gen(1500, 3000, 1))
            .write.partitionBy("epoch").mode("overwrite").parquet(s"${g.root}/logpre")
          gen(3000, 4000, 2)
            .write.partitionBy("epoch").mode("overwrite").parquet(s"${g.root}/logtail")
        }
        g.clock("decode_dump") {
          g.dumpDecoded(g.logs(s"${g.root}/logpre", s"${g.root}/logtail"))
        }
        import graft.lake.{AntiEntropy, Cdf}
        val leaves = 32
        g.clock("replay_pre") { Replay.replayLog(s, s"${g.root}/logpre", g.table, buckets = 8) }
        val vPre = IceLite.load(g.table).version
        val baseline = g.clock("digest_baseline") {
          AntiEntropy.leafDigests(s, g.table, leaves)
        }
        g.clock("replay_tail") { Replay.replayLog(s, s"${g.root}/logtail", g.table, buckets = 8) }
        val vHead = IceLite.load(g.table).version
        val ledger = g.clock("ledger") {
          Cdf.rowVersionLedger(s, g.table, vPre, vHead).localCheckpoint()
        }
        val folded = g.clock("fold") {
          AntiEntropy.applyVersionLedger(s, baseline, ledger,
            IceLite.load(g.table), leaves)
        }
        val recomputed = AntiEntropy.leafDigests(s, g.table, leaves)
        require(folded == recomputed,
          "incrementally folded digests must equal the full recompute bit-for-bit")
        val ledgerRows = ledger.count()
        val tableRows = recomputed.values.map(_._1).sum
        require(ledgerRows < tableRows,
          s"fold must be O(changes): $ledgerRows ledger rows vs $tableRows table rows")
        putMetric("q151", "ledger_rows", ledgerRows.toDouble)
        putMetric("q151", "table_rows", tableRows.toDouble)
        g.finalState()
      },
      Some(lwwOracle("q151"))),

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
        val g = Gate(s, "q148")
        val primary = s"${g.root}/primary"
        val replica = s"${g.root}/replica"
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
          Gate.encodedEvents(s, lo, hi, 8)(id => Gate.encode(mk(id), 2))
            .toDF().withColumn("epoch", lit(epoch))
        g.clock("gen") {
          gen(0, 2000, LogGen.rawChange(_, pBroad), 0)
            .unionByName(gen(2000, 4000, LogGen.rawChange(_, pBroad), 1))
            .unionByName(gen(4000, 4200, narrowChange, 2))
            .write.partitionBy("epoch").mode("overwrite").parquet(g.log)
        }
        g.clock("decode_dump") { g.dumpDecoded(epochs = 3) }
        g.clock("replay_primary") { Replay.replayLog(s, g.log, primary, buckets = 8) }
        g.clock("replica_with_gap") {
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
        val (dp, dr) = g.clock("digest") {
          (AntiEntropy.leafDigests(s, primary, leaves),
            AntiEntropy.leafDigests(s, replica, leaves))
        }
        val diverged = AntiEntropy.divergedLeaves(dp, dr)
        require(diverged.nonEmpty && diverged.size < leaves,
          s"divergence must be a strict leaf subset: ${diverged.size}/$leaves")
        val st = g.clock("repair") {
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
        g.finalState(IceLite.load(replica))
      },
      Some(lwwOracle("q148"))),

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
        val g = Gate(s, "q205")
        val src = s"${g.root}/src"
        val fork = s"${g.root}/fork"
        g.clock("gen") { g.genLog(3000, epochs = 3) }
        g.dumpDecoded(epochs = 3)
        val log01 = g.splitLog("log01", 0, 1); val log2 = g.splitLog("log2", 2)
        g.clock("replay_src") { Replay.replayLog(s, log01, src, buckets = 8) }
        val srcPre = IceLite.load(src)
        val srcHistPre = IceLite.history(src)
        g.clock("clone") { IceLite.cloneTable(src, fork) }
        def ino(p: String): Any =
          java.nio.file.Files.getAttribute(java.nio.file.Paths.get(p), "unix:ino")
        val srcInos = srcPre.files.map(f => ino(f.path)).toSet
        val cloned = IceLite.load(fork).files
        require(cloned.nonEmpty && cloned.forall(f => srcInos(ino(f.path))),
          "clone must hard-link, not copy: every cloned file shares a source inode")
        g.clock("catch_up") {
          Replay.replayLog(s, log01, fork, buckets = 8) // all fenced: no-op
          require(IceLite.load(fork).version == 0,
            "fenced epochs must not commit new fork versions")
          Replay.replayLog(s, log2, fork, buckets = 8) // the unapplied tail
        }
        require(IceLite.load(fork).version == 1, "exactly one tail epoch applies")
        require(IceLite.history(src) == srcHistPre &&
            IceLite.load(src).version == srcPre.version,
          "fork writes must never touch the source's history")
        g.finalState(IceLite.load(fork))
      },
      Some(lwwOracle("q205"))),

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
        val g = Gate(s, "q211")
        val log2Dir = s"${g.root}/log2"
        val src = s"${g.root}/src"; val fork = s"${g.root}/fork"
        val p2 = Gate.params(800).copy(v1Fraction = 0.0, idOffset = 3000L)
        g.clock("gen") {
          g.genLog(3000, epochs = 3)
          LogGen.writeLog(s, p2, log2Dir, epochs = 1)
        }
        g.clock("decode_dump") { g.dumpDecoded(g.logs(g.log, log2Dir)) }
        g.clock("replay_src") { Replay.replayLog(s, g.log, src, buckets = 8) }
        g.clock("fork") { IceLite.cloneTable(src, fork) }
        g.clock("fork_ingest") {
          Replay.replayLog(s, log2Dir, fork, buckets = 8, namespace = "fork")
        }
        val forkHead = IceLite.load(fork).version
        val feed = IceLite.changes(s, fork, 0, forkHead).localCheckpoint()
        val srcRows = IceLite.read(s, IceLite.load(src)).count()
        val feedRows = feed.count()
        require(feedRows < srcRows,
          s"merge-back must ship O(new work): $feedRows feed rows vs $srcRows table rows")
        g.clock("merge_back") {
          Replay.applyChanges(s, feed, src, s"merge-back-$forkHead", buckets = 8,
            feedRowsHint = Some(feedRows))
        }
        // a replayed merge-back is a fenced no-op
        val vAfter = IceLite.load(src).version
        Replay.applyChanges(s, feed, src, s"merge-back-$forkHead", buckets = 8)
        require(IceLite.load(src).version == vAfter,
          "replayed merge-back must fence as a no-op")
        val srcState = g.state(src)
        val forkState = g.state(fork)
        require(srcState.exceptAll(forkState).isEmpty &&
            forkState.exceptAll(srcState).isEmpty,
          "source and fork must converge after the merge-back")
        srcState.orderBy("repo", "path")
      },
      Some(lwwOracle("q211")))
  )
}
