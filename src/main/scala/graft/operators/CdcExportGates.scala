package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.cdc.{LogGen, Replay}
import graft.lake.IceLite
import CdcQueries.putMetric
import Gate.{lwwOracle, workDir}

/** Export and purge gates: snapshot exports and export chains, key
  * erasure through tables and exports, subject access, legal hold and
  * crypto-shredding. */
private[operators] object CdcExportGates {

  /** The export-chain fixture: wave 0 over the full keyspace, then
    * hot-slice tail waves — one repo, higher seqs — that touch few buckets. */
  private val waves = Seq(
    Gate.params(3000),
    LogGen.Params(nEvents = 600, nRepos = 1, pathsPerRepo = 2, v1Fraction = 0.0, idOffset = 3000),
    LogGen.Params(nEvents = 400, nRepos = 1, pathsPerRepo = 2, v1Fraction = 0.0, idOffset = 3600))

  /** Write the first `names.size` waves to the gate's log dirs `names` —
    * wave 0 in two epochs, each tail wave in one — and dump their decoded
    * rows; returns the log dirs. */
  private def genWaves(s: SparkSession, g: Gate, names: String*): Seq[String] = {
    val dirs = names.map(n => s"${g.root}/$n")
    g.clock("gen") {
      dirs.zip(waves).zipWithIndex.foreach { case ((d, p), i) =>
        LogGen.writeLog(s, p, d, epochs = if (i == 0) 2 else 1)
      }
    }
    g.clock("decode_dump") { g.dumpDecoded(g.logs(dirs: _*)) }
    dirs
  }

  val queries: Seq[OpQuery] = Seq(
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
        val g = Gate(s, "q85")
        g.clock("gen") {
          g.genLog(3000, epochs = 3, _.copy(nRepos = 30, pathsPerRepo = 20))
        }
        g.clock("decode_dump") { g.dumpDecoded() }
        g.clock("replay") { Replay.replayLog(s, g.log, g.table, buckets = 8) }
        // victim: the live key with the most change events (ties by key) —
        // the same rule the oracle's vic CTE derives from the same dump
        val (vRepo, vPath) = g.clock("pick_victim") { g.hottestLiveKeys(1).head }
        val key = Map[String, Any]("repo" -> vRepo, "path" -> vPath)
        require(IceLite.lookupLocal(IceLite.load(g.table), key).nonEmpty,
          s"victim ($vRepo, $vPath) must be served before the purge")
        val st = g.clock("purge") { graft.lake.Purge.purgeKey(s, g.table, key) }
        require(st.filesRewritten > 0 && st.rowsPurged > 0, s"purge found nothing: $st")
        require(st.filesCandidates < st.filesTotal,
          s"pruning must rule out files: $st")
        g.clock("erasure_check") {
          IceLite.history(g.table).foreach { v =>
            require(IceLite.lookupLocal(IceLite.loadVersion(g.table, v), key).isEmpty,
              s"version $v still serves the purged key")
          }
          val feed = IceLite.changes(s, g.table, 1, IceLite.history(g.table).max)
            .filter(col("repo") === vRepo && col("path") === vPath).count()
          require(feed == 0L, "change feed must not resurrect a purged key")
        }
        putMetric("q85", "files_total", st.filesTotal.toDouble)
        putMetric("q85", "files_candidates", st.filesCandidates.toDouble)
        putMetric("q85", "files_rewritten", st.filesRewritten.toDouble)
        putMetric("q85", "rows_purged", st.rowsPurged.toDouble)
        g.finalState()
      },
      Some(s"""WITH d AS (SELECT * FROM parquet_scan('${workDir("q85")}/decoded/*.parquet')),
        fold AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
                 FROM d) t WHERE rn = 1 AND op <> 'DELETE'),
        vic AS (SELECT d.repo, d.path FROM d JOIN fold f ON d.repo = f.repo AND d.path = f.path
                GROUP BY d.repo, d.path ORDER BY count(*) DESC, d.repo, d.path LIMIT 1)
        SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM fold WHERE NOT EXISTS (SELECT 1 FROM vic WHERE vic.repo = fold.repo AND vic.path = fold.path)
        ORDER BY repo, path""")),

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
        val g = Gate(s, "q113")
        g.clock("gen") { g.genLog(4000, epochs = 2) }
        g.clock("decode_dump") { g.dumpDecoded() }
        g.clock("replay") { Replay.replayLog(s, g.log, g.table, buckets = 8) }
        // merge-on-read snapshots must REFUSE export (a raw reader cannot
        // resolve deltas) — pin the refusal before the compaction
        val refused =
          try { graft.lake.Export.exportSnapshot(g.table, "premature"); false }
          catch { case _: IllegalArgumentException => true }
        require(refused, "a delta-bearing snapshot must refuse export")
        g.clock("compact") { graft.lake.Compaction.compact(s, g.table, "maint") }
        val info = g.clock("export") {
          graft.lake.Export.exportSnapshot(g.table, "training-cut")
        }
        require(info.created && info.files == IceLite.load(g.table).files.size,
          "every head data file exported")
        require(info.rows >= 0, "manifest carries the exact live count")
        require(!graft.lake.Export.exportSnapshot(g.table, "training-cut").created,
          "same-version re-publish is idempotent")
        putMetric("q113", "export_files", info.files.toDouble)
        putMetric("q113", "export_rows", info.rows.toDouble)
        // ENGINE-NEUTRAL read-back: raw parquet + the manifest's portable
        // filter — IceLite is deliberately absent from this read path
        Gate.finalRows(s.read.parquet(s"${info.dir}/data").where(expr(info.rowFilter)))
      },
      Some(lwwOracle("q113"))),

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
        val g = Gate(s, "q168")
        // the tail: higher seqs (idOffset) win the LWW fold; tiny keyspace
        // so most buckets stay untouched between the two steps
        val Seq(logA, logB) = genWaves(s, g, "log-a", "log-b")
        g.clock("replay_wave1") { Replay.replayLog(s, logA, g.table, buckets = 16) }
        g.clock("compact1") { graft.lake.Compaction.compact(s, g.table, "maint-1") }
        val step1 = g.clock("export1") {
          graft.lake.Export.exportIncremental(g.table, "nightly")
        }
        require(step1.created && step1.filesReused == 0 &&
            step1.filesShipped == step1.filesTotal,
          s"first step is a full ship (${step1.filesShipped}/${step1.filesTotal})")
        g.clock("replay_wave2") {
          Replay.replayLog(s, logB, g.table, buckets = 16, namespace = "tail")
        }
        // steady-state maintenance: rewrite ONLY the delta-bearing buckets
        val touched = IceLite.load(g.table).files
          .filter(_.delta).map(_.bucket).toSet
        require(touched.nonEmpty && touched.size < 16,
          s"tail wave must touch a strict bucket subset (${touched.size}/16)")
        g.clock("compact2") {
          graft.lake.Compaction.compact(s, g.table, "maint-2",
            buckets = Some(touched))
        }
        val step2 = g.clock("export2") {
          graft.lake.Export.exportIncremental(g.table, "nightly")
        }
        require(step2.created && step2.filesReused > 0 &&
            step2.filesShipped < step2.filesTotal,
          s"steady-state step ships only the delta " +
            s"(${step2.filesShipped} shipped, ${step2.filesReused} reused)")
        require(!graft.lake.Export.exportIncremental(g.table, "nightly").created,
          "same-version re-publish is idempotent")
        putMetric("q168", "step2_shipped", step2.filesShipped.toDouble)
        putMetric("q168", "step2_reused", step2.filesReused.toDouble)
        // physical-pin property: drop time travel and vacuum every
        // superseded source path — the chain's hard links must keep BOTH
        // steps readable (an external consumer's pinned cut survives
        // table maintenance)
        g.clock("vacuum") {
          graft.lake.Compaction.expire(g.table, keepLast = 1)
          graft.lake.Compaction.vacuum(g.table, olderThanMs = 0L)
        }
        val step1Files = graft.lake.Export.incrementalFiles(
          g.table, "nightly", Some(step1.sourceVersion))
        val step1Rows = s.read.parquet(step1Files: _*)
          .where(expr(step1.rowFilter)).count()
        require(step1Rows == step1.rows,
          s"pre-tail step serves its exact snapshot after vacuum " +
            s"($step1Rows vs ${step1.rows})")
        // ENGINE-NEUTRAL read-back of the latest step: raw parquet over the
        // manifest's resolved file list + portable row filter, no IceLite
        val latest = graft.lake.Export.incrementalFiles(g.table, "nightly")
        Gate.finalRows(s.read.parquet(latest: _*).where(expr(step2.rowFilter)))
      },
      Some(lwwOracle("q168"))),

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
        val g = Gate(s, "q169")
        val Seq(logA, logB) = genWaves(s, g, "log-a", "log-b")
        g.clock("replay_wave1") { Replay.replayLog(s, logA, g.table, buckets = 16) }
        g.clock("compact1") { graft.lake.Compaction.compact(s, g.table, "maint-1") }
        val (full, step1) = g.clock("publish1") {
          (graft.lake.Export.exportSnapshot(g.table, "cut"),
            graft.lake.Export.exportIncremental(g.table, "nightly"))
        }
        g.clock("replay_wave2") {
          Replay.replayLog(s, logB, g.table, buckets = 16, namespace = "tail")
        }
        val touched = IceLite.load(g.table).files
          .filter(_.delta).map(_.bucket).toSet
        g.clock("compact2") {
          graft.lake.Compaction.compact(s, g.table, "maint-2",
            buckets = Some(touched))
        }
        val step2 = g.clock("publish2") {
          graft.lake.Export.exportIncremental(g.table, "nightly")
        }
        // victim: first live key present on BOTH the head and the pre-tail
        // published cut — dumped so the oracle excludes exactly this key
        val victim = IceLite.read(s, IceLite.load(g.table))
          .select("repo", "path")
          .intersect(s.read.parquet(s"${full.dir}/data")
            .where(expr(full.rowFilter)).select("repo", "path"))
          .orderBy("repo", "path").as[(String, String)].head()
        Seq(victim).toDF("repo", "path").coalesce(1)
          .write.mode("overwrite").parquet(s"${g.root}/purged_key")
        val key = Map[String, Any]("repo" -> victim._1, "path" -> victim._2)
        def victimRaw(files: Seq[String]): Long =
          s.read.parquet(files: _*)
            .where(col("repo") === victim._1 && col("path") === victim._2)
            .count()
        val chainA = graft.lake.Export.incrementalFiles(
          g.table, "nightly", Some(step1.sourceVersion))
        val chainB = graft.lake.Export.incrementalFiles(
          g.table, "nightly", Some(step2.sourceVersion))
        val st = g.clock("purge_table") {
          graft.lake.Purge.purgeKey(s, g.table, key)
        }
        require(st.rowsPurged > 0 && st.filesCandidates < st.filesTotal,
          s"table purge must erase a pruned candidate set: $st")
        // THE HOLE, pinned: the table is clean but every export's hard
        // link still serves the victim's bytes
        require(victimRaw(Seq(s"${full.dir}/data")) > 0 &&
            victimRaw(chainA) > 0 && victimRaw(chainB) > 0,
          "exports must still pin the key after table purge — the hole this operator closes")
        val est = g.clock("purge_exports") {
          graft.lake.Purge.purgeExports(s, g.table, key)
        }
        require(est.exports == 2 && est.rowsPurged > 0 &&
            est.filesCandidates < est.filesTotal,
          s"export purge must erase a bucket-pruned candidate set: $est")
        // gone from EVERY surface
        require(IceLite.read(s, IceLite.load(g.table))
            .where(col("repo") === victim._1 && col("path") === victim._2)
            .count() == 0, "head scan must miss")
        require(IceLite.read(s, IceLite.loadVersion(g.table, step1.sourceVersion))
            .where(col("repo") === victim._1 && col("path") === victim._2)
            .count() == 0, "time travel must miss")
        require(victimRaw(Seq(s"${full.dir}/data")) == 0 &&
            victimRaw(chainA) == 0 && victimRaw(chainB) == 0,
          "every export surface must miss after purgeExports")
        putMetric("q169", "table_candidates", st.filesCandidates.toDouble)
        putMetric("q169", "export_files", est.filesTotal.toDouble)
        putMetric("q169", "export_candidates", est.filesCandidates.toDouble)
        putMetric("q169", "export_rewritten", est.filesRewritten.toDouble)
        Gate.finalRows(s.read.parquet(chainB: _*).where(expr(step2.rowFilter)))
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
        val g = Gate(s, "q170")
        val logs = genWaves(s, g, "log-0", "log-1", "log-2")
        val steps = (0 until 3).map { i =>
          g.clock(s"replay$i") {
            Replay.replayLog(s, logs(i), g.table, buckets = 16,
              namespace = s"wave$i")
          }
          g.clock(s"compact$i") {
            if (i == 0) graft.lake.Compaction.compact(s, g.table, s"maint-$i")
            else {
              val touched = IceLite.load(g.table).files
                .filter(_.delta).map(_.bucket).toSet
              graft.lake.Compaction.compact(s, g.table, s"maint-$i",
                buckets = Some(touched))
            }
          }
          g.clock(s"publish$i") {
            graft.lake.Export.exportIncremental(g.table, "nightly")
          }
        }
        require(steps(0).filesReused == 0 &&
            steps(1).filesReused > 0 && steps(2).filesReused > 0,
          "tail steps must reuse (full ship only on step 0)")
        val gc = g.clock("gc") {
          graft.lake.Export.expireSteps(g.table, "nightly", keepLast = 2)
        }
        require(gc.stepsDropped == 1 && gc.filesFreed >= 1 && gc.filesRetained >= 1,
          s"GC must free superseded files AND keep referenced ones: $gc")
        val refused =
          try { graft.lake.Export.readIncremental(g.table, "nightly",
            Some(steps(0).sourceVersion)); false }
          catch { case _: IllegalArgumentException => true }
        require(refused, "the dropped step must refuse reads")
        // the middle step reads THROUGH the dropped step's headless dir
        val midFiles = graft.lake.Export.incrementalFiles(
          g.table, "nightly", Some(steps(1).sourceVersion))
        require(s.read.parquet(midFiles: _*)
            .where(expr(steps(1).rowFilter)).count() == steps(1).rows,
          "retained middle step must serve its exact snapshot after GC")
        require(graft.lake.Export.expireSteps(g.table, "nightly", keepLast = 2)
            .stepsDropped == 0, "GC is idempotent")
        putMetric("q170", "files_freed", gc.filesFreed.toDouble)
        putMetric("q170", "files_retained", gc.filesRetained.toDouble)
        val latest = graft.lake.Export.incrementalFiles(g.table, "nightly")
        Gate.finalRows(s.read.parquet(latest: _*).where(expr(steps(2).rowFilter)))
      },
      Some(lwwOracle("q170"))),

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
        val g = Gate(s, "q171")
        g.clock("gen") { g.genLog(3000, epochs = 2) }
        g.clock("decode_dump") { g.dumpDecoded(epochs = 2) }
        g.clock("replay") { Replay.replayLog(s, g.log, g.table, buckets = 16) }
        g.clock("compact_cluster") {
          graft.lake.Compaction.compact(s, g.table, "maint-1",
            clusterBy = Some("repo"), filesPerBucket = 8)
        }
        val step = g.clock("publish") {
          graft.lake.Export.exportIncremental(g.table, "skipchain")
        }
        val lo = LogGen.repoName(6)
        val hi = LogGen.repoName(9)
        val full = graft.lake.Export.incrementalFiles(g.table, "skipchain")
        val pruned = g.clock("prune") {
          graft.lake.Export.prunedIncrementalFiles(g.table, "skipchain",
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
        Gate.finalRows(read(pruned))
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
        val g = Gate(s, "q172")
        g.clock("gen") { g.genLog(3000, epochs = 3) }
        g.clock("decode_dump") { g.dumpDecoded(epochs = 3) }
        g.clock("replay") { Replay.replayLog(s, g.log, g.table, buckets = 16) }
        // victims: six live head keys spread across the alphabet — dumped
        // for the oracle's exclusion
        val victims = IceLite.read(s, IceLite.load(g.table))
          .select("repo", "path").orderBy("repo", "path")
          .as[(String, String)].collect()
          .zipWithIndex.filter(_._2 % 97 == 0).map(_._1).take(6).toSeq
        require(victims.size == 6, "fixture must yield six victims")
        victims.toDF("repo", "path").coalesce(1)
          .write.mode("overwrite").parquet(s"${g.root}/purged_keys")
        val st = g.clock("purge_batch") {
          graft.lake.Purge.purgeKeys(s, g.table,
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
        IceLite.history(g.table).foreach { v =>
          val hits = IceLite.read(s, IceLite.loadVersion(g.table, v))
            .join(victimDf, Seq("repo", "path"), "left_semi").count()
          require(hits == 0, s"version $v still serves a purged key")
        }
        g.finalState()
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
        val g = Gate(s, "q173")
        val streamDir = s"${g.root}/stream"
        val ckpt = s"${g.root}/ckpt"
        // wave 1 over the full keyspace, then two HOT-SLICE tail waves
        // (higher seqs, narrow keyspace — the steady-state shape where the
        // chain's O(changed buckets) publication pays off)
        val evs = g.clock("gen") { waves.map(LogGen.events(s, _).localCheckpoint()) }
        g.clock("decode_dump") { g.dumpDecoded(evs.reduce(_.union(_))) }
        val publisher = (ss: SparkSession, batchId: Long) => {
          graft.lake.Export.publishStep(ss, g.table, "stream", s"pub-$batchId")
          ()
        }
        // each wave lands as ≤8 files → one micro-batch; waves 2 and 3
        // resume the same checkpoint (two restarts)
        evs.zipWithIndex.foreach { case (ev, i) =>
          g.clock(s"wave$i") {
            ev.repartition(8).write.mode("append").parquet(streamDir)
            graft.cdc.Tail.start(s, streamDir, g.table, ckpt, buckets = 16,
              maxFilesPerTrigger = 8,
              onBatchCommitted = Some(publisher)).awaitTermination()
          }
        }
        val chainRoot = s"${g.table}/export/stream"
        val stepDirs = new java.io.File(chainRoot).listFiles()
          .filter(f => f.isDirectory && f.getName.matches("v\\d+")
            && new java.io.File(f, "manifest.json").exists())
          .map(_.getName.drop(1).toInt).sorted.toSeq
        require(stepDirs.size == 3, s"one step per applied batch: $stepDirs")
        val steps = stepDirs.map(v =>
          graft.lake.Export.readIncremental(g.table, "stream", Some(v)))
        require(steps.head.filesReused == 0, "first step is the full ship")
        require(steps.tail.forall(st => st.filesReused > 0 &&
            st.filesShipped < st.filesTotal),
          s"every tail step is genuinely incremental: " +
            steps.map(st => (st.filesShipped, st.filesReused)).mkString(","))
        putMetric("q173", "steps", steps.size.toDouble)
        putMetric("q173", "last_step_shipped", steps.last.filesShipped.toDouble)
        putMetric("q173", "last_step_reused", steps.last.filesReused.toDouble)
        // the PUBLISHED surface (not the table) is what the oracle certifies
        val latest = graft.lake.Export.incrementalFiles(g.table, "stream")
        Gate.finalRows(s.read.parquet(latest: _*).where(expr(steps.last.rowFilter)))
      },
      Some(lwwOracle("q173"))),

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
        val g = Gate(s, "q176")
        val Seq(logA, logB) = genWaves(s, g, "log-a", "log-b")
        val pseudo = Map("author" -> substring(
          sha2(concat(lit("pepper:"), col("author")), 256), 1, 12))
        g.clock("replay_wave1") { Replay.replayLog(s, logA, g.table, buckets = 16) }
        g.clock("compact1") { graft.lake.Compaction.compact(s, g.table, "maint-1") }
        val step1 = g.clock("publish1") {
          graft.lake.Export.exportTransformedIncremental(
            s, g.table, "sanitized", "pseudo-v1", pseudo)
        }
        require(step1.created && step1.filesReused == 0, "first step full ship")
        g.clock("replay_wave2") {
          Replay.replayLog(s, logB, g.table, buckets = 16, namespace = "tail")
        }
        val touched = IceLite.load(g.table).files
          .filter(_.delta).map(_.bucket).toSet
        g.clock("compact2") {
          graft.lake.Compaction.compact(s, g.table, "maint-2",
            buckets = Some(touched))
        }
        val step2 = g.clock("publish2") {
          graft.lake.Export.exportTransformedIncremental(
            s, g.table, "sanitized", "pseudo-v1", pseudo)
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
            g.table, "sanitized", Some(st.sourceVersion))
          val pub = s.read.parquet(files: _*)
          require(pub.where(col("author").rlike("^dev[0-9]+$")).count() == 0,
            s"raw author leaked into step v${st.sourceVersion}")
          require(pub.where(col("author").isNotNull &&
              length(col("author")) =!= 12).count() == 0,
            "every non-null published author is a 12-hex pseudonym")
        }
        val latest = graft.lake.Export.incrementalFiles(g.table, "sanitized")
        Gate.finalRows(s.read.parquet(latest: _*).where(expr(step2.rowFilter)))
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha,
          substr(sha256('pepper:' || author), 1, 12) AS author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q176")}/decoded/*.parquet')) t
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
        val g = Gate(s, "q191")
        g.clock("gen") {
          g.genLog(3000, epochs = 3, _.copy(nRepos = 30, pathsPerRepo = 20))
        }
        g.clock("decode_dump") { g.dumpDecoded(epochs = 3) }
        g.clock("replay") { Replay.replayLog(s, g.log, g.table, buckets = 8) }
        // the subject: the hottest live key (q85's victim rule, so the
        // oracle's vic CTE derives the same one)
        val (vRepo, vPath) = g.clock("pick_subject") { g.hottestLiveKeys(1).head }
        val key = Map[String, Any]("repo" -> vRepo, "path" -> vPath)
        def shaHex(v: String): String =
          java.security.MessageDigest.getInstance("SHA-256")
            .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
        // per-version rows: host-side point GETs — no Spark job at all
        val versions = IceLite.history(g.table).filter(_ >= 1)
        val verRows = g.clock("version_lookups") {
          versions.flatMap { v =>
            IceLite.lookupLocal(IceLite.loadVersion(g.table, v), key).map { m =>
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
        val feedDf = g.clock("feed_slice") {
          IceLite.changes(s, g.table, fromVersion = 1,
              toVersion = IceLite.history(g.table).max)
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
        val g = Gate(s, "q193")
        g.clock("gen") {
          g.genLog(3000, epochs = 3, _.copy(nRepos = 30, pathsPerRepo = 20))
        }
        g.clock("decode_dump") { g.dumpDecoded(epochs = 3) }
        g.clock("replay") { Replay.replayLog(s, g.log, g.table, buckets = 8) }
        // victims: the TWO hottest live keys (the oracle's vic LIMIT 2)
        val vics = g.clock("pick_victims") { g.hottestLiveKeys(2) }
        val keyA = Map[String, Any]("repo" -> vics(0)._1, "path" -> vics(0)._2)
        val keyB = Map[String, Any]("repo" -> vics(1)._1, "path" -> vics(1)._2)
        graft.lake.LegalHold.place(g.table, "case-7", keyA, "litigation")
        // a direct purge of the held key must fail closed, changing nothing
        val threw =
          try { graft.lake.Purge.purgeKey(s, g.table, keyA); false }
          catch { case _: IllegalArgumentException => true }
        require(threw, "purge of a held key must fail closed")
        require(IceLite.lookupLocal(IceLite.load(g.table), keyA).nonEmpty,
          "held key must survive the refused purge")
        // the batch ticket: the unheld key is erased, the held one refused
        val (st, refused) = g.clock("guarded_purge") {
          graft.lake.LegalHold.guardedPurge(s, g.table, Seq(keyA, keyB))
        }
        require(refused == Seq(keyA), s"expected exactly keyA refused: $refused")
        require(st.rowsPurged > 0, s"the unheld key must be erased: $st")
        require(IceLite.lookupLocal(IceLite.load(g.table), keyA).nonEmpty &&
          IceLite.lookupLocal(IceLite.load(g.table), keyB).isEmpty,
          "hold preserves A; the ticket erased B")
        // release → the deferred erasure proceeds
        require(graft.lake.LegalHold.release(g.table, "case-7"))
        val st2 = g.clock("deferred_purge") {
          graft.lake.Purge.purgeKey(s, g.table, keyA)
        }
        require(st2.rowsPurged > 0, s"deferred erasure must find the key: $st2")
        putMetric("q193", "rows_purged_batch", st.rowsPurged.toDouble)
        putMetric("q193", "rows_purged_deferred", st2.rowsPurged.toDouble)
        g.finalState()
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
        val g = Gate(s, "q198")
        val streamDir = s"${g.root}/stream"
        val ckpt = s"${g.root}/ckpt"
        val p = Gate.params(3000).copy(nRepos = 30, pathsPerRepo = 20)
        val ev = g.clock("gen") { LogGen.events(s, p).localCheckpoint() }
        g.clock("decode_dump") { g.dumpDecoded(ev) }
        val ring = CryptoShred.keyringS(s, master = "graft-q198-master",
          s.read.parquet(g.decoded).select(col("repo").as("principal")).distinct())
          .localCheckpoint()
        g.clock("stream_ingest") {
          ev.repartition(3).write.mode("append").parquet(streamDir)
          graft.cdc.Tail.start(s, streamDir, g.table, ckpt, buckets = 8,
            transformUpdates = Some((ss, up) =>
              CryptoShred.encryptInPlace(up, ring, "seq", "repo", "content")))
            .awaitTermination()
        }
        // at-rest check: no stored content equals any plaintext sha
        val raw = IceLite.read(s, IceLite.load(g.table))
        val plainShas = s.read.parquet(g.decoded)
          .select(sha2(col("content"), 256).as("psha")).distinct()
        require(raw.select(sha2(col("content"), 256).as("psha"))
          .join(plainShas, Seq("psha")).limit(1).count() == 0,
          "plaintext content reached disk")
        // the subject erasure: the hottest repo loses its key
        val vic = g.clock("pick_victim") {
          s.read.parquet(g.decoded).groupBy("repo").count()
            .orderBy(col("count").desc, col("repo"))
            .select("repo").as[String].head()
        }
        val shredded = ring.filter(col("principal") =!= vic)
        g.clock("read_post_shred") {
          Gate.finalRows(CryptoShred.decryptInPlace(raw, shredded, "repo", "content"))
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
  )
}
