package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.{Cdc, Epoch, LogGen, Replay}
import graft.lake.{Diff, IceLite}
import CdcQueries.{changeFeed, putMetric}
import Gate.workDir

/** Change-feed and view gates: CDF row images, SCD2 history, consumer
  * cursors, incremental materialized and join views, and analytics over
  * the change stream. */
private[operators] object CdcFeedGates {

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

  val queries: Seq[OpQuery] = Seq(
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
        val g = Gate(s, "q67")
        val streamDir = s"${g.root}/stream"
        val mvDir = s"${g.root}/mv"
        val ckpt = s"${g.root}/ckpt"
        val ev = LogGen.events(s, Gate.params(3000))
        g.dumpDecoded(ev)
        import graft.lake.MatView
        ev.filter(col("offset") < 1500).repartition(3)
          .write.mode("append").parquet(streamDir)
        graft.cdc.Tail.start(s, streamDir, g.table, ckpt, buckets = 8).awaitTermination()
        MatView.create(g.table, mvDir, MatView.Spec(
          Vector("lang"), Vector("content_len" -> "length(content)")))
        val r1 = MatView.refresh(s, g.table, mvDir)
        require(r1.applied && r1.fromVersion == 0, s"wave-1 backfill: $r1")
        ev.filter(col("offset") >= 1500).repartition(3)
          .write.mode("append").parquet(streamDir)
        graft.cdc.Tail.start(s, streamDir, g.table, ckpt, buckets = 8).awaitTermination()
        val r2 = MatView.refresh(s, g.table, mvDir)
        require(r2.applied && r2.fromVersion == r1.toVersion,
          s"wave-2 refresh must resume at wave 1's watermark: $r1 -> $r2")
        putMetric("q67", "wave2_changed_keys", r2.changedKeys.toDouble)
        require(!MatView.refresh(s, g.table, mvDir).applied,
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
        val g = Gate(s, "q75")
        val scdDir = s"${g.root}/scd"
        g.clock("gen") { g.genLog(3000, epochs = 3) }
        g.clock("decode_dump") { g.dumpDecoded(epochs = 3) }
        val epochDirs = (0 until 3).map(e => g.splitLog(s"log$e", e))
        import graft.lake.Scd2
        var totalChanged = 0L
        (0 until 3).foreach { e =>
          g.clock(s"replay$e") { Replay.replayLog(s, epochDirs(e), g.table, buckets = 8) }
          if (e == 0) Scd2.create(g.table, scdDir)
          val st = g.clock(s"apply$e") { Scd2.apply(s, g.table, scdDir) }
          require(st.applied && st.toVersion == e + 1,
            s"apply $e must advance to src v${e + 1}, got $st")
          totalChanged += st.changedKeys
          putMetric("q75", s"apply${e}_changed_keys", st.changedKeys.toDouble)
          putMetric("q75", s"apply${e}_closed", st.closed.toDouble)
        }
        val tableKeys = IceLite.read(s, IceLite.load(g.table)).count()
        require(totalChanged < 3 * tableKeys,
          s"applies must be O(delta): $totalChanged changed vs $tableKeys keys x3")
        require(!Scd2.apply(s, g.table, scdDir).applied,
          "a replayed apply must fence as a no-op")
        // offline history compaction folds the per-apply batch dirs; the
        // final read (and so the oracle) must not notice
        val collapsed = g.clock("compact_history") { Scd2.compactHistory(s, scdDir) }
        require(collapsed >= 2, s"expected >=2 history dirs to fold, got $collapsed")
        putMetric("q75", "history_dirs_collapsed", collapsed.toDouble)
        Scd2.read(s, scdDir)
          .select(Gate.stateCols ++ Seq(col("valid_from"), col("valid_to"),
            col("is_current")): _*)
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
        val g = Gate(s, "q76")
        g.clock("gen") { g.genLog(3000, epochs = 3) }
        g.clock("decode_dump") { g.dumpDecoded(epochs = 3) }
        g.clock("replay") { Replay.replayLog(s, g.log, g.table, buckets = 8) }
        val images = g.clock("images") {
          graft.lake.Cdf.changesWithImages(s, g.table, fromVersion = 1, toVersion = 3)
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
        val g = Gate(s, "q78")
        val scdDir = s"${g.root}/scd"
        g.clock("gen") { g.genLog(3000, epochs = 3) }
        val sMax = g.clock("decode_dump") {
          g.dumpDecoded(epochs = 3)
          s.read.parquet(g.decoded).filter(col("epoch") === 1)
            .agg(max("seq")).head().getLong(0)
        }
        g.clock("replay") { Replay.replayLog(s, g.log, g.table, buckets = 8) }
        import graft.lake.Scd2
        Scd2.create(g.table, scdDir)
        val st = g.clock("apply") { Scd2.apply(s, g.table, scdDir) }
        require(st.applied && st.fromVersion == 0 && st.toVersion == 3,
          s"one apply must span the whole (0,3] window, got $st")
        val asOf = g.clock("asof") {
          Scd2.asOf(s, scdDir, sMax).select(Gate.stateCols :+ col("valid_from"): _*)
            .localCheckpoint()
        }
        // the cross-path hard assert: interval read ≡ snapshot time travel
        val travel = IceLite.read(s, IceLite.loadVersion(g.table, 2)).select(Gate.stateCols: _*)
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
        val g = Gate(s, "q79")
        val streamDir = s"${g.root}/stream"
        val scdDir = s"${g.root}/scd"
        val ckpt = s"${g.root}/ckpt"
        val ev = LogGen.events(s, Gate.params(3000))
        g.clock("decode_dump") {
          val registry = s.sparkContext.broadcast(Cdc.registry)
          Seq(col("offset") < 1500, col("offset") >= 1500).zipWithIndex.map {
            case (cond, w) =>
              Replay.decodeForMerge(
                Epoch.events(ev.filter(cond)), registry, None)
                .updates.withColumn("wave", lit(w))
          }.reduce(_.unionByName(_)).write.mode("overwrite").parquet(g.decoded)
        }
        import graft.lake.Scd2
        var prevTo = 0
        Seq(col("offset") < 1500, col("offset") >= 1500).zipWithIndex.foreach {
          case (cond, w) =>
            ev.filter(cond).repartition(3).write.mode("append").parquet(streamDir)
            g.clock(s"ingest$w") {
              graft.cdc.Tail.start(s, streamDir, g.table, ckpt, buckets = 8,
                maxFilesPerTrigger = 8).awaitTermination()
            }
            require(IceLite.load(g.table).version == w + 1,
              s"wave $w must land as exactly one merge epoch")
            if (w == 0) Scd2.create(g.table, scdDir)
            val st = g.clock(s"apply$w") { Scd2.apply(s, g.table, scdDir) }
            require(st.applied && st.fromVersion == prevTo,
              s"wave-$w apply must resume at the previous watermark: $st")
            prevTo = st.toVersion
            putMetric("q79", s"apply${w}_changed_keys", st.changedKeys.toDouble)
        }
        require(!Scd2.apply(s, g.table, scdDir).applied,
          "a replayed apply must fence as a no-op")
        Scd2.read(s, scdDir)
          .select(Gate.stateCols ++ Seq(col("valid_from"), col("valid_to"),
            col("is_current")): _*)
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
        val g = Gate(s, "q65")
        val mvDir = s"${g.root}/mv"
        g.clock("gen") { g.genLog(3000, epochs = 3) }
        g.clock("decode_dump") { g.dumpDecoded() }
        // three separate replay+refresh rounds: split the log per epoch
        val epochDirs = (0 until 3).map(e => g.splitLog(s"log$e", e))
        import graft.lake.MatView
        var totalChanged = 0L
        (0 until 3).foreach { e =>
          g.clock(s"replay$e") { Replay.replayLog(s, epochDirs(e), g.table, buckets = 8) }
          if (e == 0) MatView.create(g.table, mvDir, MatView.Spec(
            Vector("repo", "lang"), Vector("content_len" -> "length(content)")))
          val r = g.clock(s"refresh$e") { MatView.refresh(s, g.table, mvDir) }
          require(r.applied && r.toVersion == e + 1,
            s"refresh $e must apply up to src v${e + 1}, got $r")
          totalChanged += r.changedKeys
          putMetric("q65", s"refresh${e}_changed_keys", r.changedKeys.toDouble)
          putMetric("q65", s"refresh${e}_touched_groups", r.touchedGroups.toDouble)
        }
        val tableKeys = graft.lake.IceLite.read(s, graft.lake.IceLite.load(g.table)).count()
        require(totalChanged < 3 * tableKeys,
          s"refreshes must be O(delta): $totalChanged changed vs $tableKeys keys x3")
        val again = MatView.refresh(s, g.table, mvDir)
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
        val g = Gate(s, "q209")
        val mvDir = s"${g.root}/mv"
        g.clock("gen") { g.genLog(3000, epochs = 3) }
        g.clock("decode_dump") { g.dumpDecoded() }
        val epochDirs = (0 until 3).map(e => g.splitLog(s"log$e", e))
        import graft.lake.MatView
        var recomputedTotal = 0L
        (0 until 3).foreach { e =>
          g.clock(s"replay$e") { Replay.replayLog(s, epochDirs(e), g.table, buckets = 8) }
          if (e == 0) {
            // value-bloom index on the group column BEFORE the view exists:
            // the threatened-group recompute prunes its head read through it
            IceLite.addBloomIndex(s, g.table, "idx-lang", "lang")
            MatView.create(g.table, mvDir, MatView.Spec(
              Vector("lang"), Vector("content_len" -> "length(content)"),
              mins = Vector("min_len" -> "length(content)"),
              maxs = Vector("max_len" -> "length(content)")))
          }
          val r = g.clock(s"refresh$e") { MatView.refresh(s, g.table, mvDir) }
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
        val again = MatView.refresh(s, g.table, mvDir)
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
        val g = Gate(s, "q123")
        g.clock("gen_dump") {
          g.genLog(4000, epochs = 4)
          g.dumpDecoded(epochs = 4)
        }
        g.clock("replay") { Replay.replayLog(s, g.log, g.table, buckets = 8) }
        val head = IceLite.load(g.table).version
        val pruned = Diff.changedBuckets(
          IceLite.loadVersion(g.table, 2), IceLite.loadVersion(g.table, head))
        putMetric("q123", "changed_buckets", pruned.map(_.size.toDouble).getOrElse(-1.0))
        g.clock("diff") {
          Diff.betweenVersions(s, g.table, 2, head)
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
        val g = Gate(s, "q104")
        g.clock("gen") { g.genLog(4000, epochs = 3) }
        g.clock("decode_dump") { g.dumpDecoded(epochs = 3) }
        g.clock("replay") { Replay.replayLog(s, g.log, g.table, buckets = 8) }
        g.clock("consume") {
          graft.lake.Feed.create(g.table, "slow", startVersion = 1)
          graft.lake.Feed.create(g.table, "bulk", startVersion = 1)
        }
        val windows = scala.collection.mutable.ArrayBuffer[DataFrame]()
        var drained = false
        while (!drained) {
          val (w, to) = graft.lake.Feed.poll(s, g.table, "slow", maxVersions = 1)
          if (to == graft.lake.Feed.position(g.table, "slow")) drained = true
          else {
            val (w2, to2) = graft.lake.Feed.poll(s, g.table, "slow", maxVersions = 1)
            require(to2 == to && w2.count() == w.count(),
              s"pre-ack re-poll must redeliver the same window ($to vs $to2)")
            windows += w
            graft.lake.Feed.ack(g.table, "slow", to)
          }
        }
        require(windows.size == 2, s"3 epochs from v1 = 2 windows, got ${windows.size}")
        val (bulk, bulkTo) = graft.lake.Feed.poll(s, g.table, "bulk")
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
        graft.lake.Feed.ack(g.table, "bulk", bulkTo)
        require(graft.lake.Feed.poll(s, g.table, "bulk")._1.count() == 0,
          "a drained consumer must poll empty")
        putMetric("q104", "windows", windows.size.toDouble)
        stepwise
          .select(Gate.stateCols ++ Seq(col(IceLite.SeqCol.name).as("seq"),
            col(IceLite.DelCol.name).as("is_delete")): _*)
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
        val g = Gate(s, "q154")
        g.genLog(6000, epochs = 2, _.copy(nRepos = 400, pathsPerRepo = 6))
        g.dumpDecoded(epochs = 2)
        // fix the layout the per-partition pass sees (the guarantee holds
        // for ANY layout; the assert below needs a repeatable one)
        val decoded = s.read.parquet(g.decoded).repartition(8)
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
        val g = Gate(s, "q160")
        val cacheDir = s"${g.root}/cache"
        g.genLog(3000, epochs = 3)
        g.dumpDecoded(epochs = 3)
        // stage the last epoch as a separate, later-arriving log (q96 shape)
        val logB = g.splitLog("log-late", 2)
        val q = (df: org.apache.spark.sql.DataFrame) => df.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("content"))).as("total_chars"))
        import graft.lake.ResultCache
        Replay.replayLog(s, g.log, g.table, buckets = 8)
        val r1 = ResultCache.run(s, g.table, cacheDir, "by_lang", q)
        require(!r1.hit, "first call must be a miss")
        val r2 = ResultCache.run(s, g.table, cacheDir, "by_lang", q)
        require(r2.hit && r2.version == r1.version, "unchanged version must hit")
        val hitInputs = r2.df.inputFiles.map(f => new java.net.URI(f).getPath)
        require(hitInputs.nonEmpty && hitInputs.forall(_.startsWith(cacheDir)),
          s"a hit must read only cache files: ${hitInputs.mkString(",")}")
        Replay.replayLog(s, logB, g.table, buckets = 8)
        val r3 = ResultCache.run(s, g.table, cacheDir, "by_lang", q)
        require(!r3.hit && r3.version > r2.version,
          s"commit must invalidate (v${r2.version} -> v${r3.version}, hit=${r3.hit})")
        require(ResultCache.vacuum(cacheDir, "by_lang", keepLast = 1) == 1,
          "exactly the superseded version's slot is dropped")
        val r4 = ResultCache.run(s, g.table, cacheDir, "by_lang", q)
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
        val g = Gate(s, "q162")
        val fDir = s"${g.root}/fact"
        val dDir = s"${g.root}/dim"
        val outDir = s"${g.root}/view"
        g.genLog(3600, epochs = 3, _.copy(nRepos = 60, pathsPerRepo = 40))
        g.dumpDecoded(epochs = 3)
        val lateDir = g.splitLog("log-late", 2)
        Replay.replayLog(s, g.log, fDir, buckets = 8)
        // dim: repo -> tier, maintained by hand-rolled fenced merges
        createTierDim(s, dDir)
        def applyDim(rows: Seq[(String, String, Long, String)], tag: String): Unit =
          applyTierDim(s, dDir, s"${g.root}/dimdump", rows, tag)
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
        MatJoin.read(s, outDir).select(Gate.stateCols :+ col("tier"): _*).orderBy("repo", "path")
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
        val g = Gate(s, "q163")
        val streamDir = s"${g.root}/stream"
        val fDir = s"${g.root}/fact"
        val dDir = s"${g.root}/dim"
        val outDir = s"${g.root}/view"
        val ckpt = s"${g.root}/ckpt"
        // NB pathsPerRepo fans out ~6× through the per-event lang extension,
        // so one repo spans ~24 (repo, path) keys → ~20 of 64 fact buckets
        val ev = LogGen.events(s, Gate.params(3000).copy(nRepos = 80, pathsPerRepo = 4))
        g.dumpDecoded(ev)
        import graft.lake.MatJoin
        ev.filter(col("offset") < 1500).repartition(3)
          .write.mode("append").parquet(streamDir)
        graft.cdc.Tail.start(s, streamDir, fDir, ckpt, buckets = 64).awaitTermination()
        createTierDim(s, dDir)
        applyTierDim(s, dDir, s"${g.root}/dimdump", (0 until 80).map(i =>
          (LogGen.repoName(i), if (i % 3 == 0) "gold" else "std", 1L, "UPSERT")), "dim-1")
        IceLite.addBloomIndex(s, fDir, "idx-repo", "repo")
        MatJoin.create(fDir, dDir, outDir, buckets = 8)
        val r1 = MatJoin.refresh(s, fDir, dDir, outDir)
        require(r1.applied, s"wave-1 backfill must apply: $r1")
        ev.filter(col("offset") >= 1500).repartition(3)
          .write.mode("append").parquet(streamDir)
        graft.cdc.Tail.start(s, streamDir, fDir, ckpt, buckets = 64).awaitTermination()
        applyTierDim(s, dDir, s"${g.root}/dimdump", Seq(
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
        MatJoin.read(s, outDir).select(Gate.stateCols :+ col("tier"): _*).orderBy("repo", "path")
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
        val g = Gate(s, "q155")
        g.genLog(3000, epochs = 3)
        g.dumpDecoded(epochs = 3)
        Replay.replayLog(s, g.log, g.table, buckets = 8)
        val out = graft.lake.Drift.betweenVersions(
          s, g.table, vOld = 1, vNew = 3, "length(content)", bins = 16, width = 64)
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
        import graft.streaming.HeavyHittersStream
        val g = Gate(s, "q202")
        val p = Gate.params(4000).copy(nRepos = 200, pathsPerRepo = 10)
        val ev = g.clock("gen") { LogGen.events(s, p).localCheckpoint() }
        g.clock("decode_dump") { g.dumpDecoded(ev) }
        val dec = s.read.parquet(g.decoded)
        val k = 24; val nShards = 4; val chunks = 3
        graft.functions.Hash60.register(s)
        val keyed = dec.select(col("repo").as("key"), col("seq"))
          .withColumn("shard",
            expr(s"CAST(hash60(concat('hh:', key)) % $nShards AS INT)"))
          .withColumn("band",
            least(lit(chunks - 1), (col("seq") * chunks / p.nEvents).cast("int")))
        val emissions = g.clock("stream") {
          HeavyHittersStream.sketchToCompletion(s, keyed, s"${g.root}/hh", chunks, k)
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
        g.clock("recount") {
          dec.groupBy("repo").agg(count(lit(1)).as("cnt"))
            .join(candKeys, Seq("repo"), "left_semi")
            .filter(col("cnt") * (k + 1) > n)
            .orderBy("repo")
        }
      },
      Some(s"""WITH d AS (SELECT repo FROM parquet_scan('${workDir("q202")}/decoded/*.parquet'))
        SELECT repo, cnt FROM (SELECT repo, count(*) AS cnt FROM d GROUP BY repo) g
        WHERE cnt * 25 > (SELECT count(*) FROM d) ORDER BY repo""")),

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
        val g = Gate(s, "q212")
        g.clock("gen") { g.genLog(3000, epochs = 3) }
        g.clock("decode_dump") { g.dumpDecoded(epochs = 3) }
        g.clock("replay") { Replay.replayLog(s, g.log, g.table, buckets = 8) }
        val head = IceLite.load(g.table).version
        val images = g.clock("images") {
          // window (v1, head]: epochs 1-2's changes against the epoch-0
          // state (the q76 window — v0 is the empty create snapshot, whose
          // pre-evolution schema cannot anchor the pre-image read)
          graft.lake.Cdf.changesWithImages(s, g.table, 1, head).localCheckpoint()
        }
        g.clock("churn") {
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
