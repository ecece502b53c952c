package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.decode.{ChangeEvent, Decode, Framing}
import graft.lake.{IceLite, Merge}
import graft.registry.{DescriptorRegistry, SchemaKey}

/** End-to-end engine tests (SURVEY.md §5.2 items 3-4): decode routing,
  * IceLite commit/fence, MERGE semantics, replay equivalence incl. sha256
  * invariant, idempotent re-replay, schema evolution, streaming tail resume. */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("pipeline-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-$name").toString

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // ------------------------------------------------------------- decode

  test("decode routes: success / invalid_schema / error (reference relationships)") {
    import spark.implicits._
    val fs = Cdc.fsV1
    val desc = fs.findMessage("RepoChange").get
    val good = LogGen.encodeChange(
      LogGen.RawChange("r", "p", "c", "scala", "x", 5L, "UPSERT", ""), desc, fs, includeAuthor = false)
    val events = Seq(
      ChangeEvent(good, "repo_change", 1, "RepoChange", 0, 0L),          // success
      ChangeEvent(good, "no_such_schema", 1, "RepoChange", 0, 1L),       // invalid_schema
      ChangeEvent(good, "repo_change", 1, "NoSuchType", 0, 2L),          // error: unknown type
      ChangeEvent(good, "repo_change", 1, "", 0, 3L),                    // falls back to default type
      ChangeEvent(Array[Byte](0x0f, 0x01), "repo_change", 1, "RepoChange", 0, 4L) // error: malformed
    ).toDS()
    val reg = spark.sparkContext.broadcast(Cdc.registryV1Only)
    val out = Decode.decode(events, reg, SchemaKey("repo_change", -1), "RepoChange", Framing.Raw)
    val routes = out.select("offset", "route").as[(Long, String)].collect().toMap
    assert(routes(0L) == "success")
    assert(routes(1L) == "invalid_schema")
    assert(routes(2L) == "error")
    assert(routes(3L) == "success")
    assert(routes(4L) == "error")
    // dead-letter rows keep the ORIGINAL payload (ProtobufDecoder.java:99-100)
    val dl = Decode.deadLetter(out)
    assert(dl.count() == 3)
    assert(dl.filter(col("offset") === 1L).select("payload").as[Array[Byte]].head().sameElements(good))
    // success rows decode the message fields
    val ok = Decode.success(out)
    assert(ok.filter(col("offset") === 0L).select("repo", "seq").as[(String, Long)].head() == ("r", 5L))
  }

  test("decode: per-event schema version overrides default (config precedence)") {
    import spark.implicits._
    val fs2 = Cdc.fsV2
    val desc2 = fs2.findMessage("RepoChange").get
    val withAuthor = LogGen.encodeChange(
      LogGen.RawChange("r", "p", "c", "scala", "x", 5L, "UPSERT", "alice"), desc2, fs2, includeAuthor = true)
    val events = Seq(
      ChangeEvent(withAuthor, "repo_change", 2, "RepoChange", 0, 0L),
      ChangeEvent(withAuthor, "repo_change", 1, "RepoChange", 0, 1L)  // v1 descriptor: author is unknown → dropped
    ).toDS()
    val reg = spark.sparkContext.broadcast(Cdc.registry)
    val out = Decode.decode(events, reg, SchemaKey("repo_change", 2), "RepoChange")
    val ok = Decode.success(out)
    val byOffset = ok.select("offset", "author").as[(Long, String)].collect().toMap
    assert(byOffset(0L) == "alice")
    assert(byOffset(1L) == "") // v1 has no author field: proto3 default
  }

  test("delimited framing: many messages per payload, good prefix on malformed tail") {
    import spark.implicits._
    val fs = Cdc.fsV1
    val desc = fs.findMessage("RepoChange").get
    val msgs = (1 to 5).map(i => graft.proto.ProtoJson.fromJson(fs, desc,
      s"""{"repo":"r$i","path":"p","seq":"$i"}"""))
    val stream = graft.proto.DynMsg.encodeDelimited(fs, msgs)
    val truncated = stream.dropRight(2)
    val events = Seq(
      ChangeEvent(stream, "repo_change", 1, "RepoChange", 0, 0L),
      ChangeEvent(truncated, "repo_change", 1, "RepoChange", 0, 1L)).toDS()
    val reg = spark.sparkContext.broadcast(Cdc.registryV1Only)
    val out = Decode.decode(events, reg, SchemaKey("repo_change", -1), "RepoChange", Framing.VarintDelimited)
    assert(out.filter(col("route") === "success" && col("offset") === 0L).count() == 5)
    assert(out.filter(col("route") === "success" && col("offset") === 1L).count() == 4)
    assert(out.filter(col("route") === "error" && col("offset") === 1L).count() == 1)
  }

  // ------------------------------------------------------------- icelite

  test("IceLite: create/load/commit, duplicate-epoch fence, history") {
    val dir = tmp("ice")
    val cols = Vector(IceLite.ColDef(1, "k", "STRING"), IceLite.ColDef(2, "v", "BIGINT"))
    val s0 = IceLite.create(dir, cols, Vector("k"), 8)
    assert(IceLite.load(dir).version == 0)
    val s1 = IceLite.commit(dir, s0,
      IceLite.CommitDelta("e7", Set.empty, Vector.empty, s0.currentSchema))
    assert(s1.version == 1 && s1.hasEpoch("e7"))
    // duplicate epoch: no-op, returns current unchanged
    val s2 = IceLite.commit(dir, s1,
      IceLite.CommitDelta("e7", Set.empty, Vector.empty, s1.currentSchema))
    assert(s2.version == 1)
    assert(IceLite.history(dir) == Vector(0, 1))
  }

  // ------------------------------------------------------------- merge

  test("MERGE: upsert wins by seq (LWW), delete removes key, untouched buckets carried") {
    import spark.implicits._
    val dir = tmp("merge")
    Replay.createTable(dir, buckets = 8)
    def upd(rows: Seq[(String, String, String, Long, String)]): DataFrame = {
      val df = rows.toDF("repo", "path", "content", "seq", "op")
        .withColumn("commit", lit("c")).withColumn("lang", lit("scala"))
      // attach field-id metadata as decode would
      val ids = Map("repo" -> 1, "path" -> 2, "commit" -> 3, "lang" -> 4, "content" -> 5)
      df.select(df.columns.map { c =>
        ids.get(c) match {
          case Some(id) => col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("graft.fieldId", id.toLong).build())
          case None => col(c)
        }
      }: _*)
    }
    // epoch 0: a@1, a@3 (LWW→3), b@2
    val st0 = Merge.mergeEpoch(spark, dir, upd(Seq(
      ("r1", "a", "old", 1L, "UPSERT"),
      ("r1", "a", "new", 3L, "UPSERT"),
      ("r1", "b", "bee", 2L, "UPSERT"))), "seq", "op", "e0")
    assert(st0.applied && st0.batchRows == 3) // 3 input events (2 keys after LWW)
    val t0 = IceLite.read(spark, IceLite.load(dir))
    assert(t0.count() == 2)
    assert(t0.filter($"path" === "a").select("content").as[String].head() == "new")
    // epoch 1: delete a, add c
    Merge.mergeEpoch(spark, dir, upd(Seq(
      ("r1", "a", "", 10L, "DELETE"),
      ("r2", "c", "sea", 11L, "UPSERT"))), "seq", "op", "e1")
    val t1 = IceLite.read(spark, IceLite.load(dir))
    assert(sortedRows(t1.select("repo", "path")) == Seq("[r1,b]", "[r2,c]"))
    // replay epoch 1 (duplicate): fenced no-op
    val stDup = Merge.mergeEpoch(spark, dir, upd(Seq(
      ("r9", "z", "zzz", 99L, "UPSERT"))), "seq", "op", "e1")
    assert(!stDup.applied)
    assert(IceLite.read(spark, IceLite.load(dir)).count() == 2)
  }

  test("point lookup: bucket-pruned key get returns current row; deleted key returns none") {
    import spark.implicits._
    val dir = tmp("lkp")
    Replay.createTable(dir, buckets = 8)
    def upd(rows: Seq[(String, String, String, Long, String)]): DataFrame = {
      val df = rows.toDF("repo", "path", "content", "seq", "op")
        .withColumn("commit", lit("c")).withColumn("lang", lit("scala"))
      val ids = Map("repo" -> 1, "path" -> 2, "commit" -> 3, "lang" -> 4, "content" -> 5)
      df.select(df.columns.map { c =>
        ids.get(c) match {
          case Some(id) => col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("graft.fieldId", id.toLong).build())
          case None => col(c)
        }
      }: _*)
    }
    Merge.mergeEpoch(spark, dir, upd(Seq(
      ("r1", "a", "alpha", 1L, "UPSERT"),
      ("r1", "b", "beta", 2L, "UPSERT"),
      ("r2", "a", "gone", 3L, "DELETE"))), "seq", "op", "e0")
    val snap = IceLite.load(dir)
    val hit = IceLite.lookup(spark, snap, Map("repo" -> "r1", "path" -> "b"))
    assert(hit.select("content").as[String].collect().toSeq == Seq("beta"))
    assert(IceLite.lookup(spark, snap, Map("repo" -> "r2", "path" -> "a")).count() == 0) // tombstoned
    assert(IceLite.lookup(spark, snap, Map("repo" -> "rX", "path" -> "z")).count() == 0)
  }

  // ------------------------------------------------------------- replay e2e

  test("replay equivalence: final table == oracle fold, sha256 invariant, idempotent rerun") {
    val logDir = tmp("log")
    val tableDir = tmp("table")
    val p = LogGen.Params(nEvents = 10000, nRepos = 50, pathsPerRepo = 40, v1Fraction = 1.0)
    LogGen.writeLog(spark, p, logDir, epochs = 4)

    val r = Replay.replayLog(spark, logDir, tableDir, buckets = 8)
    assert(r.epochs == 4 && r.stats.forall(_.applied))

    val got = IceLite.read(spark, IceLite.load(tableDir))
    val want = Replay.oracleFold(spark, logDir)
    // per-row invariant vs the oracle: content sha256 equality on (repo, path)
    val g = got.select(col("repo"), col("path"), sha2(col("content"), 256).as("h"))
    val w = want.select(col("repo"), col("path"), sha2(col("content"), 256).as("h"))
    assert(g.exceptAll(w).isEmpty && w.exceptAll(g).isEmpty,
      s"diff: got-only=${g.exceptAll(w).count()}, want-only=${w.exceptAll(g).count()}")
    assert(got.count() == want.count() && got.count() > 0)

    // replay again from scratch: every epoch fenced, state unchanged
    val rowsBefore = sortedRows(got.select("repo", "path", "content"))
    val r2 = Replay.replayLog(spark, logDir, tableDir, buckets = 8)
    assert(r2.stats.forall(!_.applied))
    val rowsAfter = sortedRows(IceLite.read(spark, IceLite.load(tableDir)).select("repo", "path", "content"))
    assert(rowsBefore == rowsAfter)

    // lineage ledger recorded the first run's applied epochs ONLY — fenced
    // re-runs did no work and write no (misleading) ledger rows
    val ledger = Lineage.read(spark, tableDir)
    assert(ledger.count() == 4)
    assert(ledger.filter(col("applied") === false).count() == 0)
  }

  test("schema evolution: v1→v2 mid-log adds author column; old rows null/absent") {
    val logDir = tmp("evlog")
    val tableDir = tmp("evtable")
    val p = LogGen.Params(nEvents = 2000, nRepos = 20, pathsPerRepo = 20, v1Fraction = 0.5)
    LogGen.writeLog(spark, p, logDir, epochs = 4)
    Replay.replayLog(spark, logDir, tableDir, buckets = 8)

    val snap = IceLite.load(tableDir)
    assert(snap.currentSchema.exists(c => c.name == "author" && c.id == 8))
    val t = IceLite.read(spark, snap)
    assert(t.columns.contains("author"))
    // v2-written keys have authors; final state matches oracle incl. author
    val want = Replay.oracleFold(spark, logDir)
    val g = sortedRows(t.select("repo", "path", "content", "author"))
    val w = sortedRows(want.select("repo", "path", "content", "author"))
    assert(g == w)
    assert(t.filter(col("author").isNotNull && col("author") =!= "").count() > 0)
  }

  test("delimited-segment log replays to the same state as the raw log") {
    val rawDir = tmp("rawlog"); val segDir = tmp("seglog")
    val t1 = tmp("rawtable"); val t2 = tmp("segtable")
    val p = LogGen.Params(nEvents = 5000, nRepos = 30, pathsPerRepo = 30, v1Fraction = 0.5)
    LogGen.writeLog(spark, p, rawDir, epochs = 2)
    LogGen.writeSegmentLog(spark, p, segDir, epochs = 2, msgsPerSegment = 64)
    Replay.replayLog(spark, rawDir, t1, buckets = 8)
    Replay.replayLog(spark, segDir, t2, buckets = 8, framing = graft.decode.Framing.VarintDelimited)
    val a = sortedRows(IceLite.read(spark, IceLite.load(t1)).select("repo", "path", "content"))
    val b = sortedRows(IceLite.read(spark, IceLite.load(t2)).select("repo", "path", "content"))
    assert(a == b && a.nonEmpty)
  }

  test("compaction: state preserved, one file per bucket, tombstones purged, vacuum removes garbage") {
    val logDir = tmp("clog"); val tableDir = tmp("ctable")
    val p = LogGen.Params(nEvents = 5000, nRepos = 30, pathsPerRepo = 30)
    LogGen.writeLog(spark, p, logDir, epochs = 4)
    Replay.replayLog(spark, logDir, tableDir, buckets = 8)
    val before = sortedRows(IceLite.read(spark, IceLite.load(tableDir)).select("repo", "path", "content"))
    val filesBefore = IceLite.load(tableDir).files.size
    // expire FIRST: with only the latest snapshot retained no change window
    // can start below it, so compact may purge every tombstone
    graft.lake.Compaction.expire(tableDir, keepLast = 1)
    val st = graft.lake.Compaction.compact(spark, tableDir, epochId = "compact-1000")
    assert(st.rowsAfter > 0)
    val snap = IceLite.load(tableDir)
    assert(snap.files.size <= 8) // one file per bucket
    assert(snap.files.size < filesBefore || filesBefore <= 8)
    val after = sortedRows(IceLite.read(spark, snap).select("repo", "path", "content"))
    assert(before == after)
    // tombstones gone from the physical files
    val hid = IceLite.read(spark, snap, includeHidden = true)
    assert(hid.filter(col("__del") === true).count() == 0)
    // expire old snapshots, then vacuum removes their now-unreferenced epoch
    // files (and orphaned manifests); table still reads. Retention 0 is safe
    // here: single writer, no commit in flight.
    graft.lake.Compaction.expire(tableDir, keepLast = 1)
    val removed = graft.lake.Compaction.vacuum(tableDir, olderThanMs = 0L)
    assert(removed > 0)
    assert(sortedRows(IceLite.read(spark, IceLite.load(tableDir)).select("repo", "path", "content")) == before)
    // compaction is epoch-fenced too
    val st2 = graft.lake.Compaction.compact(spark, tableDir, epochId = "compact-1000")
    assert(st2.buckets == 0)
  }

  // ------------------------------------------------------------- streaming

  test("streaming tail: live arrivals — new segments land between runs and are applied incrementally") {
    import spark.implicits._
    val streamDir = tmp("live"); val tableDir = tmp("ltable"); val ckpt = tmp("lckpt")
    val p1 = LogGen.Params(nEvents = 1000, nRepos = 10, pathsPerRepo = 10)
    // wave 1
    LogGen.events(spark, p1).filter(col("offset") < 600).repartition(2)
      .write.mode("append").parquet(streamDir)
    Tail.start(spark, streamDir, tableDir, ckpt, buckets = 4).awaitTermination()
    val v1 = IceLite.load(tableDir).version
    val rows1 = IceLite.read(spark, IceLite.load(tableDir)).count()
    assert(rows1 > 0)
    // wave 2 arrives later: only the NEW files are processed (offsets 600+)
    LogGen.events(spark, p1).filter(col("offset") >= 600).repartition(2)
      .write.mode("append").parquet(streamDir)
    Tail.start(spark, streamDir, tableDir, ckpt, buckets = 4).awaitTermination()
    assert(IceLite.load(tableDir).version > v1)
    // final state equals the full-log oracle fold
    val reg = spark.sparkContext.broadcast(Cdc.registry)
    val ev = spark.read.parquet(streamDir)
      .select("payload", "schemaId", "schemaVersion", "messageType", "partition", "offset")
      .as[ChangeEvent]
    val upd = Replay.decodeForMerge(ev, reg, None).updates
    val cols = upd.columns
    val oracle = upd.groupBy(col("repo"), col("path"))
      .agg(max_by(struct(cols.map(col): _*), col("seq")).as("__r"))
      .select(col("__r.*")).filter(col("op") =!= "DELETE")
    assert(sortedRows(IceLite.read(spark, IceLite.load(tableDir)).select("repo", "path", "content")) ==
      sortedRows(oracle.select("repo", "path", "content")))
  }

  test("TWO concurrent tails (separate checkpoints) merge into one table; final state = union-log fold") {
    import spark.implicits._
    val s1 = tmp("tail2a"); val s2 = tmp("tail2b")
    val tableDir = tmp("tail2t"); val ck1 = tmp("tail2c1"); val ck2 = tmp("tail2c2")
    val p = LogGen.Params(nEvents = 3000, nRepos = 20, pathsPerRepo = 20)
    val ev0 = LogGen.events(spark, p)
    // disjoint halves of one log, tailed by two INDEPENDENT streams into
    // the SAME table — distinct checkpoint namespaces fence their own
    // batches; concurrent delta-append commits REBASE (never lost-update):
    // version-ordered LWW makes cross-stream apply order irrelevant
    ev0.filter(col("offset") % 2 === 0).repartition(3).write.mode("overwrite").parquet(s1)
    ev0.filter(col("offset") % 2 === 1).repartition(3).write.mode("overwrite").parquet(s2)
    // high threshold keeps every epoch on the delta path: inline COW under
    // true concurrency would (correctly) conflict loudly, which is the
    // compaction-vs-writer protocol, not this test's subject
    val q1 = Tail.start(spark, s1, tableDir, ck1, buckets = 4, deltaThreshold = 1000)
    val q2 = Tail.start(spark, s2, tableDir, ck2, buckets = 4, deltaThreshold = 1000)
    q1.awaitTermination(); q2.awaitTermination()

    val reg = spark.sparkContext.broadcast(Cdc.registry)
    val all = spark.read.parquet(s1).unionByName(spark.read.parquet(s2))
      .select("payload", "schemaId", "schemaVersion", "messageType", "partition", "offset")
      .as[ChangeEvent]
    val upd = Replay.decodeForMerge(all, reg, None).updates
    val cols = upd.columns
    val oracle = upd.groupBy(col("repo"), col("path"))
      .agg(max_by(struct(cols.map(col): _*), col("seq")).as("__r"))
      .select(col("__r.*")).filter(col("op") =!= "DELETE")
    assert(sortedRows(IceLite.read(spark, IceLite.load(tableDir)).select("repo", "path", "content")) ==
      sortedRows(oracle.select("repo", "path", "content")))
    // both namespaces committed epochs
    assert(IceLite.load(tableDir).ledger.namespaces.size >= 2)
  }

  test("streaming tail: AvailableNow over segments, checkpoint resume is exactly-once") {
    import spark.implicits._
    val streamDir = tmp("stream")
    val tableDir = tmp("stable")
    val ckpt = tmp("ckpt")
    val p = LogGen.Params(nEvents = 3000, nRepos = 20, pathsPerRepo = 20)

    // stage the log as many small files so maxFilesPerTrigger yields several batches
    LogGen.events(spark, p).repartition(6).write.mode("overwrite").parquet(streamDir)

    val q1 = Tail.start(spark, streamDir, tableDir, ckpt, buckets = 8, maxFilesPerTrigger = 2)
    q1.awaitTermination()
    val afterFirst = IceLite.read(spark, IceLite.load(tableDir))
    val logDf = spark.read.parquet(streamDir)
    val oracle = {
      val reg = spark.sparkContext.broadcast(Cdc.registry)
      val ev = logDf.select("payload", "schemaId", "schemaVersion", "messageType", "partition", "offset").as[ChangeEvent]
      val upd = Replay.decodeForMerge(ev, reg, None).updates
      val cols = upd.columns
      upd.groupBy(col("repo"), col("path"))
        .agg(max_by(struct(cols.map(col): _*), col("seq")).as("__r"))
        .select(col("__r.*")).filter(col("op") =!= "DELETE").drop("op", "seq")
    }
    assert(sortedRows(afterFirst.select("repo", "path", "content")) ==
      sortedRows(oracle.select("repo", "path", "content")))

    // restart with the same checkpoint: no new data → no state change
    val versBefore = IceLite.load(tableDir).version
    val q2 = Tail.start(spark, streamDir, tableDir, ckpt, buckets = 8, maxFilesPerTrigger = 2)
    q2.awaitTermination()
    assert(IceLite.load(tableDir).version == versBefore)
  }

  test("backfill replay then streaming tail on the same table: no false fencing across namespaces") {
    import spark.implicits._
    val logDir = tmp("bk-log"); val streamDir = tmp("bk-stream")
    val tableDir = tmp("bk-table"); val ckpt = tmp("bk-ckpt")
    val p = LogGen.Params(nEvents = 1000, nRepos = 10, pathsPerRepo = 10)
    // backfill the first 600 events via batch replay (epochs replay-0, replay-1)
    LogGen.events(spark, p).filter(col("offset") < 600)
      .withColumn("epoch", (col("offset") / 300).cast("long"))
      .write.partitionBy("epoch").mode("overwrite").parquet(logDir)
    Replay.replayLog(spark, logDir, tableDir, buckets = 4)
    assert(IceLite.load(tableDir).ledger.namespaces == Set("replay"))
    // tail the remainder into the SAME table; its batchId 0 must NOT be
    // swallowed by the backfill's epoch 0 (the old single-namespace bug)
    LogGen.events(spark, p).filter(col("offset") >= 600).repartition(2)
      .write.mode("append").parquet(streamDir)
    Tail.start(spark, streamDir, tableDir, ckpt, buckets = 4).awaitTermination()
    // final state equals the full-log oracle fold
    val reg = spark.sparkContext.broadcast(Cdc.registry)
    val upd = Replay.decodeForMerge(LogGen.events(spark, p), reg, None).updates
    val cols = upd.columns
    val oracle = upd.groupBy(col("repo"), col("path"))
      .agg(max_by(struct(cols.map(col): _*), col("seq")).as("__r"))
      .select(col("__r.*")).filter(col("op") =!= "DELETE")
    assert(sortedRows(IceLite.read(spark, IceLite.load(tableDir)).select("repo", "path", "content")) ==
      sortedRows(oracle.select("repo", "path", "content")))
  }

  test("commit: concurrent disjoint commit rebases (no lost update); overlapping buckets fail loudly") {
    val dir = tmp("cc")
    val cols = IceLite.withCdcCols(Vector(IceLite.ColDef(1, "k", "STRING")))
    val base = IceLite.create(dir, cols, Vector("k"), 8)
    val fA = IceLite.DataFile("a.parquet", 1, -1, 0)
    val fB = IceLite.DataFile("b.parquet", 2, -1, 0)
    // writer A commits bucket 1
    IceLite.commit(dir, base, IceLite.CommitDelta("A-0", Set(1), Vector(fA), base.currentSchema))
    // writer B still holds the stale base and commits bucket 2 → rebases over
    // A's commit: A's file AND epoch survive (the round-1 lost-update bug)
    val after = IceLite.commit(dir, base, IceLite.CommitDelta("B-0", Set(2), Vector(fB), base.currentSchema))
    assert(after.hasEpoch("A-0") && after.hasEpoch("B-0"))
    assert(after.files.map(_.path).toSet == Set("a.parquet", "b.parquet"))
    // writer C holds the stale base and touches bucket 1 (overlaps A's
    // rewrite): silent loss is impossible — the commit fails loudly
    val fC = IceLite.DataFile("c.parquet", 1, -1, 0)
    intercept[java.util.ConcurrentModificationException] {
      IceLite.commit(dir, base, IceLite.CommitDelta("C-0", Set(1), Vector(fC), base.currentSchema))
    }
  }

  test("merge-on-read: epochs append O(batch) deltas, buckets COW-compact at the file threshold, reads resolve LWW") {
    import spark.implicits._
    val dir = tmp("mor")
    Replay.createTable(dir, buckets = 2)
    def upd(rows: Seq[(String, String, String, Long, String)]): DataFrame = {
      val df = rows.toDF("repo", "path", "content", "seq", "op")
        .withColumn("commit", lit("c")).withColumn("lang", lit("scala"))
      val ids = Map("repo" -> 1, "path" -> 2, "commit" -> 3, "lang" -> 4, "content" -> 5)
      df.select(df.columns.map { c =>
        ids.get(c) match {
          case Some(id) => col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("graft.fieldId", id.toLong).build())
          case None => col(c)
        }
      }: _*)
    }
    // epochs 0..3 upsert the same two keys with rising seq; threshold 3 ⇒
    // the first epochs write deltas, later ones COW-compact inline
    val sts = (0 to 3).map { e =>
      Merge.mergeEpoch(spark, dir, upd(Seq(
        ("r1", "a", s"v$e", (10 + e).toLong, "UPSERT"),
        ("r2", "b", s"w$e", (20 + e).toLong, if (e == 3) "DELETE" else "UPSERT"))),
        "seq", "op", s"mor-$e", updateKeys = None, deltaThreshold = 3)
    }
    assert(sts(0).cowBuckets == 0, "first epoch must take the delta path")
    assert(sts.exists(_.cowBuckets > 0), "threshold must trigger inline COW")
    val snap = IceLite.load(dir)
    assert(snap.files.exists(_.delta) || sts.last.cowBuckets == 2)
    // read resolves newest-seq-wins across base+delta files; DELETE holds
    val t = IceLite.read(spark, snap)
    assert(sortedRows(t.select("repo", "path", "content")) == Seq("[r1,a,v3]"))
    // compaction collapses every delta into one base file per bucket
    graft.lake.Compaction.compact(spark, dir, "compact-mor")
    val snap2 = IceLite.load(dir)
    assert(!snap2.files.exists(_.delta) && snap2.files.size <= 2)
    assert(sortedRows(IceLite.read(spark, snap2).select("repo", "path", "content")) == Seq("[r1,a,v3]"))
  }

  test("merge sub-splits: shards are independent of buckets (gcd-correlation regression)") {
    import spark.implicits._
    // local[4] ⇒ minTasks = 16; 8 touched buckets ⇒ subSplits = 2, and
    // gcd(2, 8) = 2: with the OLD __sub = xxhash64(keys) % 2 every row of a
    // bucket landed in ONE shard (h % 8 determines h % 2) — the "task count
    // decoupled from buckets" feature was a no-op. With the seeded hash the
    // two shards of (nearly) every bucket are non-empty.
    val dir = tmp("shard")
    Replay.createTable(dir, buckets = 8)
    val rows = (1 to 2000).map(i => (s"r${i % 37}", s"p$i", s"c$i", i.toLong, "UPSERT"))
    val df0 = rows.toDF("repo", "path", "content", "seq", "op")
      .withColumn("commit", lit("c")).withColumn("lang", lit("scala"))
    val ids = Map("repo" -> 1, "path" -> 2, "commit" -> 3, "lang" -> 4, "content" -> 5)
    val df = df0.select(df0.columns.map { c =>
      ids.get(c) match {
        case Some(id) => col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("graft.fieldId", id.toLong).build())
        case None => col(c)
      }
    }: _*)
    // pin the per-task byte target low so the scale-adaptive sizing still
    // chooses the multi-shard regime this regression test is about
    graft.Conf.withConf(spark, "spark.graft.merge.targetBytesPerTask" -> "1") {
      Merge.mergeEpoch(spark, dir, df, "seq", "op", "shard-0")
    }
    // one parquet file per non-empty (bucket, shard): ≥2 files in (nearly)
    // every bucket proves both shards carry rows
    val filesPerBucket = IceLite.load(dir).files.groupBy(_.bucket).view.mapValues(_.size)
    assert(filesPerBucket.values.count(_ >= 2) >= 6,
      s"expected ≥2 shard files in most of the 8 buckets, got $filesPerBucket")
  }

  test("crash recovery: an orphaned epoch dir (written but never committed) is overwritten on re-merge") {
    val logDir = tmp("cr-log"); val tableDir = tmp("cr-table")
    val p = LogGen.Params(nEvents = 2000, nRepos = 10, pathsPerRepo = 10)
    LogGen.writeLog(spark, p, logDir, epochs = 2)
    // simulate a crash between the data write and the commit: the epoch dir
    // exists with junk, but the snapshot never fenced the epoch
    Replay.createTable(tableDir, buckets = 4)
    val orphan = java.nio.file.Paths.get(tableDir, "data", "epoch=replay-0", "__bucket=0")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-garbage.parquet"), Array[Byte](1, 2, 3))
    // replay re-runs the epoch: the orphan output is overwritten, the commit
    // lands, and the final state still equals the oracle fold
    val r = Replay.replayLog(spark, logDir, tableDir, buckets = 4)
    assert(r.stats.forall(_.applied))
    val got = IceLite.read(spark, IceLite.load(tableDir))
    val want = Replay.oracleFold(spark, logDir)
    assert(sortedRows(got.select("repo", "path", "content")) ==
      sortedRows(want.select("repo", "path", "content")))
    assert(got.count() > 0)
  }

  test("incremental change feed: changes between snapshot versions = later epochs' rows incl. tombstones") {
    import spark.implicits._
    val dir = tmp("feed")
    Replay.createTable(dir, buckets = 2)
    def upd(rows: Seq[(String, String, String, Long, String)]): DataFrame = {
      val df = rows.toDF("repo", "path", "content", "seq", "op")
        .withColumn("commit", lit("c")).withColumn("lang", lit("scala"))
      val ids = Map("repo" -> 1, "path" -> 2, "commit" -> 3, "lang" -> 4, "content" -> 5)
      df.select(df.columns.map { c =>
        ids.get(c) match {
          case Some(id) => col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("graft.fieldId", id.toLong).build())
          case None => col(c)
        }
      }: _*)
    }
    Merge.mergeEpoch(spark, dir, upd(Seq(
      ("r1", "a", "v0", 1L, "UPSERT"),
      ("r2", "b", "w0", 2L, "UPSERT"))), "seq", "op", "f-0")
    val v1 = IceLite.load(dir).version
    // force an inline COW on one epoch too (threshold 0) so the watermark
    // filter must exclude carried-along old rows
    Merge.mergeEpoch(spark, dir, upd(Seq(
      ("r1", "a", "v1", 10L, "UPSERT"),
      ("r3", "c", "x1", 11L, "UPSERT"),
      ("r2", "b", "", 12L, "DELETE"))), "seq", "op", "f-1", deltaThreshold = 0)
    val v2 = IceLite.load(dir).version
    val feed = IceLite.changes(spark, dir, v1, v2)
      .select("repo", "path", "content", "__seq", "__del")
    // exactly the second epoch's change rows — upserts AND the tombstone,
    // none of epoch f-0's rows even though the COW rewrite carried them
    assert(sortedRows(feed) == Seq("[r1,a,v1,10,false]", "[r2,b,,12,true]", "[r3,c,x1,11,false]"))
  }

  test("change feed: a LATE low-seq event in a later epoch is fed (not dropped by the watermark)") {
    import spark.implicits._
    val dir = tmp("late")
    Replay.createTable(dir, buckets = 2)
    def upd(rows: Seq[(String, String, String, Long, String)]): DataFrame = {
      val df = rows.toDF("repo", "path", "content", "seq", "op")
        .withColumn("commit", lit("c")).withColumn("lang", lit("scala"))
      val ids = Map("repo" -> 1, "path" -> 2, "commit" -> 3, "lang" -> 4, "content" -> 5)
      df.select(df.columns.map { c =>
        ids.get(c) match {
          case Some(id) => col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("graft.fieldId", id.toLong).build())
          case None => col(c)
        }
      }: _*)
    }
    Merge.mergeEpoch(spark, dir, upd(Seq(
      ("r1", "a", "v0", 100L, "UPSERT"))), "seq", "op", "lt-0")
    val v1 = IceLite.load(dir).version
    assert(IceLite.load(dir).maxSeq == 100L)
    // epoch 2 carries a LATE event: a new key with seq 5 << the watermark
    // (100). The r2 feed filtered ALL window rows by __seq > 100 and
    // silently dropped it; delta files are now read unfiltered.
    Merge.mergeEpoch(spark, dir, upd(Seq(
      ("r9", "late", "lv", 5L, "UPSERT"))), "seq", "op", "lt-1")
    val v2 = IceLite.load(dir).version
    val feed = IceLite.changes(spark, dir, v1, v2).select("repo", "path", "content", "__seq")
    assert(sortedRows(feed) == Seq("[r9,late,lv,5]"))
    // same shape under inline COW (threshold 0): the origin split keeps the
    // epoch's batch rows in a delta file even when the bucket compacts
    Merge.mergeEpoch(spark, dir, upd(Seq(
      ("r9", "late2", "lw", 6L, "UPSERT"))), "seq", "op", "lt-2", deltaThreshold = 0)
    val v3 = IceLite.load(dir).version
    val feed2 = IceLite.changes(spark, dir, v2, v3).select("repo", "path", "content", "__seq")
    assert(sortedRows(feed2) == Seq("[r9,late2,lw,6]"))
  }

  test("change feed across a schema-evolution boundary: old-epoch rows null-fill the new column") {
    import spark.implicits._
    val dir = tmp("evfeed")
    Replay.createTable(dir, buckets = 2)
    def updV1(rows: Seq[(String, String, String, Long, String)]): DataFrame = {
      val df = rows.toDF("repo", "path", "content", "seq", "op")
        .withColumn("commit", lit("c")).withColumn("lang", lit("scala"))
      val ids = Map("repo" -> 1, "path" -> 2, "commit" -> 3, "lang" -> 4, "content" -> 5)
      df.select(df.columns.map { c =>
        ids.get(c) match {
          case Some(id) => col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("graft.fieldId", id.toLong).build())
          case None => col(c)
        }
      }: _*)
    }
    def updV2(rows: Seq[(String, String, String, String, Long, String)]): DataFrame = {
      val df = rows.toDF("repo", "path", "content", "author", "seq", "op")
        .withColumn("commit", lit("c")).withColumn("lang", lit("scala"))
      val ids = Map("repo" -> 1, "path" -> 2, "commit" -> 3, "lang" -> 4, "content" -> 5, "author" -> 8)
      df.select(df.columns.map { c =>
        ids.get(c) match {
          case Some(id) => col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("graft.fieldId", id.toLong).build())
          case None => col(c)
        }
      }: _*)
    }
    Merge.mergeEpoch(spark, dir, updV1(Seq(("r1", "a", "v0", 1L, "UPSERT"))), "seq", "op", "ef-0")
    val v1 = IceLite.load(dir).version
    // epoch 2 (still old schema), epoch 3 evolves: adds author (field 8)
    Merge.mergeEpoch(spark, dir, updV1(Seq(("r2", "b", "v1", 2L, "UPSERT"))), "seq", "op", "ef-1")
    Merge.mergeEpoch(spark, dir, updV2(Seq(("r3", "c", "v2", "alice", 3L, "UPSERT"))), "seq", "op", "ef-2")
    val v3 = IceLite.load(dir).version
    // the feed spans the evolution boundary: rows map to the CURRENT schema
    // by field id — pre-evolution rows carry author = null
    val feed = IceLite.changes(spark, dir, v1, v3)
      .select("repo", "path", "content", "author", "__seq")
    assert(sortedRows(feed) == Seq("[r2,b,v1,null,2]", "[r3,c,v2,alice,3]"))
  }

  test("stats pruning: point lookup opens fewer files than the bucket holds (footer key bounds)") {
    import spark.implicits._
    val dir = tmp("prune")
    Replay.createTable(dir, buckets = 1) // every key in ONE bucket
    def upd(rows: Seq[(String, String, String, Long, String)]): DataFrame = {
      val df = rows.toDF("repo", "path", "content", "seq", "op")
        .withColumn("commit", lit("c")).withColumn("lang", lit("scala"))
      val ids = Map("repo" -> 1, "path" -> 2, "commit" -> 3, "lang" -> 4, "content" -> 5)
      df.select(df.columns.map { c =>
        ids.get(c) match {
          case Some(id) => col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("graft.fieldId", id.toLong).build())
          case None => col(c)
        }
      }: _*)
    }
    // four delta epochs over DISJOINT key ranges → four delta files whose
    // footer bounds don't overlap
    Merge.mergeEpoch(spark, dir, upd((1 to 20).map(i => ("a", f"p$i%02d", "x", i.toLong, "UPSERT"))), "seq", "op", "pr-0")
    Merge.mergeEpoch(spark, dir, upd((1 to 20).map(i => ("b", f"p$i%02d", "x", (100 + i).toLong, "UPSERT"))), "seq", "op", "pr-1")
    Merge.mergeEpoch(spark, dir, upd((1 to 20).map(i => ("c", f"p$i%02d", "x", (200 + i).toLong, "UPSERT"))), "seq", "op", "pr-2")
    Merge.mergeEpoch(spark, dir, upd((1 to 20).map(i => ("d", f"p$i%02d", "x", (300 + i).toLong, "UPSERT"))), "seq", "op", "pr-3")
    val snap = IceLite.load(dir)
    assert(snap.files.forall(f => f.keyMin.nonEmpty && f.rows > 0), "footer stats must be recorded")
    // the bucket holds ≥4 files, but a lookup key under repo=c can only be
    // in files whose repo bounds admit "c"
    val openable = snap.files.filter(_.mayContainKey(Seq("c", "p05")))
    assert(snap.files.size >= 4 && openable.size < snap.files.size,
      s"pruning must skip files: ${openable.size} of ${snap.files.size}")
    assert(openable.nonEmpty)
    val hit = IceLite.lookup(spark, snap, Map("repo" -> "c", "path" -> "p05"))
    assert(hit.count() == 1)
    // seq stats power the change feed's file pruning too
    assert(snap.files.forall(f => f.minSeq >= 1 && f.maxSeq <= 320))
  }

  test("metadata scale: 10k-file table commits O(delta) metadata; epoch ledger stays bounded") {
    val dir = tmp("meta")
    val cols = IceLite.withCdcCols(Vector(IceLite.ColDef(1, "k", "STRING")))
    val base = IceLite.create(dir, cols, Vector("k"), 64)
    // seed commit: 10,000 synthetic files across all buckets
    val many = (0 until 10000).map(i =>
      IceLite.DataFile(s"f$i.parquet", i % 64, 10, 0, delta = true)).toVector
    val s1 = IceLite.commit(dir, base, IceLite.CommitDelta("seed-0", Set.empty, many, cols))
    assert(s1.files.size == 10000)
    def metaBytes(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      val md = java.nio.file.Paths.get(dir, "meta")
      Files.list(md).iterator().asScala
        .map(p => p.getFileName.toString -> Files.size(p)).toMap
    }
    val before = metaBytes()
    // a delta-append epoch adds 2 files → it must WRITE only a snapshot
    // JSON + manifests covering the adds, not re-serialize the 10k list
    val s2 = IceLite.commit(dir, s1, IceLite.CommitDelta("seed-1", Set.empty,
      Vector(IceLite.DataFile("g0.parquet", 0, 10, 0, delta = true),
             IceLite.DataFile("g1.parquet", 1, 10, 0, delta = true)), cols))
    val after = metaBytes()
    val newFiles = after.keySet -- before.keySet
    val newBytes = newFiles.toSeq.map(after).sum
    val totalManifestBytes = after.collect { case (n, sz) if n.startsWith("m-") => sz }.sum
    assert(s2.files.size == 10002)
    assert(newBytes < totalManifestBytes / 20,
      s"append commit wrote $newBytes bytes vs $totalManifestBytes total manifest bytes — not O(delta)")
    // snapshot JSON itself is O(manifests + schema), never O(files)
    val snapBytes = after(f"v${s2.version}%05d.json")
    assert(snapBytes < 8192, s"snapshot JSON is $snapBytes bytes — must not inline the file list")
    // epoch ledger: 10k contiguous epochs collapse to one watermark
    val led = (0 until 10000).foldLeft(IceLite.EpochLedger.empty)((l, i) => l.add(s"replay-$i"))
    assert(led.watermarks == Map("replay" -> 9999L) && led.recent.isEmpty)
    assert(led.contains("replay-7321") && !led.contains("replay-10000"))
    // out-of-order ids are held until the gap closes, then absorbed
    val led2 = IceLite.EpochLedger.empty.add("t-0").add("t-2").add("t-1")
    assert(led2.watermarks("t") == 2L && led2.recent.isEmpty)
  }

  test("manifest maintenance: a range passing the manifest threshold merges in-commit; COW rewrites only its range") {
    val dir = tmp("manif")
    val cols = IceLite.withCdcCols(Vector(IceLite.ColDef(1, "k", "STRING")))
    var snap = IceLite.create(dir, cols, Vector("k"), 64) // 16 ranges of 4 buckets
    // 12 append epochs, each adding one delta file to bucket 0 (range 0)
    (0 until 12).foreach { e =>
      snap = IceLite.commit(dir, snap, IceLite.CommitDelta(s"mf-$e", Set.empty,
        Vector(IceLite.DataFile(s"d$e.parquet", 0, 1, 0, delta = true)), cols))
    }
    // the per-range merge keeps range 0 at ≤ the compaction threshold while
    // every file stays referenced
    val refs0 = snap.manifests.filter(_.range == 0)
    assert(refs0.size <= IceLite.manifestCompactAt, s"range 0 has ${refs0.size} manifests")
    assert(snap.files.count(_.bucket == 0) == 12)
    // a COW of bucket 63 (range 15) must not touch range 0's manifests
    val before0 = snap.manifests.filter(_.range == 0).map(_.path).toSet
    snap = IceLite.commit(dir, snap, IceLite.CommitDelta("mf-cow", Set(63),
      Vector(IceLite.DataFile("c63.parquet", 63, 1, 0)), cols))
    assert(snap.manifests.filter(_.range == 0).map(_.path).toSet == before0)
    assert(snap.files.exists(_.path == "c63.parquet"))
    // reload from disk reproduces the same file view
    assert(IceLite.load(dir).files.map(_.path).toSet == snap.files.map(_.path).toSet)
  }

  test("epoch ledger: non-numeric ids, mixed namespaces, and fencing across both") {
    var l = IceLite.EpochLedger.empty
    l = l.add("oneoff").add("replay-0").add("tail-ab12cd34-0").add("replay-1").add("tail-ab12cd34-5")
    assert(l.contains("oneoff") && !l.contains("other"))
    assert(l.contains("replay-0") && l.contains("replay-1") && !l.contains("replay-2"))
    assert(l.contains("tail-ab12cd34-0") && l.contains("tail-ab12cd34-5") && !l.contains("tail-ab12cd34-3"))
    assert(!l.contains("tail-ffffffff-0")) // different checkpoint namespace
    assert(l.watermarks("replay") == 1L && l.watermarks("tail-ab12cd34") == 0L)
    assert(l.recent("tail-ab12cd34") == Set(5L))
    assert(l.count == 5L)
    // distinct ids must never collapse onto one fence entry: "run-07" and
    // "run-7" are different epochs (leading-zero suffixes are exact-match),
    // and an overlong numeric suffix must not crash the parse
    val l2 = IceLite.EpochLedger.empty.add("run-7")
    assert(!l2.contains("run-07"))
    assert(l2.add("run-07").contains("run-07"))
    val big = "x-99999999999999999999" // > Long.MaxValue digits
    assert(!l2.contains(big) && l2.add(big).contains(big))
  }

  test("commit: a concurrent rebucket invalidates stale-base commits (bucket ids are layout-relative)") {
    val dir = tmp("rbrace")
    val cols = IceLite.withCdcCols(Vector(IceLite.ColDef(1, "k", "STRING")))
    val base = IceLite.create(dir, cols, Vector("k"), 4)
    // rebucket lands first (4 → 16 buckets)
    IceLite.commitRebucket(dir, base, "rb-race-0", 16,
      Vector(IceLite.DataFile("base0.parquet", 3, 1, 0)))
    // a delta-append computed against the OLD layout must fail loudly:
    // its bucket ids/hashes are mod 4 and would be invisible to mod-16 reads
    intercept[java.util.ConcurrentModificationException] {
      IceLite.commit(dir, base, IceLite.CommitDelta("stale-append-0", Set.empty,
        Vector(IceLite.DataFile("stale.parquet", 2, 1, 0, delta = true)), cols))
    }
  }

  test("key-bounds pruning compares in parquet's UTF-8 byte order, not UTF-16") {
    // U+E000 (private use) > U+1F600 (😀) in UTF-16 code units, but < in
    // UTF-8 bytes — the order parquet footer stats use. A file whose bounds
    // are [z, 😀] DOES possibly contain "" and must not be pruned.
    val f = IceLite.DataFile("f.parquet", 0, 1, 0,
      keyMin = Vector("z"), keyMax = Vector("😀"))
    assert(f.mayContainKey(Seq("")))
    assert(!f.mayContainKey(Seq("y")))       // below lo in both orders
    assert(f.mayContainKey(Seq("zz")))
  }

  test("incremental compaction: disjoint-bucket compaction and merge both commit; overlap conflicts") {
    import spark.implicits._
    val dir = tmp("inc")
    Replay.createTable(dir, buckets = 4)
    def upd(rows: Seq[(String, String, String, Long, String)]): DataFrame = {
      val df = rows.toDF("repo", "path", "content", "seq", "op")
        .withColumn("commit", lit("c")).withColumn("lang", lit("scala"))
      val ids = Map("repo" -> 1, "path" -> 2, "commit" -> 3, "lang" -> 4, "content" -> 5)
      df.select(df.columns.map { c =>
        ids.get(c) match {
          case Some(id) => col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("graft.fieldId", id.toLong).build())
          case None => col(c)
        }
      }: _*)
    }
    (0 to 2).foreach { e =>
      Merge.mergeEpoch(spark, dir, upd((1 to 40).map(i =>
        ("r" + i % 7, s"p$i", s"v$e-$i", (e * 100 + i).toLong, "UPSERT"))), "seq", "op", s"ic-$e")
    }
    val before = sortedRows(IceLite.read(spark, IceLite.load(dir)).select("repo", "path", "content"))
    val snap = IceLite.load(dir)
    val someBuckets = snap.files.map(_.bucket).distinct.sorted.take(2).toSet
    // compact only a SUBSET of buckets — the conflict window is that subset
    val st = graft.lake.Compaction.compact(spark, dir, "compact-1", Some(someBuckets))
    assert(st.buckets == someBuckets.size)
    assert(sortedRows(IceLite.read(spark, IceLite.load(dir)).select("repo", "path", "content")) == before)
    // compacted buckets hold base files only; others keep their deltas
    val snap2 = IceLite.load(dir)
    assert(snap2.files.filter(f => someBuckets(f.bucket)).forall(!_.delta))
    assert(snap2.files.exists(_.delta))

    // ---- racing writers against a STALE base (the concurrency contract):
    val stale = snap2
    val otherBucket = snap2.files.map(_.bucket).find(b => !someBuckets(b)).get
    // 1. compaction of bucket X commits first (replaces its files with a
    // fresh base file)…
    val cFiles = Vector(IceLite.DataFile("compacted-x.parquet", otherBucket, 1, 0))
    IceLite.commit(dir, stale, IceLite.CommitDelta("race-compact-0", Set(otherBucket), cFiles, stale.currentSchema))
    // 2. …then a delta-append to the SAME bucket from the stale base must
    // FAIL LOUDLY: the compaction may have purged tombstones this delta's
    // read-time LWW depends on (the r2 conflict check missed append buckets)
    intercept[java.util.ConcurrentModificationException] {
      IceLite.commit(dir, stale, IceLite.CommitDelta("race-append-0", Set.empty,
        Vector(IceLite.DataFile("zz.parquet", otherBucket, 1, 0, delta = true)), stale.currentSchema))
    }
    // 3. a delta-append to a DIFFERENT bucket rebases cleanly
    val freeBucket = snap2.files.map(_.bucket).find(b => !someBuckets(b) && b != otherBucket)
      .getOrElse((0 until 4).find(b => b != otherBucket && !someBuckets(b)).get)
    val ok = IceLite.commit(dir, stale, IceLite.CommitDelta("race-append-1", Set.empty,
      Vector(IceLite.DataFile("yy.parquet", freeBucket, 1, 0, delta = true)), stale.currentSchema))
    assert(ok.hasEpoch("race-compact-0") && ok.hasEpoch("race-append-1"))
  }

  test("concurrent writers: two full merges race through the real path; both land (delta-append rebase)") {
    import spark.implicits._
    val dir = tmp("conc")
    Replay.createTable(dir, buckets = 8)
    def upd(rows: Seq[(String, String, String, Long, String)]): DataFrame = {
      val df = rows.toDF("repo", "path", "content", "seq", "op")
        .withColumn("commit", lit("c")).withColumn("lang", lit("scala"))
      val ids = Map("repo" -> 1, "path" -> 2, "commit" -> 3, "lang" -> 4, "content" -> 5)
      df.select(df.columns.map { c =>
        ids.get(c) match {
          case Some(id) => col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("graft.fieldId", id.toLong).build())
          case None => col(c)
        }
      }: _*)
    }
    // two writers with different key sets, racing on the SAME fresh table:
    // both take the delta-append path, so whichever commits second rebases
    // over the first (no lost update, no conflict)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(Merge.mergeEpoch(spark, dir,
      upd((1 to 50).map(i => ("ra", s"p$i", s"a$i", i.toLong, "UPSERT"))), "seq", "op", "wA-0"))
    val fb = Future(Merge.mergeEpoch(spark, dir,
      upd((1 to 50).map(i => ("rb", s"p$i", s"b$i", (100 + i).toLong, "UPSERT"))), "seq", "op", "wB-0"))
    val (sa, sb) = (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
    assert(sa.applied && sb.applied)
    val snap = IceLite.load(dir)
    assert(snap.hasEpoch("wA-0") && snap.hasEpoch("wB-0"))
    val t = IceLite.read(spark, snap)
    assert(t.filter(col("repo") === "ra").count() == 50)
    assert(t.filter(col("repo") === "rb").count() == 50)
  }

  test("rebucket: table re-layouts to a new bucket count; state, lookups and merges keep working") {
    import spark.implicits._
    val logDir = tmp("rb-log"); val dir = tmp("rb-table")
    val p = LogGen.Params(nEvents = 4000, nRepos = 20, pathsPerRepo = 20)
    LogGen.writeLog(spark, p, logDir, epochs = 2)
    Replay.replayLog(spark, logDir, dir, buckets = 4)
    val before = sortedRows(IceLite.read(spark, IceLite.load(dir)).select("repo", "path", "content"))

    val st = graft.lake.Compaction.rebucket(spark, dir, newBuckets = 16, epochId = "rebucket-1")
    assert(st.buckets == 16)
    val snap = IceLite.load(dir)
    assert(snap.buckets == 16)
    assert(snap.files.forall(f => f.bucket >= 0 && f.bucket < 16 && !f.delta))
    assert(sortedRows(IceLite.read(spark, snap).select("repo", "path", "content")) == before)

    // lookups route through the NEW bucket expression
    val sample = IceLite.read(spark, snap).select("repo", "path", "content")
      .orderBy("repo", "path").head()
    val hit = IceLite.lookup(spark, snap,
      Map("repo" -> sample.getString(0), "path" -> sample.getString(1)))
    assert(hit.select("content").as[String].head() == sample.getString(2))

    // a later merge works against the new layout (and a tombstone from
    // before the rebucket still beats a late lower-seq upsert)
    def upd(rows: Seq[(String, String, String, Long, String)]): DataFrame = {
      val df = rows.toDF("repo", "path", "content", "seq", "op")
        .withColumn("commit", lit("c")).withColumn("lang", lit("scala"))
      val ids = Map("repo" -> 1, "path" -> 2, "commit" -> 3, "lang" -> 4, "content" -> 5)
      df.select(df.columns.map { c =>
        ids.get(c) match {
          case Some(id) => col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("graft.fieldId", id.toLong).build())
          case None => col(c)
        }
      }: _*)
    }
    Merge.mergeEpoch(spark, dir, upd(Seq(("zz", "new", "post-rebucket", 10_000_000L, "UPSERT"))),
      "seq", "op", "post-rb-0")
    val after = IceLite.load(dir)
    assert(IceLite.lookup(spark, after, Map("repo" -> "zz", "path" -> "new")).count() == 1)
    assert(IceLite.read(spark, after).count() == before.size + 1)
    // rebucket is fenced like any epoch
    val st2 = graft.lake.Compaction.rebucket(spark, dir, newBuckets = 16, epochId = "rebucket-1")
    assert(st2.buckets == 0)
  }

  test("lineage ledger records per-route and per-partition decode counts incl. dead letters") {
    import spark.implicits._
    val logDir = tmp("dl-log"); val tableDir = tmp("dl-table")
    val fs = Cdc.fsV1
    val desc = fs.findMessage("RepoChange").get
    val good = (1 to 8).map { i =>
      val payload = LogGen.encodeChange(
        LogGen.RawChange(s"r$i", "p", "c", "scala", "x", i.toLong, "UPSERT", ""), desc, fs, includeAuthor = false)
      ChangeEvent(payload, "repo_change", 1, "RepoChange", i % 2, i.toLong)
    }
    val bad = Seq(
      ChangeEvent(Array[Byte](0x0f, 0x01), "repo_change", 1, "RepoChange", 0, 100L), // malformed → error
      ChangeEvent(good.head.payload, "no_such_schema", 1, "RepoChange", 1, 101L))    // invalid_schema
    (good ++ bad).toDF().withColumn("epoch", lit(0L))
      .write.partitionBy("epoch").mode("overwrite").parquet(logDir)
    Replay.replayLog(spark, logDir, tableDir, buckets = 4)
    val led = Lineage.read(spark, tableDir).collect()
    assert(led.length == 1)
    val routes = led(0).getAs[scala.collection.Map[String, Long]]("routes")
    assert(routes("success") == 8L && routes("error") == 1L && routes("invalid_schema") == 1L)
    val parts = led(0).getAs[scala.collection.Map[Int, Long]]("partitions")
    assert(parts(0) == 5L && parts(1) == 5L && parts.values.sum == 10L)
    // the dead letters themselves are persisted alongside
    assert(spark.read.parquet(s"$tableDir/_deadletter").count() == 2)
  }

  test("streaming get-or-load: tail decodes an unseen schema version via schemaDir between batches") {
    import spark.implicits._
    import scala.collection.immutable.TreeMap
    import graft.proto.{DynMsg, PValue}
    import PValue._
    val streamDir = tmp("sgl-stream"); val tableDir = tmp("sgl-table")
    val ckpt = tmp("sgl-ckpt"); val schemaDir = tmp("sgl-schemas")
    val protoV3 = Cdc.protoV2.replace("string author  = 8;",
      "string author  = 8;\n  string branch  = 9;")
    Files.write(java.nio.file.Paths.get(schemaDir, "repo_change-v3.proto"), protoV3.getBytes("UTF-8"))
    val fs3 = graft.proto.ProtoTextParser.parse(protoV3, "repo_change_v3.proto")
    val d3 = fs3.findMessage("RepoChange").get
    val payload = DynMsg.encode(fs3, DynMsg(d3, TreeMap(
      1 -> PStr("r"), 2 -> PStr("p"), 3 -> PStr("c"), 4 -> PStr("scala"),
      5 -> PStr("body"), 6 -> PLong(5L), 9 -> PStr("main"))))
    Seq(ChangeEvent(payload, "repo_change", 3, "RepoChange", 0, 0L)).toDS()
      .repartition(1).write.mode("overwrite").parquet(streamDir)
    Tail.start(spark, streamDir, tableDir, ckpt, buckets = 4,
      schemaDir = Some(schemaDir)).awaitTermination()
    val t = IceLite.read(spark, IceLite.load(tableDir))
    assert(t.count() == 1)
    assert(t.select("repo", "content").as[(String, String)].head() == ("r", "body"))
  }

  test("registry get-or-load: unseen schema version loads from schemaDir; without it → invalid_schema") {
    import spark.implicits._
    import scala.collection.immutable.TreeMap
    import graft.proto.{DynMsg, PValue}
    import PValue._
    val logDir = tmp("gl-log"); val t1 = tmp("gl-t1"); val t2 = tmp("gl-t2")
    val schemaDir = tmp("gl-schemas")
    // v3 adds `branch` (field 9); the built-in registry only knows v1/v2
    val protoV3 = Cdc.protoV2.replace("string author  = 8;",
      "string author  = 8;\n  string branch  = 9;")
    Files.write(java.nio.file.Paths.get(schemaDir, "repo_change-v3.proto"), protoV3.getBytes("UTF-8"))
    val fs3 = graft.proto.ProtoTextParser.parse(protoV3, "repo_change_v3.proto")
    val d3 = fs3.findMessage("RepoChange").get
    val payload = DynMsg.encode(fs3, DynMsg(d3, TreeMap(
      1 -> PStr("r"), 2 -> PStr("p"), 3 -> PStr("c"), 4 -> PStr("scala"),
      5 -> PStr("body"), 6 -> PLong(5L), 9 -> PStr("main"))))
    Seq(ChangeEvent(payload, "repo_change", 3, "RepoChange", 0, 0L)).toDF()
      .withColumn("epoch", lit(0L))
      .write.partitionBy("epoch").mode("overwrite").parquet(logDir)
    // without the escape hatch: v3 is unknown → routed invalid_schema, dead-lettered
    Replay.replayLog(spark, logDir, t1, buckets = 4)
    assert(IceLite.read(spark, IceLite.load(t1)).count() == 0)
    assert(spark.read.parquet(s"$t1/_deadletter")
      .filter(col("route") === "invalid_schema").count() == 1)
    // with schemaDir: the driver loads repo_change-v3.proto between epochs → decodes
    Replay.replayLog(spark, logDir, t2, buckets = 4, schemaDir = Some(schemaDir))
    val t = IceLite.read(spark, IceLite.load(t2))
    assert(t.count() == 1)
    assert(t.select("repo", "content").as[(String, String)].head() == ("r", "body"))
  }

  // ------------------------------------------------- maintenance safety nets

  test("changes() across a compaction still feeds DELETE tombstones above retained watermarks") {
    import spark.implicits._
    val dir = tmp("tombfeed")
    Replay.createTable(dir, buckets = 2)
    def upd(rows: Seq[(String, String, String, Long, String)]): DataFrame = {
      val df = rows.toDF("repo", "path", "content", "seq", "op")
        .withColumn("commit", lit("c")).withColumn("lang", lit("scala"))
      val ids = Map("repo" -> 1, "path" -> 2, "commit" -> 3, "lang" -> 4, "content" -> 5)
      df.select(df.columns.map { c =>
        ids.get(c) match {
          case Some(id) => col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("graft.fieldId", id.toLong).build())
          case None => col(c)
        }
      }: _*)
    }
    // v1: upsert two keys; v2: DELETE one of them
    Merge.mergeEpoch(spark, dir, upd(Seq(
      ("r1", "a", "v0", 10L, "UPSERT"), ("r2", "b", "w0", 20L, "UPSERT"))),
      "seq", "op", "tf-0")
    Merge.mergeEpoch(spark, dir, upd(Seq(("r1", "a", "", 30L, "DELETE"))),
      "seq", "op", "tf-1")
    // a full compaction lands INSIDE the change window [v1, latest]; v1 is
    // still retained, so the delete (seq 30 > v1.maxSeq = 20) must survive it
    graft.lake.Compaction.compact(spark, dir, "tf-compact")
    val latest = IceLite.load(dir).version
    val feed = IceLite.changes(spark, dir, fromVersion = 1, toVersion = latest)
      .select(col("repo"), col("path"), col(IceLite.SeqCol.name).as("seq"),
        coalesce(col(IceLite.DelCol.name), lit(false)).as("del"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    assert(feed.contains(("r1", "a", 30L, true)),
      s"DELETE tombstone lost across compaction; feed = ${feed.toSeq}")
  }

  test("legacy inline-files snapshot: first commit migrates files into manifests (no data loss)") {
    val dir = tmp("legacy")
    Files.createDirectories(java.nio.file.Paths.get(dir, "meta"))
    Files.createDirectories(java.nio.file.Paths.get(dir, "data"))
    // a pre-manifest snapshot: live files INLINE in the JSON, no manifests
    val legacyJson =
      s"""{"version":0,"epochs":["boot-0"],
         |"schemas":[[{"id":1,"name":"repo","type":"STRING"},{"id":2,"name":"path","type":"STRING"},
         |            {"id":-1,"name":"__seq","type":"BIGINT"},{"id":-2,"name":"__del","type":"BOOLEAN"}]],
         |"keyCols":["repo","path"],"buckets":8,"maxSeq":5,
         |"files":[{"path":"$dir/data/legacy-b0.parquet","bucket":0,"rows":3,"schemaVersion":0},
         |         {"path":"$dir/data/legacy-b3.parquet","bucket":3,"rows":2,"schemaVersion":0}]}""".stripMargin
    Files.write(java.nio.file.Paths.get(dir, "meta", "v00000.json"), legacyJson.getBytes("UTF-8"))
    val legacy = IceLite.load(dir)
    assert(legacy.files.size == 2 && legacy.manifests.isEmpty)
    // a plain delta-append on top of the legacy snapshot must carry the
    // inline files into manifests — the new snapshot no longer inlines them
    val add = IceLite.DataFile(s"$dir/data/new-b7.parquet", 7, 1, 0, delta = true)
    IceLite.commit(dir, legacy, IceLite.CommitDelta("mig-1", Set.empty, Vector(add), legacy.currentSchema))
    val after = IceLite.load(dir)
    assert(after.manifests.nonEmpty)
    assert(after.files.map(_.path).toSet ==
      Set(s"$dir/data/legacy-b0.parquet", s"$dir/data/legacy-b3.parquet", s"$dir/data/new-b7.parquet"),
      s"legacy inline files dropped: ${after.files.map(_.path)}")
  }

  test("dropColumn retires the field id: reads exclude it, later batches cannot resurrect it") {
    import spark.implicits._
    val dir = tmp("dropcol")
    Replay.createTable(dir, buckets = 2)
    def upd(rows: Seq[(String, String, String, Long, String)]): DataFrame = {
      val df = rows.toDF("repo", "path", "content", "seq", "op")
        .withColumn("commit", lit("c")).withColumn("lang", lit("scala"))
      val ids = Map("repo" -> 1, "path" -> 2, "commit" -> 3, "lang" -> 4, "content" -> 5)
      df.select(df.columns.map { c =>
        ids.get(c) match {
          case Some(id) => col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("graft.fieldId", id.toLong).build())
          case None => col(c)
        }
      }: _*)
    }
    Merge.mergeEpoch(spark, dir, upd(Seq(("r1", "a", "v0", 10L, "UPSERT"))), "seq", "op", "dc-0")
    assert(IceLite.read(spark, IceLite.load(dir)).columns.contains("lang"))

    IceLite.dropColumn(dir, "ddl-1", "lang")
    val afterDrop = IceLite.load(dir)
    assert(!IceLite.read(spark, afterDrop).columns.contains("lang"))
    assert(afterDrop.retiredIds == Set(4))
    // fenced: replaying the DDL epoch is a no-op
    assert(IceLite.dropColumn(dir, "ddl-1", "lang").version == afterDrop.version)

    // a later batch from the OLD writer descriptor still carries lang —
    // evolve must NOT resurrect it, but the rest of the row applies
    Merge.mergeEpoch(spark, dir, upd(Seq(("r1", "a", "v1", 20L, "UPSERT"))), "seq", "op", "dc-2")
    val t = IceLite.read(spark, IceLite.load(dir))
    assert(!t.columns.contains("lang"))
    assert(t.select("content").as[String].collect().toSeq == Seq("v1"))

    // guard rails
    intercept[IllegalArgumentException] { IceLite.dropColumn(dir, "ddl-9", "repo") }
    intercept[IllegalArgumentException] { IceLite.dropColumn(dir, "ddl-9", "nope") }
  }

  test("time travel across dropColumn: old versions still project the dropped column") {
    import spark.implicits._
    val dir = tmp("dropttl")
    Replay.createTable(dir, buckets = 2)
    def upd(rows: Seq[(String, String, String, Long, String)]): DataFrame = {
      val df = rows.toDF("repo", "path", "content", "seq", "op")
        .withColumn("commit", lit("c")).withColumn("lang", lit("scala"))
      val ids = Map("repo" -> 1, "path" -> 2, "commit" -> 3, "lang" -> 4, "content" -> 5)
      df.select(df.columns.map { c =>
        ids.get(c) match {
          case Some(id) => col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("graft.fieldId", id.toLong).build())
          case None => col(c)
        }
      }: _*)
    }
    Merge.mergeEpoch(spark, dir, upd(Seq(("r1", "a", "v0", 10L, "UPSERT"))), "seq", "op", "tt-0")
    val vBeforeDrop = IceLite.load(dir).version
    IceLite.dropColumn(dir, "ddl-tt-1", "lang")
    // AS OF the pre-drop version: the column is still projected, with data
    val old = IceLite.read(spark, IceLite.loadVersion(dir, vBeforeDrop))
    assert(old.columns.contains("lang"))
    assert(old.select("lang").as[String].collect().toSeq == Seq("scala"))
    // the current version does not
    assert(!IceLite.read(spark, IceLite.load(dir)).columns.contains("lang"))
  }

  test("renameColumn pins the field id: old-descriptor batches keep landing values, name stays") {
    import spark.implicits._
    val dir = tmp("renamecol")
    Replay.createTable(dir, buckets = 2)
    def upd(rows: Seq[(String, String, String, Long, String)]): DataFrame = {
      val df = rows.toDF("repo", "path", "content", "seq", "op")
        .withColumn("commit", lit("c")).withColumn("lang", lit("scala"))
      val ids = Map("repo" -> 1, "path" -> 2, "commit" -> 3, "lang" -> 4, "content" -> 5)
      df.select(df.columns.map { c =>
        ids.get(c) match {
          case Some(id) => col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("graft.fieldId", id.toLong).build())
          case None => col(c)
        }
      }: _*)
    }
    Merge.mergeEpoch(spark, dir, upd(Seq(("r1", "a", "v0", 10L, "UPSERT"))), "seq", "op", "rn-0")
    val vBefore = IceLite.load(dir).version
    IceLite.renameColumn(dir, "ddl-rn", "lang", "language")
    val after = IceLite.load(dir)
    assert(after.pinnedIds == Set(4))
    // metadata-only: the stored file still carries "lang" bytes; reads
    // resolve by field id and serve the NEW name with the old values
    val t0 = IceLite.read(spark, after)
    assert(t0.columns.contains("language") && !t0.columns.contains("lang"))
    assert(t0.select("language").as[String].collect().toSeq == Seq("scala"))
    // fenced: replaying the DDL epoch is a no-op
    assert(IceLite.renameColumn(dir, "ddl-rn", "lang", "language").version == after.version)

    // a later batch from the OLD writer descriptor still says "lang" (same
    // field id 4): the pin keeps the table's name, the VALUES still land
    val oldDescBatch = upd(Seq(("r1", "a", "v1", 20L, "UPSERT")))
      .withColumn("lang2", lit("java"))
      .drop("lang").withColumnRenamed("lang2", "lang")
      .select(col("repo"), col("path"), col("content"), col("seq"), col("op"), col("commit"),
        col("lang").as("lang", new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("graft.fieldId", 4L).build()))
    Merge.mergeEpoch(spark, dir, oldDescBatch, "seq", "op", "rn-1")
    val t1 = IceLite.read(spark, IceLite.load(dir))
    assert(t1.columns.contains("language") && !t1.columns.contains("lang"))
    assert(t1.select("language").as[String].collect().toSeq == Seq("java"),
      "old-descriptor batch values must land in the renamed column (id-matched)")
    // the serving path agrees
    val got = IceLite.lookupLocal(IceLite.load(dir), Map("repo" -> "r1", "path" -> "a"))
    assert(got.get("language") == "java" && !got.get.contains("lang"))

    // time travel: the pre-rename version still serves the OLD name
    val old = IceLite.read(spark, IceLite.loadVersion(dir, vBefore))
    assert(old.columns.contains("lang") && !old.columns.contains("language"))

    // guard rails
    intercept[IllegalArgumentException] { IceLite.renameColumn(dir, "ddl-x", "repo", "r2") }
    intercept[IllegalArgumentException] { IceLite.renameColumn(dir, "ddl-x", "nope", "x") }
    intercept[IllegalArgumentException] { IceLite.renameColumn(dir, "ddl-x", "language", "content") }
  }

  test("vacuum retention age: young orphans survive the default sweep (in-flight-commit safety)") {
    val dir = tmp("vacage")
    Replay.createTable(dir, buckets = 2)
    val orphan = java.nio.file.Paths.get(dir, "data", "orphan.parquet")
    Files.write(orphan, Array[Byte](1, 2, 3))
    // default retention: the just-written orphan is inside the protection
    // window (it could be an in-flight commit's output) — kept
    graft.lake.Compaction.vacuum(dir)
    assert(Files.exists(orphan))
    // explicit zero retention (single-writer): reclaimed
    graft.lake.Compaction.vacuum(dir, olderThanMs = 0L)
    assert(!Files.exists(orphan))
  }
}
