package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.cdc.{Cdc, Lineage, Replay, Tail}
import graft.decode.{ChangeEvent, Decode}
import graft.lake.{IceLite, Merge}
import graft.registry.SchemaKey

/** Work per run. Sizes are fixed per `--seconds` (not measured against the
  * clock), so two builds compared on one seed do identical work. At
  * `--seconds 25` the constants give 30-40 s of timed work on a 4-core host. */
final case class Sizes(
    /** events of the bulk log, replayed as one epoch */
    bulkEvents: Long,
    replays: Int,
    setupReps: Int,
    baseEvents: Long,
    files: Int,
    perFile: Int,
    /** the read pass after each bulk replay */
    bulkRead: Reads.Plan,
    /** each of the `tailReadPasses` read passes after the tail's drain */
    tailRead: Reads.Plan,
    tailReadPasses: Int,
    sliceReps: Int)

object Sizes {
  def of(seconds: Int): Sizes = {
    def scaled(n: Int, min: Int) = math.max(min, math.round(n * seconds / 25.0).toInt)
    Sizes(bulkEvents = 150000L, replays = scaled(5, 2), setupReps = 2,
      baseEvents = 10000L, files = scaled(12, 2), perFile = 1000,
      bulkRead = Reads.Plan(feeds = 4, probes = 30, scans = 2, loads = 1),
      tailRead = Reads.Plan(feeds = 4, probes = 75, scans = 5, loads = 1), tailReadPasses = 2,
      sliceReps = 2)
  }

  /** Toy sizes for the smoke test. */
  def smoke: Sizes = {
    val read = Reads.Plan(feeds = 1, probes = 10, scans = 1, loads = 1)
    Sizes(bulkEvents = 3000L, replays = 2, setupReps = 1,
      baseEvents = 2000L, files = 2, perFile = 300, bulkRead = read, tailRead = read,
      tailReadPasses = 1, sliceReps = 1)
  }
}

object Workloads {

  val Names = Seq("bulk_replay", "tail_microbatch")

  /** graft.Bench uses 64. Every epoch writes a file per bucket, and 16 keeps
    * a run's fixed per-epoch cost inside the benchmark's time budget. */
  val Buckets = 16
  private val WarmSeed = 0x5eedL

  /** Timed setup repetitions: `build(i)` writes the pre-state into a fresh
    * directory; the first repetition also warms the JVM. Returns the median
    * seconds and the last directory built; the others are deleted. */
  private def setup(ctx: Ctx, reps: Int, name: String)(build: Path => Unit): (Double, Path) = {
    val dirs = (1 to reps).map(i => ctx.work.resolve(s"$name-$i"))
    val secs = ctx.phase("setup")(
      dirs.flatMap(d => ctx.timedOp(s"setup.$name")(build(d))().map(_._2 / 1000.0)))
    dirs.init.foreach(Util.delete)
    (Util.median(secs), dirs.last)
  }

  private def ledgerCheck(ctx: Ctx, table: String, ids: Seq[String]): Unit = {
    val errs = Checks.ledgerAndLineage(ctx.spark, table, ids)
    ctx.check(errs.isEmpty, errs.mkString("; "))
  }

  private def windows(table: String, ids: Seq[String], rows: Seq[Long]): Seq[Reads.Window] = {
    val v = Checks.versionsOf(table, ids)
    ids.zip(rows).flatMap { case (e, n) => v.get(e).map(Reads.Window(_, n)) }
  }

  /** Files and bytes the given epochs' commits added. */
  private def writeStats(table: String, ids: Seq[String], logBytes: Long): Map[String, Double] = {
    val vs = Checks.versionsOf(table, ids).values.toSeq.sorted
    val added = vs.map { v =>
      val old = IceLite.loadVersion(table, v - 1).files.map(_.path).toSet
      IceLite.loadVersion(table, v).files.filterNot(f => old.contains(f.path))
    }
    val bytes = added.flatten.map(f => Files.size(Reads.localPath(f.path))).sum.toDouble
    Map(
      "icelite.files_added_per_epoch" -> Reads.mean(added.map(_.size.toDouble)),
      "icelite.bytes_written_per_log_byte" -> bytes / math.max(1L, logBytes))
  }

  /** Per-epoch COW work, from the lineage rows of the given epochs. */
  private def lineageStats(ctx: Ctx, table: String, ids: Seq[String]): Map[String, Double] = {
    val rows = Lineage.read(ctx.spark, table).where(col("epochId").isin(ids: _*))
      .agg(avg("cowBuckets"), avg("rewrittenRows")).head()
    Map("merge.cow_buckets" -> Option(rows.get(0)).map(_.toString.toDouble).getOrElse(0.0),
      "merge.rewritten_rows" -> Option(rows.get(1)).map(_.toString.toDouble).getOrElse(0.0))
  }

  // ---------------------------------------------------------------- bulk

  /** Batch replay of a log into fresh tables, each followed by a read pass
    * over the replayed table. Setup replays the same log, which warms the
    * JVM at full size; the read paths warm up once, on the last setup table. */
  def bulk(ctx: Ctx, seed: Long, sz: Sizes, traced: Boolean): Map[String, Double] = {
    val spark = ctx.spark
    val ranges = Vector(Inputs.Range(0L, sz.bulkEvents, v1Cut = sz.bulkEvents))
    // inputs are generated afresh each run, so every run warms up alike
    val inputs = ctx.work.resolve("inputs")
    val log = inputs.resolve("log").toString
    ctx.phase("inputs")(Inputs.writeLog(spark, inputs.resolve("log"), seed, 0L, sz.bulkEvents, 1))
    val oracle = new Inputs.Oracle(seed, ranges)
    val ids = ranges.indices.map(e => s"replay-$e")

    val (setupS, warmTable) = setup(ctx, sz.setupReps, "warm") { d =>
      Replay.replayLog(spark, log, d.toString, buckets = Buckets, pruneBuckets = false)
    }
    Reads.warmup(ctx, warmTable.toString, windows(warmTable.toString, ids, oracle.distinctKeys),
      oracle, seed)
    Util.delete(warmTable)

    val host = new Host.Window
    val reads = new Reads.Samples
    var table = ""
    val replays = ctx.phase("replays and reads")((1 to sz.replays).flatMap { r =>
      if (table.nonEmpty) Util.delete(java.nio.file.Paths.get(table))
      table = ctx.work.resolve(s"bulk-$r").toString
      // in the traced run odd replays run untraced: the tracing-overhead base
      val untraced = traced && r % 2 == 1
      val res = ctx.untracedIf(untraced) {
        ctx.timedOp("Replay.replayLog") {
          Replay.replayLog(spark, log, table, buckets = Buckets, pruneBuckets = false)
        }(res => res.epochs == ranges.size && res.stats.forall(_.applied))
      }
      ledgerCheck(ctx, table, ids)
      Reads.pass(ctx, table, windows(table, ids, oracle.distinctKeys), oracle, sz.bulkRead,
        seed + r, reads)
      res.map { case (_, ms) =>
        val commits = IceLite.history(table).map(v => IceLite.commitTimeOf(table, v).toDouble)
        (ms, commits.zip(commits.tail).map { case (a, b) => b - a }, untraced)
      }
    })
    val hostM = host.stop()

    val replayMs = replays.map(_._1)
    println(s"perfbench: replay ms ${replayMs.map(_.toLong).mkString(" ")}, epoch ms " +
      replays.flatMap(_._2).map(_.toLong).mkString(" "))
    println(s"perfbench: ${reads.summary}")
    val e2e = Map(
      "setup_s" -> setupS,
      "events_per_s" -> sz.bulkEvents / (Util.median(replayMs) / 1000.0),
      "epoch_p50_ms" -> Util.median(replays.flatMap(_._2)))
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val tracedMs = replays.filterNot(_._3).map(_._1)
        val untracedMs = replays.filter(_._3).map(_._1)
        val t = ctx.trace.get
        Layers.settle(t)
        Layers.epochs(ctx, t, _.name == "Replay.replayLog", _ => ranges.size,
          sz.bulkEvents * tracedMs.size) ++
          lineageStats(ctx, table, ids) ++
          writeStats(table, ids, Util.dirBytes(java.nio.file.Paths.get(log))) ++
          slices(ctx, log, sz.sliceReps) ++
          Map("trace.overhead_pct" ->
            100.0 * (Util.median(tracedMs) / Util.median(untracedMs) - 1.0)) ++
          scaling(ctx, inputs.resolve("scale-warm"), log)
      }
    e2e ++ reads.metrics ++ hostM ++ layers
  }

  // ---------------------------------------------------------------- tail

  /** A base table, then Tail.start draining a backlog of small files one
    * file per micro-batch, with the v1 -> v2 schema change mid-backlog; then
    * the read side of the resulting merge-on-read table. */
  def tail(ctx: Ctx, seed: Long, sz: Sizes, traced: Boolean): Map[String, Double] = {
    val spark = ctx.spark
    val in = ctx.work.resolve("inputs")
    ctx.phase("inputs") {
      Inputs.writeLog(spark, in.resolve("base"), seed, 0L, sz.baseEvents, 1)
      Inputs.writeBacklog(spark, in.resolve("backlog"), seed, sz.baseEvents, sz.files,
        sz.perFile, v1Fraction = 0.5)
    }
    val backlogEvents = sz.files.toLong * sz.perFile
    val v1Cut = sz.baseEvents + backlogEvents / 2
    val fileRanges = Vector.tabulate(sz.files)(i => Inputs.Range(
      sz.baseEvents + i.toLong * sz.perFile, sz.baseEvents + (i + 1L) * sz.perFile, v1Cut))
    val oracle = new Inputs.Oracle(seed,
      Inputs.Range(0L, sz.baseEvents, sz.baseEvents) +: fileRanges)
    val backlog = Files.list(in.resolve("backlog")).iterator().asScala.toVector
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)

    val (setupS, tablePath) = setup(ctx, sz.setupReps, "base") { d =>
      Replay.replayLog(spark, in.resolve("base").toString, d.toString, buckets = Buckets,
        pruneBuckets = false)
    }
    val table = tablePath.toString
    val stream = ctx.work.resolve("stream")
    val ckpt = ctx.work.resolve("checkpoint").toString
    Files.createDirectories(stream)

    /** Stage files into the stream directory (mtime kept: it orders the
      * file source) and drain them; per-batch durations from the query's
      * own progress reports. */
    def drain(files: Seq[Path]): Option[(Seq[StreamingQueryProgress], Double)] = {
      files.foreach(f => Files.copy(f, stream.resolve(f.getFileName),
        StandardCopyOption.COPY_ATTRIBUTES))
      ctx.timedOp("Tail.drain") {
        val q = Tail.start(spark, stream.toString, table, ckpt, buckets = Buckets,
          maxFilesPerTrigger = 1)
        q.awaitTermination()
        q.recentProgress.filter(_.numInputRows > 0).toSeq
      } { ps =>
        val ok = ps.size == files.size
        if (!ok) println(s"perfbench: drained ${files.size} files in ${ps.size} batches")
        ok
      }
    }

    val host = new Host.Window
    // the traced run drains the backlog in four chunks, untraced and traced
    // in turn, so the tracing-overhead base covers like batches: v1 and v2
    // events, early and late in the run
    val chunks =
      if (!traced) Seq((backlog, false))
      else backlog.grouped(math.max(1, (backlog.size + 3) / 4)).toSeq.zipWithIndex
        .map { case (c, i) => (c, i % 2 == 0) }
    val drains = ctx.phase("write")(chunks.flatMap { case (c, plain) =>
      ctx.untracedIf(plain)(drain(c)).map { case (ps, ms) => (ps, ms, plain) }
    })
    val batchIds = backlog.indices.map(b => s"${Tail.sourceId(ckpt)}-$b")
    ledgerCheck(ctx, table, "replay-0" +: batchIds)
    val reads = new Reads.Samples
    ctx.phase("reads") {
      val w = windows(table, batchIds, oracle.distinctKeys.tail)
      Reads.warmup(ctx, table, w, oracle, seed)
      (1 to sz.tailReadPasses).foreach(i =>
        Reads.pass(ctx, table, w, oracle, sz.tailRead, seed + i, reads))
    }
    val hostM = host.stop()

    val batchMs = drains.flatMap(_._1.map(_.batchDuration.toDouble))
    println(s"perfbench: batch ms ${batchMs.map(_.toLong).mkString(" ")}")
    println(s"perfbench: ${reads.summary}")
    val e2e = Map(
      "setup_s" -> setupS,
      "events_per_s" -> backlogEvents / (drains.map(_._2).sum / 1000.0),
      "epoch_p50_ms" -> Util.median(batchMs))
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val t = ctx.trace.get
        val tracedPs = drains.filterNot(_._3).flatMap(_._1)
        Layers.settle(t, batchSpans = tracedPs.size)
        // progress events of an untraced chunk may reach the re-added listener
        val tracedIds = tracedPs.map(_.batchId.toDouble).toSet
        // the overhead compares batches without inline COW compaction only
        val cow = Lineage.read(spark, table).where(col("cowBuckets") > 0)
          .select("epochId").collect().map(_.getString(0)).toSet
        def medianBatch(plain: Boolean) = Util.median(drains.filter(_._3 == plain).flatMap(_._1)
          .filterNot(p => cow(s"${Tail.sourceId(ckpt)}-${p.batchId}"))
          .map(_.batchDuration.toDouble))
        Layers.epochs(ctx, t,
          s => s.name == "Tail.batch" && s.attrs.get("batchId").exists(tracedIds),
          _ => 1, tracedPs.map(_.numInputRows).sum) ++
          lineageStats(ctx, table, batchIds) ++
          writeStats(table, batchIds, backlog.map(Files.size).sum) ++
          slices(ctx, backlog.head.toString, sz.sliceReps) ++
          Map("trace.overhead_pct" -> 100.0 * (medianBatch(false) / medianBatch(true) - 1.0),
            "replay.scaling_eff_1to4" -> 0.0)
      }
    e2e ++ reads.metrics ++ hostM ++ layers
  }

  // ---------------------------------------------------------------- traced extras

  /** One epoch's pipeline timed in isolated slices: the log scan alone into
    * a no-op sink, full decode, keys-only decode, and MERGE of pre-decoded
    * rows into a fresh table. Each slice is the median of `reps`. */
  def slices(ctx: Ctx, logDir: String, reps: Int): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val registry = spark.sparkContext.broadcast(Cdc.registry)
    val key = SchemaKey(Cdc.SchemaId, -1)
    val ev = spark.read.parquet(logDir)
      .select("payload", "schemaId", "schemaVersion", "messageType", "partition", "offset")
      .as[ChangeEvent]
    val events = ev.count()
    val payloadBytes = ev.select(sum(length(col("payload")))).head().getLong(0).toDouble
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def slice(name: String)(body: => Unit): Double =
      Util.median((1 to reps).flatMap(_ => ctx.timedOp(name)(body)().map(_._2 / 1000.0)))

    val scan = slice("slice.scan")(noop(ev.toDF()))
    val full = slice("Decode.decode")(noop(Decode.decode(ev, registry, key, Cdc.MessageType)))
    val keys = slice("Decode.decodeKeys")(noop(Decode.decodeKeys(ev, registry, key,
      Cdc.MessageType, Seq("repo", "path"))))
    val bad = Decode.deadLetter(Decode.decode(ev, registry, key, Cdc.MessageType)).count()
    val merge = Util.median((1 to reps).flatMap { i =>
      val dir = ctx.work.resolve(s"slice-merge-$i").toString
      Replay.createTable(dir, Buckets)
      val upd = Replay.decodeForMerge(ev, registry, None).updates.localCheckpoint()
      val r = ctx.timedOp("Merge.mergeEpoch") {
        Merge.mergeEpoch(spark, dir, upd, "seq", "op", "slice-0", None)
      }(st => st.applied && st.batchRows == events).map(_._2 / 1000.0)
      Util.delete(java.nio.file.Paths.get(dir))
      r
    })
    val decodeS = math.max(0.0, full - scan)
    Map(
      "scan.s" -> scan,
      "decode.full_s" -> decodeS,
      "decode.full_mb_per_s" -> payloadBytes / 1e6 / full,
      "decode.dead_letter_ratio" -> bad.toDouble / math.max(1L, events),
      "slice.decode_keys_s" -> math.max(0.0, keys - scan),
      "slice.merge_s" -> merge)
  }

  /** One bulk epoch replayed at local[1] against local[cores]: the time
    * ratio over the core count. Restarts the session, so it runs last; a
    * small log written to `warmLog` warms the new session first. */
  def scaling(ctx: Ctx, warmLog: Path, epochLog: String): Map[String, Double] = {
    def replayS(tag: String): Double = {
      val dir = ctx.work.resolve(s"scale-$tag")
      val r = ctx.timedOp("scale.replayLog") {
        Replay.replayLog(ctx.spark, epochLog, dir.toString, buckets = Buckets, pruneBuckets = false)
      }(_.stats.forall(_.applied)).map(_._2 / 1000.0)
      Util.delete(dir)
      r.getOrElse(Double.NaN)
    }
    val n = Main.cores
    val tn = Util.median(Seq(replayS("n1"), replayS("n2")))
    ctx.spark.stop()
    ctx.spark = Main.session(ctx.work, 1)
    Inputs.writeLog(ctx.spark, warmLog, WarmSeed, 0L, 5000L, 1)
    val warm = ctx.work.resolve("scale-warm")
    Replay.replayLog(ctx.spark, warmLog.toString, warm.toString, buckets = Buckets,
      pruneBuckets = false)
    Util.delete(warm)
    val t1 = replayS("1")
    Map("replay.scaling_eff_1to4" -> t1 / (n * tn))
  }
}
