package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One run's bookkeeping: the session, the work directory, the optional
  * trace, and the count of operations attempted and failed. An operation
  * fails when it throws or its result disagrees with the oracle. */
final class Ctx(var spark: SparkSession, val work: Path, val trace: Option[Trace]) {
  var attempted = 0L
  var failed = 0L

  private var muted = false

  def span[A](name: String)(body: => A): A = trace match {
    case Some(t) if !muted => t.span(name)(body)
    case _ => body
  }

  /** A named phase of the run: traced as a span, its wall time printed. */
  def phase[A](name: String)(body: => A): A = {
    val (r, ms) = Util.timedMs(span(name)(body))
    println(f"perfbench: $name took ${ms / 1000}%.1f s")
    r
  }

  /** Run `body` with tracing off when `cond` holds (the overhead baseline). */
  def untracedIf[A](cond: Boolean)(body: => A): A = trace match {
    case Some(t) if cond =>
      spark.sparkContext.removeSparkListener(t.sparkListener)
      spark.streams.removeListener(t.streamListener)
      muted = true
      try body
      finally {
        muted = false
        spark.sparkContext.addSparkListener(t.sparkListener)
        spark.streams.addListener(t.streamListener)
      }
    case _ => body
  }

  /** Run and time one operation; None when it threw or `ok` rejected it. */
  def timedOp[A](name: String)(body: => A)(ok: A => Boolean = (_: A) => true): Option[(A, Double)] = {
    attempted += 1
    try {
      val (r, ms) = Util.timedMs(span(name)(body))
      if (ok(r)) Some((r, ms))
      else { failed += 1; println(s"perfbench: wrong result from $name"); None }
    } catch {
      case NonFatal(e) =>
        failed += 1
        println(s"perfbench: $name failed: $e")
        None
    }
  }

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; println(s"perfbench: check failed: $what") }
  }
}

object Main {

  /** Metric units, as BENCHMARK.json declares them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "events_per_s" -> "events/s",
    "epoch_p50_ms" -> "ms",
    "feed_read_p50_ms" -> "ms",
    "lookup_p50_ms" -> "ms",
    "snapshot_scan_s" -> "s",
    "table_bytes_per_live_byte" -> "ratio",
    "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "scan.s" -> "s",
    "decode.full_s" -> "s",
    "decode.full_mb_per_s" -> "MB/s",
    "decode.dead_letter_ratio" -> "ratio",
    "decode.keys_s" -> "s",
    "slice.decode_keys_s" -> "s",
    "slice.merge_s" -> "s",
    "merge.map_stage_s" -> "s",
    "merge.reduce_stage_s" -> "s",
    "merge.shuffle_write_bytes_per_event" -> "B/event",
    "merge.spill_bytes" -> "B",
    "merge.reduce_tasks" -> "count",
    "merge.winner_ratio" -> "ratio",
    "merge.cow_buckets" -> "count",
    "merge.rewritten_rows" -> "count",
    "bloom.s" -> "s",
    "icelite.load_ms" -> "ms",
    "icelite.files_added_per_epoch" -> "count",
    "icelite.bytes_written_per_log_byte" -> "ratio",
    "icelite.feed_files" -> "count",
    "icelite.files_per_bucket" -> "count",
    "icelite.lookup_files" -> "count",
    "icelite.lookup_p90_ms" -> "ms",
    "icelite.scan_files" -> "count",
    "cdc.driver_serial_s" -> "s",
    "cdc.lineage_s" -> "s",
    "cdc.checkpoint_s" -> "s",
    "cdc.jobs_per_epoch" -> "count",
    "host.cpu_busy_pct" -> "%",
    "host.idle_pct" -> "%",
    "host.steal_pct" -> "%",
    "jvm.gc_s" -> "s",
    "replay.scaling_eff_1to4" -> "ratio",
    "trace.unattributed_s" -> "s",
    "trace.unmatched_job_s" -> "s",
    "trace.overhead_pct" -> "%")

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 20,
      trace: Boolean = false, work: String = ".bench_build/work", smoke: Boolean = false)

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, a.copy(work = v))
    case "--smoke" :: rest => parse(rest, a.copy(smoke = true))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** Bench phase B's session settings, with every local path under `work`. */
  def session(work: Path, threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val work = Paths.get(a.work).toAbsolutePath
    Files.createDirectories(work)
    val results =
      if (a.smoke) Workloads.Names.flatMap(w => Seq(false, true).map(t =>
        runOne(a.copy(workload = w, trace = t), work, Sizes.smoke)))
      else {
        require(Workloads.Names.contains(a.workload),
          s"--workload must be one of ${Workloads.Names.mkString(", ")}")
        require(a.seconds >= 1, "--seconds must be at least 1")
        Seq(runOne(a, work, Sizes.of(a.seconds)))
      }
    results.foreach(r => println("PERFBENCH_RESULT " + r))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** One workload run; returns its result line. */
  def runOne(a: Args, work: Path, sz: Sizes): String = {
    val runDir = work.resolve("run")
    Util.delete(runDir)
    Files.createDirectories(runDir)
    val t0 = System.nanoTime()
    val spark = session(work, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val runId = s"${a.workload}-${a.seed}-${if (a.trace) "traced" else "plain"}"
    val trace = if (a.trace) Some(new Trace(runId)) else None
    trace.foreach { t =>
      spark.sparkContext.addSparkListener(t.sparkListener)
      spark.streams.addListener(t.streamListener)
    }
    val ctx = new Ctx(spark, runDir, trace)
    val raw = a.workload match {
      case "bulk_replay" => Workloads.bulk(ctx, a.seed, sz, a.trace)
      case "tail_microbatch" => Workloads.tail(ctx, a.seed, sz, a.trace)
    }
    val m = raw ++ Map("setup_s" -> (sessionS + raw("setup_s")), "peak_rss_mb" -> Host.peakRssMb())
    trace.foreach(_.write(work.resolve("traces").resolve(s"$runId.jsonl")))
    ctx.spark.stop()
    Util.delete(runDir)

    val steal = m.getOrElse("host.steal_pct", 0.0)
    println(f"perfbench: host steal $steal%.1f%%, idle ${m.getOrElse("host.idle_pct", 0.0)}%.1f%% " +
      "over the timed window" + (if (steal > Host.NoisyStealPct)
        f"; NOISY run (steal above ${Host.NoisyStealPct}%.1f%%)" else ""))
    val names = if (a.trace) PerLayer else EndToEnd
    val metrics = names.map { case (n, unit) =>
      s""""$n":{"value":${Json.num(m.getOrElse(n, Double.NaN))},"unit":"${Json.esc(unit)}"}"""
    }.mkString("{", ",", "}")
    val correct = ctx.failed == 0 && ctx.attempted > 0
    s"""{"correct":$correct,"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":$metrics}"""
  }
}
