package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import graft.lake.IceLite

/** The serving side of a table a workload just wrote: change-feed windows,
  * point lookups and full snapshot reads, each checked against the oracle. */
object Reads {

  /** One pass's reads: every change-feed window, repeated until at least
    * `feeds` reads, plus `probes` lookups, `scans` full reads and `loads`. */
  final case class Plan(feeds: Int, probes: Int, scans: Int, loads: Int)

  /** One change-feed window: the version an epoch committed and the rows
    * (distinct keys of that epoch) the window must return. */
  final case class Window(version: Int, expectedRows: Long)

  /** Read timings gathered over several passes, and the shape of the
    * table the last pass read. */
  final class Samples {
    val load, feed, lookup, scan = scala.collection.mutable.ArrayBuffer.empty[Double]
    var shape: Map[String, Double] = Map.empty

    def summary: String =
      s"scan ms ${scan.map(_.toLong).mkString(" ")}, feed ms ${feed.map(_.toLong).mkString(" ")}"

    def metrics: Map[String, Double] = shape ++ Map(
      "feed_read_p50_ms" -> Util.median(feed.toSeq),
      "lookup_p50_ms" -> Util.median(lookup.toSeq),
      "icelite.lookup_p90_ms" -> Util.quantile(lookup.toSeq, 0.9),
      "snapshot_scan_s" -> Util.median(scan.toSeq) / 1000.0,
      "icelite.load_ms" -> Util.median(load.toSeq))
  }

  /** Warm the read paths (JIT, Hadoop and parquet reader set-up) with a
    * small pass whose timings are dropped. */
  def warmup(ctx: Ctx, table: String, windows: Seq[Window], oracle: Inputs.Oracle,
      probeSeed: Long): Unit =
    pass(ctx, table, windows.take(1), oracle, Plan(feeds = 2, probes = 30, scans = 3,
      loads = 1), ~probeSeed, new Samples)

  /** One timed pass over `table`. The kinds of read are interleaved evenly,
    * so each metric samples the whole pass rather than one stretch of it. */
  def pass(ctx: Ctx, table: String, windows: Seq[Window], oracle: Inputs.Oracle,
      plan: Plan, probeSeed: Long, into: Samples): Unit = {
    val spark = ctx.spark
    val snap = IceLite.load(table)
    val visible = snap.currentSchema.filterNot(_.hidden).map(_.name).sorted
    ctx.check(visible == oracle.columns, s"table columns $visible, expected ${oracle.columns}")

    val loads = Seq.fill(plan.loads)(() =>
      ctx.timedOp("IceLite.load")(IceLite.load(table))(_.version > 0)
        .foreach(into.load += _._2))

    val rounds = (plan.feeds + windows.size - 1) / math.max(1, windows.size)
    val feeds = for (_ <- 1 to rounds; w <- windows) yield () =>
      ctx.timedOp("IceLite.changes") {
        val obs = Observation()
        IceLite.changes(spark, table, w.version - 1, w.version)
          .observe(obs, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        obs.get("n").asInstanceOf[Long]
      }(n => n == w.expectedRows).foreach(into.feed += _._2)

    val probes = oracle.probes(plan.probes, probeSeed)
    val lookups = probes.map { k => () =>
      val want = oracle.row(k)
      ctx.timedOp("IceLite.lookupLocal")(
          IceLite.lookupLocal(snap, Map("repo" -> k._1, "path" -> k._2))) { got =>
        val same = Checks.sameRow(got, want)
        if (!same) println(s"perfbench: lookup $k read $got, expected $want")
        same
      }.foreach(into.lookup += _._2)
    }

    val (wantRows, wantSum) = oracle.digest
    var liveBytes = 0L
    val scans = Seq.fill(plan.scans)(() =>
      ctx.timedOp("IceLite.read") {
        Checks.digest(IceLite.read(spark, IceLite.load(table)), oracle.columns)
      } { d =>
        liveBytes = d.liveBytes
        val same = d.rows == wantRows && d.sum == wantSum
        if (!same) println(s"perfbench: snapshot read ${d.rows} rows (digest ${d.sum}), " +
          s"expected $wantRows rows (digest $wantSum)")
        same
      }.foreach(into.scan += _._2))

    def evenly(ops: Seq[() => Unit]) = ops.zipWithIndex.map { case (op, i) => ((i + 0.5) / ops.size, op) }
    (evenly(loads) ++ evenly(feeds) ++ evenly(lookups) ++ evenly(scans)).sortBy(_._1).foreach(_._2())

    val tableBytes = snap.files.map(f => Files.size(localPath(f.path))).sum.toDouble
    val windowFiles = windows.map { w =>
      val from = IceLite.loadVersion(table, w.version - 1)
      val to = IceLite.loadVersion(table, w.version)
      val old = from.files.map(_.path).toSet
      to.files.count(f => !old.contains(f.path) && (f.delta || f.maxSeq > from.maxSeq)).toDouble
    }
    into.shape = Map(
      "table_bytes_per_live_byte" -> tableBytes / math.max(1L, liveBytes),
      "icelite.feed_files" -> mean(windowFiles),
      "icelite.files_per_bucket" -> snap.files.size.toDouble / snap.buckets,
      "icelite.lookup_files" -> mean(probes.map(k =>
        IceLite.lookupFiles(snap, Map("repo" -> k._1, "path" -> k._2)).size.toDouble)),
      "icelite.scan_files" -> snap.files.size.toDouble)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def localPath(p: String): java.nio.file.Path =
    if (p.startsWith("file:")) Paths.get(new java.net.URI(p)) else Paths.get(p)
}
