package graft.lake

import java.nio.file.Paths
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import IceLite._

/** Snapshot maintenance: every epoch leaves delta files per touched bucket,
  * so dropped tombstones and old epoch dirs accumulate on disk, and a
  * long-running table benefits from rewriting buckets into fresh,
  * key-sorted base files (purging tombstones older than the rewrite).
  *
  * Compaction = a MERGE with an empty batch that rewrites the chosen
  * buckets: read their current state (hidden cols included), drop
  * tombstones, rewrite one sorted base file per bucket, commit as a new
  * snapshot (epoch-fenced like any other commit). INCREMENTAL by design:
  * `compact` takes a bucket subset so maintenance interleaves with live
  * merges — a concurrent merge on DISJOINT buckets rebases cleanly, while
  * an overlapping one conflicts loudly (IceLite.commit validates both COW
  * and delta-append buckets), because purging tombstones out from under an
  * in-flight delta's LWW could resurrect deleted keys. Old files stay on
  * disk for time travel until vacuum. */
object Compaction {

  final case class CompactionStats(buckets: Int, rowsBefore: Long, rowsAfter: Long, filesReplaced: Int)

  /** NB: the tombstone-purge watermark is the OLDEST retained snapshot's
    * maxSeq, re-read at compaction time. While the v0 create snapshot
    * (maxSeq = -1) is retained — i.e. until `expire` first runs — that
    * watermark is -1 and compact purges NO tombstones: a compact-only
    * maintenance loop never reclaims delete rows. Run `expire` before (or
    * with) compaction when tombstone reclamation is the goal. The watermark
    * read is not part of the commit's conflict check; `expire` must not run
    * concurrently with a compaction (single maintenance writer — the
    * lifecycle gate's contract). */
  def compact(spark: SparkSession, dir: String, epochId: String,
      /** buckets to compact; None = every bucket (full maintenance pass).
        * Compact in subsets on a live table: the conflict window is only
        * the chosen buckets, not the whole table. */
      buckets: Option[Set[Int]] = None,
      /** CLUSTERING policy: sort each rewritten bucket by this column
        * (instead of the key columns) and split it into ~`filesPerBucket`
        * range-contiguous files with recorded [sortMin, sortMax] bounds —
        * [[IceLite.readRange]] then skips non-overlapping files for range
        * predicates. At 10^5 buckets × 8 files a selective range scan
        * opens a small fraction of the table instead of all of it. */
      clusterBy: Option[String] = None,
      /** Z-ORDER policy (multi-dimensional clustering): sort each rewritten
        * bucket by the bit-interleaved z-value of 2+ NUMERIC columns and
        * split it range-contiguously like clusterBy — every file then
        * records REAL per-column [min, max] bounds (colBounds), so
        * [[IceLite.readRangeMulti]] prunes on any dimension, alone or
        * ANDed. The z-mapping normalizes each column by its global
        * [min, max] over the rewritten state (one narrow agg); a coarse
        * mapping only loosens bounds — pruning soundness never depends on
        * it, because bounds are measured from the written files. */
      zorderBy: Seq[String] = Nil,
      filesPerBucket: Int = 4): CompactionStats = {
    val base = IceLite.load(dir)
    if (base.hasEpoch(epochId)) return CompactionStats(0, 0, 0, 0)
    require(clusterBy.isEmpty || zorderBy.isEmpty, "clusterBy and zorderBy are exclusive")
    require(zorderBy.isEmpty || zorderBy.size >= 2,
      "zorderBy needs 2+ columns (use clusterBy for one)")
    clusterBy.foreach { c =>
      import org.apache.spark.sql.types._
      val cd = base.currentSchema.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no such cluster column: $c"))
      require(!cd.hidden, s"cannot cluster by hidden column $c")
      require(Seq(StringType, LongType, IntegerType, ShortType).contains(cd.sparkType),
        s"clusterBy needs a string or integral column, got ${cd.sparkType} for $c")
    }
    zorderBy.foreach { c =>
      import org.apache.spark.sql.types._
      val cd = base.currentSchema.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no such z-order column: $c"))
      require(!cd.hidden, s"cannot z-order by hidden column $c")
      require(Seq(LongType, IntegerType, ShortType, DoubleType, FloatType).contains(cd.sparkType),
        s"zorderBy needs numeric columns, got ${cd.sparkType} for $c")
    }
    val chosen: Set[Int] = buckets.getOrElse((0 until base.buckets).toSet)
    val oldFiles = base.files.filter(f => chosen(f.bucket))

    // rowsBefore (incl. tombstones) rides the same job as an Observation on
    // the pre-filter scan
    val preObs = org.apache.spark.sql.Observation(s"compact-pre-$epochId")
    val cur = IceLite.read(spark, base, f => chosen(f.bucket), includeHidden = true)
      .observe(preObs, count(lit(1)).as("rows"))
    // Purge only FULLY-CONSUMED tombstones: a DELETE with __seq above the
    // OLDEST retained snapshot's maxSeq can still be consumed by
    // changes(from, …) for any retained `from` — compacting it away would
    // silently drop the delete from the feed and downstream consumers would
    // resurrect the key. Tombstones at or below that watermark can no longer
    // appear in any constructible change window BY SEQ — but changes()
    // delivers a new file's rows regardless of seq (late events are genuine
    // changes), so a LATE tombstone (low seq, recent commit) sitting in a
    // file the oldest retained snapshot does NOT reference is still
    // undelivered: clamp the watermark below every unconsumed file's
    // minSeq. (Run `expire` first to let a maintenance pass purge
    // everything consumable.)
    //
    // LATENESS ASSUMPTION (documented contract): once a tombstone is
    // physically purged, an even-later event with a LOWER seq for the same
    // key would resurrect it — physical purge is only sound for keys whose
    // seqs can no longer arrive. Retention (expire/keepLast + consumer
    // cursors) is the knob that bounds this: tombstones survive as long as
    // any snapshot that can still window over them does.
    val oldestRetained = IceLite.loadVersion(dir, IceLite.history(dir).head)
    val consumedPaths = oldestRetained.files.map(_.path).toSet
    // DELTA files only: base files' rows are seq-filtered by changes()
    // anyway, so only a not-yet-consumed delta can still deliver a
    // sub-watermark (late) tombstone; for normal (non-late) deltas
    // minSeq > the oldest retained maxSeq and this clamp is a no-op
    val unconsumedMin = base.files
      .filter(f => f.delta && !consumedPaths(f.path))
      .map(_.minSeq).minOption.getOrElse(Long.MaxValue)
    val clamp =
      if (unconsumedMin == Long.MaxValue) Long.MaxValue // no unconsumed deltas
      else if (unconsumedMin == Long.MinValue) Long.MinValue // unknown minSeq: retain all
      else unconsumedMin - 1
    val keepTombstonesAbove = math.min(oldestRetained.maxSeq, clamp)
    val live = cur.where(!coalesce(col(DelCol.name), lit(false)) ||
        col(SeqCol.name) > keepTombstonesAbove)
      .withColumn("__bucket", bucketExpr(base.keyCols, base.buckets))

    val epochDir = Paths.get(dir, "data", s"epoch=$epochId-compact").toString
    val obs = org.apache.spark.sql.Observation(s"compact-$epochId")
    // z-value: EQUAL-FREQUENCY normalization — each dimension maps to its
    // approx-quantile cell (64 cells = 6 bits; one bounded driver-side
    // approxQuantile, then a codegen'd when-chain), then bit-interleave.
    // Quantile cells, not min/max scaling: a skewed dimension (median ≪
    // max) would otherwise squeeze most rows into a sliver of the curve
    // and leave per-file bounds wide. A coarse mapping only loosens
    // bounds — pruning soundness is independent of it (bounds are
    // measured from the written files).
    val zExpr: Option[org.apache.spark.sql.Column] =
      if (zorderBy.isEmpty) None
      else {
        val cells = 64
        val k = 31 - Integer.numberOfLeadingZeros(cells) // bits per dimension
        val probs = (1 until cells).map(_.toDouble / cells).toArray
        val allCuts = live.stat.approxQuantile(zorderBy.toArray, probs, 0.001)
          .map(_.distinct.sorted)
        if (allCuts.exists(_.isEmpty)) None // empty/all-null: key sort
        else {
          val norms = zorderBy.zip(allCuts).map { case (c, cuts) =>
            val d = col(c).cast("double")
            // chained when, highest cut first — first match wins
            cuts.zipWithIndex.reverse.foldLeft(when(col(c).isNull, lit(0L))) {
              case (w, (cut, i)) => w.when(d > lit(cut), lit((i + 1).toLong))
            }.otherwise(lit(0L))
          }
          Some((0 until k).flatMap { b =>
            norms.zipWithIndex.map { case (n, j) =>
              shiftleft(shiftright(n, b).bitwiseAND(lit(1L)), b * zorderBy.size + j)
            }
          }.reduce(_.bitwiseOR(_)))
        }
      }
    val sortCols = (clusterBy, zExpr) match {
      case (Some(c), _) => Seq(col("__bucket"), col(c))
      case (None, Some(z)) => Seq(col("__bucket"), z)
      case _ => col("__bucket") +: base.keyCols.map(col)
    }
    val writer0 = live
      .repartition(math.max(chosen.size, 1), col("__bucket"))
      .sortWithinPartitions(sortCols: _*)
      .observe(obs, count(lit(1)).as("rows"))
      .write.partitionBy("__bucket").mode("overwrite")
    val writer = if (clusterBy.isDefined || zExpr.isDefined) {
      // size the range split from the manifest's row counts (an upper
      // bound incl. superseded versions — files come out slightly small,
      // never fewer than asked); data is sorted within the task, so each
      // maxRecordsPerFile chunk is CONTIGUOUS in the cluster column (or
      // the z-curve)
      val estRows = math.max(1L, oldFiles.map(_.rows).sum)
      writer0.option("maxRecordsPerFile",
        math.max(1L, estRows / math.max(1, chosen.size * filesPerBucket)))
    } else writer0
    writer.parquet(epochDir)
    val rowsAfter = obs.get("rows").asInstanceOf[Long]
    val rowsBefore = preObs.get("rows").asInstanceOf[Long]

    // compaction output is pure BASE state (no __origin dirs → origin 0 from
    // the scan, overridden: these are not change rows). Clustered files
    // record their measured [min, max] of every cluster/z-order column.
    // A compaction rewrites the chosen buckets' FULL state, so their value
    // blooms are REPLACED from the output — this is where deleted values
    // finally shed from the index (the OR path on append epochs can only
    // grow it); chosen buckets with no surviving rows get an empty bloom.
    val indexed = base.indexedCols.toSeq.sorted
    val (scanned, valueBlooms) = KeyBloom.describe(spark, epochDir, base.currentSchemaVersion,
      structOf(base.currentSchema), base.keyCols, indexed, clusterBy.map(Seq(_)).getOrElse(zorderBy))
    val newFiles = scanned.map { case (f, _) => f.copy(delta = false) }
    val valueRep = KeyBloom.withEmptyBuckets(valueBlooms, indexed, chosen)
    // touches exactly the chosen buckets — any concurrent commit on them
    // conflicts loudly (IceLite.commit) instead of losing files
    IceLite.commit(dir, base, IceLite.CommitDelta(
      epochId, chosen, newFiles, base.currentSchema, valueBloomReplace = valueRep))
    // filesReplaced: superseded by the new per-bucket files; physical removal
    // happens in vacuum once time travel can go
    CompactionStats(chosen.size, rowsBefore, rowsAfter, oldFiles.size)
  }

  /** Per-bucket manifest health — computed purely from snapshot metadata
    * (no Spark job, no file opens): file count, delta-file count, row
    * totals, tombstone rows. The input a maintenance scheduler needs to
    * pick WHICH buckets to compact on a 10^6-file table without scanning
    * anything. */
  final case class BucketHealth(bucket: Int, files: Int, deltas: Int,
      rows: Long, delRows: Long) {
    def deadFraction: Double =
      if (rows <= 0 || delRows < 0) 0.0 else delRows.toDouble / rows
  }

  def health(snap: IceLite.Snapshot): Seq[BucketHealth] =
    snap.files.groupBy(_.bucket).toSeq.sortBy(_._1).map { case (b, fs) =>
      BucketHealth(b, fs.size, fs.count(_.delta),
        fs.map(f => math.max(0L, f.rows)).sum,
        fs.map(f => math.max(0L, f.delRows)).sum)
    }

  /** The buckets a maintenance pass should compact: too many files (read
    * amplification — every lookup/merge opens them all) or too much dead
    * weight (tombstones + superseded versions). Metadata-only. */
  def advise(snap: IceLite.Snapshot, maxFiles: Int,
      maxDeadFraction: Double = 0.3): Set[Int] =
    health(snap).filter(h =>
      h.files > maxFiles || h.deadFraction > maxDeadFraction)
      .map(_.bucket).toSet

  /** Change the table's bucket count — the scale operation for a table that
    * outgrew its layout (e.g. 64 buckets ingesting 100× the design volume:
    * per-bucket files get huge and merge tasks coarse). A full rewrite of
    * the resolved state (tombstones included, so late events replayed later
    * still lose to them) under the NEW bucket expression, committed as a
    * fresh snapshot with the new bucket count. Fenced like any commit; any
    * concurrent commit conflicts loudly (a rebucket touches every bucket).
    * Readers pick up the new layout transparently — bucket ids live only in
    * snapshot metadata. */
  def rebucket(spark: SparkSession, dir: String, newBuckets: Int, epochId: String): CompactionStats = {
    val base = IceLite.load(dir)
    if (base.hasEpoch(epochId)) return CompactionStats(0, 0, 0, 0)
    require(newBuckets > 0, "newBuckets must be positive")

    val preObs = org.apache.spark.sql.Observation(s"rebucket-pre-$epochId")
    // resolved state INCLUDING tombstones (they must survive the rewrite)
    val cur = IceLite.read(spark, base, includeHidden = true)
      .observe(preObs, count(lit(1)).as("rows"))
      .withColumn("__bucket", bucketExpr(base.keyCols, newBuckets))

    val epochDir = Paths.get(dir, "data", s"epoch=$epochId-rebucket").toString
    val obs = org.apache.spark.sql.Observation(s"rebucket-$epochId")
    cur
      .repartition(newBuckets, col("__bucket"))
      .sortWithinPartitions(col("__bucket") +: base.keyCols.map(col): _*)
      .observe(obs, count(lit(1)).as("rows"))
      .write.option("parquet.block.size", 16 * 1024 * 1024)
      .partitionBy("__bucket").mode("overwrite").parquet(epochDir)
    val rowsAfter = obs.get("rows").asInstanceOf[Long]
    val rowsBefore = preObs.get("rows").asInstanceOf[Long]

    // the value index is recomputed under the NEW bucket numbering
    val (scanned, newValueIndex) = KeyBloom.describe(spark, epochDir, base.currentSchemaVersion,
      structOf(base.currentSchema), base.keyCols, base.indexedCols.toSeq.sorted)
    IceLite.commitRebucket(dir, base, epochId, newBuckets,
      scanned.map { case (f, _) => f.copy(delta = false) }, newValueIndex)
    CompactionStats(newBuckets, rowsBefore, rowsAfter, base.files.size)
  }

  /** Orphan retention age (Iceberg's orphan-file protocol): an in-flight
    * commit writes its manifests — and Merge its epoch data files — BEFORE
    * the snapshot link lands, so a zero-age sweep racing that commit would
    * delete just-written files the about-to-publish snapshot references,
    * leaving the table unreadable. Anything younger than this window is
    * left alone; a later vacuum reclaims it. */
  val defaultVacuumRetentionMs: Long = 10 * 60 * 1000L

  /** Remove data files not referenced by any retained snapshot's manifests,
    * and manifest files not referenced by any snapshot (orphans from lost
    * commit races), keeping anything modified within `olderThanMs` (see
    * [[defaultVacuumRetentionMs]] — pass 0 only when no commit can be in
    * flight, e.g. a single-writer test). Ends time travel for data
    * superseded before the latest snapshot once older snapshot JSONs are
    * dropped by `expire`. */
  def vacuum(dir: String, olderThanMs: Long = defaultVacuumRetentionMs): Int = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    def oldEnough(p: java.nio.file.Path): Boolean =
      try java.nio.file.Files.getLastModifiedTime(p).toMillis <= cutoff
      catch { case _: java.io.IOException => false }
    val versions = IceLite.history(dir)
    val snaps = versions.map(v => IceLite.loadVersion(dir, v))
    val liveData = snaps.flatMap(_.files.map(f => Paths.get(f.path).toAbsolutePath.toString)).toSet
    val liveManifests = snaps.flatMap(_.manifests.map(m => Paths.get(m.path).toAbsolutePath.toString)).toSet
    var removed = 0
    val dataRoot = Paths.get(dir, "data")
    java.nio.file.Files.walk(dataRoot).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .filterNot(p => liveData.contains(p.toAbsolutePath.toString))
      .filter(oldEnough)
      .foreach { p => java.nio.file.Files.deleteIfExists(p); removed += 1 }
    java.nio.file.Files.list(Paths.get(dir, "meta")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("m-"))
      .filterNot(p => liveManifests.contains(p.toAbsolutePath.toString))
      .filter(oldEnough)
      .foreach { p => java.nio.file.Files.deleteIfExists(p); removed += 1 }
    // crash leftovers from staged publishes: snapshot/tag writers stage
    // dot-prefixed temp files in meta/, Export stages dot-prefixed dirs in
    // export/ — all are atomically renamed/linked on success, so a
    // dot-prefixed entry older than the retention window is an orphan of a
    // crashed writer (the window keeps a LIVE writer's stage safe, same
    // in-flight-commit argument as the data-file sweep above)
    Seq(Paths.get(dir, "meta"), Paths.get(dir, "export"))
      .filter(java.nio.file.Files.isDirectory(_))
      .foreach { d =>
        java.nio.file.Files.list(d).iterator().asScala
          .filter(_.getFileName.toString.startsWith("."))
          .filter(oldEnough)
          .foreach { p =>
            org.apache.commons.io.FileUtils.deleteQuietly(p.toFile); removed += 1
          }
      }
    removed
  }

  /** Drop snapshot JSONs older than `keepLast` versions (ends time travel
    * to them); a following vacuum() then reclaims their exclusive data and
    * manifest files. */
  def expire(dir: String, keepLast: Int): Int = {
    val versions = IceLite.history(dir)
    // TAGGED versions are retention roots: a tag pins its snapshot (and,
    // through vacuum's retained-JSON liveness rule, that snapshot's exact
    // files) no matter how far past keepLast it falls. So are CONSUMER
    // CURSORS ([[Feed]]): a lagging consumer's next poll loads its cursor
    // version as a change-window endpoint — dropping it would wedge the
    // consumer on NoSuchFile with no recovery short of a full resync.
    val tagged = IceLite.tags(dir).values.toSet
    val floor = Feed.minCursor(dir)
    val drop = versions.dropRight(math.max(keepLast, 1))
      .filterNot(v => tagged(v) || floor.exists(v >= _))
    drop.foreach { v =>
      java.nio.file.Files.deleteIfExists(Paths.get(dir, "meta", f"v$v%05d.json"))
    }
    drop.size
  }

  /** Time-based retention (Iceberg's `expire_snapshots(older_than)`): drop
    * snapshot JSONs whose commit wall-clock time is before `tsMs`. Tagged
    * versions and the newest `keepLast` versions always survive — same
    * retention roots as [[expire]]; a following vacuum() reclaims the
    * dropped versions' exclusive data and manifest files. Returns the
    * number of versions dropped. */
  def expireOlderThan(dir: String, tsMs: Long, keepLast: Int = 1): Int = {
    val versions = IceLite.history(dir)
    val tagged = IceLite.tags(dir).values.toSet
    val floor = Feed.minCursor(dir) // consumer cursors pin, same as expire
    val keep = versions.takeRight(math.max(keepLast, 1)).toSet
    // monotone commit times → oldest-to-newest, stop at the first version
    // at or past the cut (tag/keep exclusions don't break the prefix: they
    // only skip versions inside it)
    val drop = versions
      .takeWhile(v => IceLite.commitTimeOf(dir, v) < tsMs)
      .filterNot(v => keep(v) || tagged(v) || floor.exists(v >= _))
    drop.foreach { v =>
      java.nio.file.Files.deleteIfExists(Paths.get(dir, "meta", f"v$v%05d.json"))
    }
    drop.size
  }
}
