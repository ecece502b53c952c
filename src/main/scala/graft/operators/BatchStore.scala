package graft.operators

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Shared machinery for PERSISTED batch-partitioned stores (SigStore's
  * minhash signatures, EmbStore's embeddings): each ingest batch writes its
  * own `batch=N/<key>=K/` subtree (idempotent under foreachBatch replay),
  * readers prune by HOST-SIDE directory listing, and offline compaction
  * consolidates accumulated batch dirs with a crash-safe swap:
  *
  *  1. stage consolidated copies under `.compact-<id>/` carrying a
  *     `_CONSOLIDATED` marker (the marker travels with the rename),
  *  2. atomically MOVE each side into place as `batch=<id>`,
  *  3. only then delete superseded dirs.
  *
  * Readers resolve each side's LIVE batch set independently — a
  * consolidated dir supersedes exactly the batch ids its marker lists —
  * so every crash window serves the exact full data set, batches appended
  * AFTER a compaction (e.g. by a checkpoint-resumed stream with small
  * microbatch ids) stay live, and the next compaction sweeps strays. */
private[graft] object BatchStore {

  /** Marker file a consolidated (compacted) batch dir carries; its CONTENT
    * is the exact list of batch ids it superseded (one per line). Listing
    * exact ids — rather than "every id below mine" — matters because a
    * stream RESUMED after an offline compaction continues from its
    * checkpoint's small batch ids: batch=4 appended after a
    * compact(intoBatchId=1000) must stay live, not be hidden and then
    * swept. Leading underscore keeps the marker invisible to Spark. */
  val ConsolidatedMarker = "_CONSOLIDATED"

  /** Run two independent committer-dominated writes at once (guide §2.6
    * overlap of independent jobs — distinct target dirs, so no committer
    * staging collision): `background` on the global pool, `foreground` on
    * the caller's thread. `blocking` lets the fork-join pool add a thread,
    * so the writes overlap even when the pool is small or busy. The
    * background write settles before this returns OR throws — an orphaned
    * in-flight job racing a replayed overwrite of the same batch dir is the
    * shared-_temporary committer collision — and its failure is rethrown
    * once the foreground succeeded. */
  def overlapWrites[A](background: => Unit)(foreground: => A): A = {
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val bg = Future(blocking(background))
    val out = try foreground finally Await.ready(bg, Duration.Inf)
    Await.result(bg, Duration.Inf)
    out
  }

  def batchIdOf(p: Path): Long =
    p.getFileName.toString.stripPrefix("batch=").toLong

  def listBatchDirs(root: String): Vector[Path] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) Vector.empty
    else Files.list(r).iterator().asScala
      .filter(_.getFileName.toString.startsWith("batch=")).toVector
      .sortBy(batchIdOf)
  }

  private def supersededBy(p: Path): Set[Long] = {
    val m = p.resolve(ConsolidatedMarker)
    if (!Files.exists(m)) Set.empty
    else new String(Files.readAllBytes(m), "UTF-8").linesIterator
      .map(_.trim).filter(_.nonEmpty).map(_.toLong).toSet
  }

  /** All ids hidden on one side: the union of every present consolidated
    * dir's superseded set. Safe as a plain union — a superseded id can
    * never come back as live (stream batch ids are monotonic from the
    * checkpoint, and compaction ids are required above every live id). */
  private def hiddenIds(root: String): Set[Long] =
    listBatchDirs(root).iterator.flatMap(supersededBy).toSet

  /** The LIVE batch dirs of one side: dirs whose id no consolidated dir
    * claims to have superseded — stale ones are still on disk only when a
    * compaction crashed between its moves and its deletes. */
  def liveBatchDirs(root: String): Vector[Path] = {
    val hidden = hiddenIds(root)
    listBatchDirs(root).filterNot(p => hidden(batchIdOf(p)))
  }

  /** `<key>=K` dirs across a side's live batches holding `touched` keys. */
  def prunedPaths(rootDir: String, keyName: String, touched: Set[Int]): Seq[String] =
    liveBatchDirs(rootDir)
      .flatMap(b => touched.toSeq.sorted.iterator.map(k => b.resolve(s"$keyName=$k"))
        .filter(Files.isDirectory(_)))
      .map(_.toString).sorted

  /** Crash-recovery sweep: delete superseded batch dirs and stranded
    * `.compact-*` stage dirs. Runs at every compaction entry. */
  def sweepSuperseded(dir: String, roots: Seq[String]): Unit = {
    roots.foreach { root =>
      val hidden = hiddenIds(root)
      listBatchDirs(root).filter(p => hidden(batchIdOf(p)))
        .foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
    }
    val d = Paths.get(dir)
    if (Files.isDirectory(d))
      Files.list(d).iterator().asScala
        .filter(_.getFileName.toString.startsWith(".compact-"))
        .foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
  }

  /** The crash-safe consolidation protocol over N sides. `sides` maps each
    * side's root dir to a stage writer (given the side's stage path, write
    * the consolidated copy there). Returns the number of batch dirs
    * collapsed (0 when every side already has ≤ 1 live batch).
    * `crashPoint` is a test seam: called with "staged" then
    * "moved-<side-name>" after each move. */
  def compact(dir: String,
      sides: Seq[(String, String => Unit)],
      intoBatchId: Long,
      crashPoint: String => Unit = _ => (),
      /** run even when every side already has ≤ 1 live batch — for callers
        * with cross-side pending work a batch count can't see (e.g. an
        * index with unconsumed tombstones against a single data batch). */
      force: Boolean = false): Int = {
    sweepSuperseded(dir, sides.map(_._1))
    val liveBySide = sides.map { case (root, _) => liveBatchDirs(root) }
    if (!force && liveBySide.forall(_.size <= 1)) return 0
    require(liveBySide.flatten.forall(batchIdOf(_) < intoBatchId),
      s"intoBatchId=$intoBatchId must exceed every live batch id")
    val stage = s"$dir/.compact-$intoBatchId"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
    // Marker content per side: the ids this consolidation folds in, PLUS
    // everything those ids' own markers already hid (transitive closure) —
    // so even if a superseded consolidated dir's delete quietly fails and
    // its marker later vanishes, the ids it hid stay hidden rather than
    // resurfacing as duplicate live data.
    val supersededIdsBySide = sides.zip(liveBySide).map { case ((root, _), live) =>
      live.map(batchIdOf).toSet ++ hiddenIds(root)
    }
    sides.zip(supersededIdsBySide).foreach { case ((root, write), superseded) =>
      val sideName = Paths.get(root).getFileName.toString
      write(s"$stage/$sideName")
      Files.write(Paths.get(s"$stage/$sideName", ConsolidatedMarker),
        superseded.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    }
    crashPoint("staged")
    sides.foreach { case (root, _) =>
      val sideName = Paths.get(root).getFileName.toString
      Files.move(Paths.get(s"$stage/$sideName"), Paths.get(s"$root/batch=$intoBatchId"))
      crashPoint(s"moved-$sideName")
    }
    sides.zip(supersededIdsBySide).foreach { case ((root, _), superseded) =>
      listBatchDirs(root).filter(p => superseded(batchIdOf(p)))
        .foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
    liveBySide.map(_.size).sum
  }
}
