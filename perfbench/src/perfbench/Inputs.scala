package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.cdc.LogGen

/** The load generator's side of the benchmark: seeded logs written by
  * graft.cdc.LogGen, and the last-writer-wins oracle over the same events,
  * computed on the driver from LogGen.rawChange alone (no decode, no Spark).
  * Only the written log files reach the system under test. */
object Inputs {

  /** A contiguous run of event ids; ids at or past `v1Cut` are written with
    * the v2 descriptor, which adds `author`. */
  final case class Range(from: Long, until: Long, v1Cut: Long)

  /** Default LogGen shape: 500 Zipf(1.1) repos x 200 paths, 1 delete in 50. */
  def params(seed: Long): LogGen.Params = LogGen.Params(nEvents = 1L, seed = seed)

  type Key = (String, String)

  /** Expected state after applying `ranges` in seq order: the winning event
    * per key (DELETE included), plus the distinct-key count of each range
    * (the rows its change-feed window must hold). */
  final class Oracle(seed: Long, ranges: Seq[Range]) {
    private val p = params(seed)
    private val winner = new java.util.HashMap[Key, java.lang.Long]()
    val distinctKeys: Vector[Long] = ranges.toVector.map { r =>
      val seen = new java.util.HashSet[Key]()
      var id = r.from
      while (id < r.until) {
        val c = LogGen.rawChange(id, p)
        val k = (c.repo, c.path)
        seen.add(k)
        val prev = winner.get(k)
        if (prev == null || prev.longValue < id) winner.put(k, id)
        id += 1
      }
      seen.size.toLong
    }
    /** The table's visible columns: decode reads every event with the
      * newest registry descriptor, so `author` (v2) is a column from the
      * first epoch on, null for v1 events. */
    val columns: Vector[String] =
      Vector("repo", "path", "commit", "lang", "content", "author").sorted

    /** v1 events lack `author`; decoded with the v2 descriptor it reads as
      * the proto3 default, "". */
    private def authorOf(id: Long, author: String): String =
      if (ranges.exists(r => id >= r.from && id < r.until && id >= r.v1Cut)) author else ""

    /** The visible row a key must read as, or None if absent or deleted. */
    def row(k: Key): Option[Map[String, Any]] = Option(winner.get(k)).flatMap { id =>
      val c = LogGen.rawChange(id.longValue, p)
      if (c.op == "DELETE") None
      else Some(Map[String, Any]("repo" -> c.repo, "path" -> c.path, "commit" -> c.commit,
        "lang" -> c.lang, "content" -> c.content, "author" -> authorOf(id.longValue, c.author)))
    }

    /** Order-independent digest of the live rows: count and the sum of each
    * row's sha256 prefix. [[Checks.digest]] computes the same on a table. */
    lazy val digest: (Long, BigInt) = {
      var n = 0L
      var sum = BigInt(0)
      winner.keySet.asScala.foreach { k =>
        row(k).foreach { r =>
          n += 1
          sum += Checks.rowHash(columns.map(c => r(c)))
        }
      }
      (n, sum)
    }

    /** A seeded probe set: keys drawn from the log's own Zipf distribution
      * (a uniformly chosen event's key), about 1 in 10 replaced by a key no
      * event ever writes. */
    def probes(n: Int, probeSeed: Long): Vector[Key] = {
      val rnd = new scala.util.Random(probeSeed)
      val all = ranges.toVector
      Vector.fill(n) {
        val r = all(rnd.nextInt(all.size))
        val id = r.from + (rnd.nextDouble() * (r.until - r.from)).toLong
        val c = LogGen.rawChange(id, p)
        if (rnd.nextInt(10) == 0) (c.repo, s"src/absent/file${rnd.nextInt(1000)}.md")
        else (c.repo, c.path)
      }
    }
  }

  /** A replayable log: LogGen.writeLog, partitioned into `epochs`. */
  def writeLog(spark: SparkSession, dir: Path, seed: Long, from: Long, n: Long,
      epochs: Int, v1Fraction: Double = 1.0): Range = {
    LogGen.writeLog(spark, params(seed).copy(nEvents = n, idOffset = from,
      v1Fraction = v1Fraction), dir.toString, epochs)
    Range(from, from + n, from + (n * v1Fraction).toLong)
  }

  /** A tail backlog: `files` parquet files of `perFile` consecutive events
    * each, named and timestamped in id order so the file stream source
    * consumes them in that order. Returns the id range of each file. */
  def writeBacklog(spark: SparkSession, dir: Path, seed: Long, from: Long, files: Int,
      perFile: Int, v1Fraction: Double): Vector[Range] = {
    val n = files.toLong * perFile
    val p = params(seed).copy(nEvents = n, idOffset = from, v1Fraction = v1Fraction)
    val raw = dir.resolveSibling(dir.getFileName.toString + "-raw")
    LogGen.events(spark, p, partitions = files).write.mode("overwrite").parquet(raw.toString)
    Files.createDirectories(dir)
    val PartRe = """part-(\d+)-.*\.parquet""".r
    val parts = Files.list(raw).iterator().asScala.toVector.flatMap { f =>
      f.getFileName.toString match {
        case PartRe(i) => Some(i.toInt -> f)
        case _ => None
      }
    }.sortBy(_._1)
    require(parts.map(_._1) == (0 until files), s"backlog wrote ${parts.size} of $files files")
    val t0 = 1700000000000L
    parts.foreach { case (i, f) =>
      val to = dir.resolve(f"f$i%05d.parquet")
      Files.move(f, to)
      Files.setLastModifiedTime(to, java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000L))
    }
    Util.delete(raw)
    val v1Cut = from + (n * v1Fraction).toLong
    Vector.tabulate(files)(i => Range(from + i.toLong * perFile, from + (i + 1L) * perFile, v1Cut))
  }
}

object Util {
  def delete(p: Path): Unit = org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)

  def timedMs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the R-7 / numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}
