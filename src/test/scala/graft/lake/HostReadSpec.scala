package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import graft.cdc.{LogGen, Replay}

/** Host-side parquet reads (footer stats at commit, tombstone counts,
  * `lookupLocal`) all run on IceLite's one loaded Hadoop conf: none of them
  * parses Hadoop's default XML resources again. And the footer stats they
  * record stay exact, so a broken host reader cannot hide behind the
  * "unknown stats" fallbacks as merely weaker pruning. */
class HostReadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A replayed table: epoch 2 merges delta files holding live rows and
    * tombstones side by side, so their `__del` row groups are mixed. */
  private lazy val snap: IceLite.Snapshot = {
    val root = Files.createTempDirectory("graft-hostread").toString
    LogGen.writeLog(spark, LogGen.Params(nEvents = 2000, nRepos = 20,
      pathsPerRepo = 15, v1Fraction = 0.7), s"$root/log", epochs = 2)
    Replay.replayLog(spark, s"$root/log", s"$root/table", buckets = 8)
    IceLite.load(s"$root/table")
  }

  private def cols(fs: (String, org.apache.spark.sql.types.DataType)*) =
    StructType(fs.map { case (n, t) => StructField(n, t) })

  /** `body`'s result and the times a `Configuration` made on this thread
    * looked up `core-default.xml` meanwhile, that is, parsed the default
    * resources. */
  private def xmlParses[A](body: => A): (A, Int) = {
    val t = Thread.currentThread()
    val prior = t.getContextClassLoader
    val n = new AtomicInteger
    t.setContextClassLoader(new ClassLoader(prior) {
      override def getResource(name: String): java.net.URL = {
        if (name == "core-default.xml") n.incrementAndGet()
        super.getResource(name)
      }
    })
    val a = try body finally t.setContextClassLoader(prior)
    (a, n.get)
  }

  private def footerScan(): Seq[IceLite.DataFile] = snap.files.map(f =>
    IceLite.statsOf(Paths.get(f.path), f.bucket, f.schemaVersion, snap.keyCols))

  test("lookupLocal and host footer scans parse no Hadoop XML per read") {
    import spark.implicits._
    // the newest row of every key, tombstones included
    val winners = IceLite.readFiles(spark, snap.files.map(_.path),
        cols("repo" -> StringType, "path" -> StringType, "__seq" -> LongType, "__del" -> BooleanType))
      .groupBy("repo", "path").agg(max_by(col("__del"), col("__seq")).as("del"))
      .orderBy("repo", "path").as[(String, String, Boolean)].collect()
    val live = winners.filterNot(_._3).map(w => Map[String, Any]("repo" -> w._1, "path" -> w._2))
    val dead = winners.filter(_._3).map(w => Map[String, Any]("repo" -> w._1, "path" -> w._2))
    assert(live.length >= 12 && dead.nonEmpty, "the log leaves live and tombstoned keys")
    val hits = live.sliding(1, live.length / 12).flatten.take(12).toSeq
    val misses = (1 to 7).map(i => Map[String, Any]("repo" -> s"no-such-repo-$i", "path" -> "x"))
    val probes = hits ++ misses :+ dead.head
    assert(probes.size == 20)

    IceLite.lookupLocal(snap, hits.head) // warm-up: one-time static loads
    footerScan()
    val (served, lookupParses) = xmlParses(probes.map(IceLite.lookupLocal(snap, _).isDefined))
    assert(served == hits.map(_ => true) ++ misses.map(_ => false) :+ false)
    assert(lookupParses == 0, s"$lookupParses default-resource parses over 20 lookups")

    val (stats, footerParses) = xmlParses(footerScan())
    assert(footerParses == 0, s"$footerParses default-resource parses over ${snap.files.size} footers")
    // the scan re-derives what the commit recorded
    stats.zip(snap.files).foreach { case (s, f) =>
      assert((s.rows, s.delRows, s.minSeq, s.maxSeq, s.keyMin, s.keyMax, s.colBounds) ==
        (f.rows, f.delRows, f.minSeq, f.maxSeq, f.keyMin, f.keyMax, f.colBounds), f.path)
    }
  }

  test("every manifest file has footer stats and an exact tombstone count") {
    val truth = IceLite.readFiles(spark, snap.files.map(_.path), cols("__del" -> BooleanType))
      .groupBy(input_file_name().as("uri"))
      .agg(count(lit(1)), count(when(col("__del"), 1)))
      .collect().map(r => Paths.get(new URI(r.getString(0))).toString -> (r.getLong(1), r.getLong(2)))
      .toMap
    snap.files.foreach { f =>
      val p = Paths.get(f.path).toAbsolutePath.toString
      assert(f.rows >= 0 && f.keyMin.size == snap.keyCols.size && f.keyMax.size == snap.keyCols.size,
        s"$p: rows ${f.rows}, key bounds ${f.keyMin} ${f.keyMax}")
      assert((f.rows, f.delRows) == truth.getOrElse(p, (0L, 0L)), p)
    }
    assert(snap.files.exists(f => f.delRows > 0 && f.delRows < f.rows),
      "some file mixes live rows and tombstones, so its count is read, not footer-decided")
  }
}
