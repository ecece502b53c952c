package graft.lake

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{LogGen, Replay}

/** IceLite reads are planned from the manifest ([[IceLite.readFiles]]):
  * building a read submits no Spark job however many files it names,
  * [[KeyBloom.describe]] runs its one aggregate query and nothing else, and the
  * read still lists its files as `file:` URIs, fails on a file missing or
  * corrupt on disk, and sizes itself from the files' lengths. */
class ScanPlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A replayed table whose snapshot names more files than Spark's parallel
    * listing threshold (32). */
  private lazy val table: IceLite.Snapshot = {
    val root = Files.createTempDirectory("graft-scanplan").toString
    LogGen.writeLog(spark, LogGen.Params(nEvents = 3000, nRepos = 40, pathsPerRepo = 20,
      v1Fraction = 0.5), s"$root/log", epochs = 2)
    Replay.replayLog(spark, s"$root/log", s"$root/table", buckets = 24)
    val snap = IceLite.load(s"$root/table")
    assert(snap.files.size > 32, s"${snap.files.size} files")
    snap
  }

  private def uriOf(path: String): String = Paths.get(path).toAbsolutePath.toUri.toString

  /** `body`'s result and the SQL execution id (None outside any query) of
    * each Spark job it submitted. Listener events arrive asynchronously but
    * in order, so a fence job run after `body` is seen only once every job
    * `body` started has been recorded. */
  private def jobsOf[T](body: => T): (T, Seq[Option[String]]) = {
    val sc = spark.sparkContext
    val fence = s"scanplan-fence-${System.nanoTime}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.job.description") == fence)) fenced.countDown()
        else if (fenced.getCount > 0)
          jobs.add(props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
      }
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      sc.setJobDescription(fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(fenced.await(60, TimeUnit.SECONDS), "fence job never reached the listener")
      (r, jobs.asScala.toVector)
    } finally sc.removeSparkListener(listener)
  }

  test("building a read over more than 32 files submits no Spark job") {
    val snap = table
    val (df, jobs) = jobsOf(IceLite.read(spark, snap, includeHidden = true))
    assert(jobs.isEmpty, s"${jobs.size} jobs ran while planning a read of ${snap.files.size} files")
    val (_, planJobs) = jobsOf(df.queryExecution.executedPlan)
    assert(planJobs.isEmpty, s"${planJobs.size} jobs ran while planning the physical scan")
    assert(df.count() > 0)
  }

  test("describe of a small epoch runs exactly one query, its aggregate") {
    val root = Files.createTempDirectory("graft-scanplan-describe").toString
    import spark.implicits._
    (0 until 400).map(i => (s"r${i % 7}", s"p$i", i.toLong, i.toLong, false, i % 4))
      .toDF("repo", "path", "n", IceLite.SeqCol.name, IceLite.DelCol.name, "__bucket")
      .repartition(2).write.partitionBy("__bucket").parquet(s"$root/epoch")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      s"repo STRING, path STRING, n BIGINT, ${IceLite.SeqCol.name} BIGINT, " +
        s"${IceLite.DelCol.name} BOOLEAN")
    val ((files, _), jobs) = jobsOf(KeyBloom.describe(spark, s"$root/epoch", 0, schema,
      Seq("repo", "path")))
    assert(files.nonEmpty && files.forall(_._1.bloom.nonEmpty))
    // the aggregate's shuffle map stage and its result are two jobs of one
    // SQL execution; a footer-inference job would run outside any
    assert(jobs.nonEmpty && jobs.forall(_.isDefined) && jobs.distinct.size == 1,
      s"describe ran jobs of executions ${jobs.mkString(", ")}")
  }

  test("inputFiles are the manifest paths as file: URIs, the same input_file_name() yields") {
    val snap = table
    val expected = snap.files.map(f => uriOf(f.path)).toSet
    val schema = IceLite.structOf(snap.currentSchema)
    val direct = IceLite.readFiles(spark, snap.files.map(_.path), schema)
    assert(direct.inputFiles.toSet == expected)
    assert(direct.inputFiles.forall(_.startsWith("file:///")))
    assert(IceLite.read(spark, snap, includeHidden = true).inputFiles.toSet == expected)
    // reads of the same files are the same relation (cache and exchange reuse)
    assert(direct.queryExecution.analyzed.sameResult(
      IceLite.readFiles(spark, snap.files.map(_.path).reverse, schema).queryExecution.analyzed))
    val named = direct.select(input_file_name()).distinct().collect().map(_.getString(0)).toSet
    assert(named == snap.files.filter(_.rows > 0).map(f => uriOf(f.path)).toSet)
    // the relation's size is the sum of the files' lengths
    val size = direct.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.sizeInBytes
    }
    assert(size.contains(snap.files.map(f => Files.size(Paths.get(f.path))).sum))
  }

  test("a data file deleted behind the manifest makes the read throw") {
    val root = Files.createTempDirectory("graft-scanplan-missing").toString
    LogGen.writeLog(spark, LogGen.Params(nEvents = 400, nRepos = 10, pathsPerRepo = 10),
      s"$root/log", epochs = 1)
    Replay.replayLog(spark, s"$root/log", s"$root/table", buckets = 4)
    val snap = IceLite.load(s"$root/table")
    val rows = IceLite.read(spark, snap).count()
    assert(rows > 0)
    Files.delete(Paths.get(snap.files.head.path))
    intercept[Exception](IceLite.read(spark, snap).count())
  }

  test("a data file changed behind its .crc fails the read") {
    val root = Files.createTempDirectory("graft-scanplan-crc").toString
    LogGen.writeLog(spark, LogGen.Params(nEvents = 400, nRepos = 10, pathsPerRepo = 10),
      s"$root/log", epochs = 1)
    Replay.replayLog(spark, s"$root/log", s"$root/table", buckets = 4)
    val snap = IceLite.load(s"$root/table")
    val f = Paths.get(snap.files.maxBy(_.rows).path)
    assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")))
    // flip one byte of the first column chunk, right after the leading magic
    val bytes = Files.readAllBytes(f)
    bytes(8) = (bytes(8) ^ 0x5a).toByte
    Files.write(f, bytes)
    val e = intercept[Exception](IceLite.read(spark, snap).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]), e.toString)
  }
}
