package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.functions.XxHash64Host

/** [[KeyBloom.describe]] — one aggregate measures a written epoch dir. Every
  * key bloom, value bloom and bound must equal a reference computed here
  * from each file's rows, also when row groups are small and splits are
  * smaller, so a file is read by several tasks and its partial bit arrays
  * are OR-ed. */
class DescribeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val keyCols = Seq("repo", "path")
  /** the schema [[writeEpoch]]'s files hold */
  private val schema = org.apache.spark.sql.types.StructType.fromDDL(
    s"repo STRING, path STRING, n BIGINT, lang STRING, z INT, " +
      s"${IceLite.SeqCol.name} BIGINT, ${IceLite.DelCol.name} BOOLEAN")

  /** An epoch dir in Merge/Compaction layout (`__bucket=N/part-*.parquet`),
    * two files per bucket: bucket 0's are over [[KeyBloom.RowCap]], buckets
    * 1-3 hold files of different bloom sizes; `z` is NULL throughout bucket 3
    * and `lang` in every fifth row. */
  private def writeEpoch(dir: String, buckets: Seq[Int]): Unit = {
    import spark.implicits._
    val perBucket = Map(0 -> 70000, 1 -> 200, 2 -> 2000, 3 -> 8000)
    val rows = buckets.flatMap(b => (0 until perBucket(b)).map { i =>
      (s"r${i % 97}", s"p$b-$i", (i * 7919L) % 100003L,
        if (i % 5 == 0) null else s"lang${i % 13}",
        if (b == 3) None else Some(i % 1000), i.toLong, false, b)
    })
    rows.toDF("repo", "path", "n", "lang", "z", IceLite.SeqCol.name, IceLite.DelCol.name, "__bucket")
      .repartition(2)
      .write.partitionBy("__bucket").parquet(dir)
  }

  test("describe: blooms and bounds equal per-file references across split files") {
    val root = Files.createTempDirectory("graft-describe").toString
    graft.Conf.withConf(spark, "parquet.block.size" -> "8192") {
      writeEpoch(s"$root/epoch", Seq(0, 1, 2, 3))
    }
    val indexed = Seq("lang", "n")
    val (clustered, zordered) =
      graft.Conf.withConf(spark, "spark.sql.files.maxPartitionBytes" -> "16384") {
        val largest = IceLite.scanEpochFiles(s"$root/epoch", 0, keyCols).map(_._1)
          .filter(f => f.rows <= KeyBloom.RowCap).maxBy(_.rows)
        assert(spark.read.parquet(largest.path).rdd.getNumPartitions > 1,
          "an eligible file must span several tasks")
        (KeyBloom.describe(spark, s"$root/epoch", 0, schema, keyCols, indexed, Seq("z")),
          KeyBloom.describe(spark, s"$root/epoch", 0, schema, keyCols, indexed, Seq("n", "z")))
      }
    val footer = IceLite.scanEpochFiles(s"$root/epoch", 0, keyCols).map(_._1)
      .map(f => f.path -> f).toMap
    val (files, valueBlooms) = clustered
    assert(files.size == 8 && files.map(_._1.bucket).toSet == Set(0, 1, 2, 3))
    assert(files.map(f => KeyBloom.sizeBits(f._1.rows)).filter(_ < KeyBloom.MaxBits).toSet.size >= 3,
      "the eligible files cover several bloom sizes")

    files.foreach { case (f, _) =>
      // key bloom: the host-side build over the file's own key hashes
      if (f.rows <= KeyBloom.RowCap) {
        val keys = spark.read.parquet(f.path).select(keyCols.map(col): _*).collect()
          .map(r => XxHash64Host.hashColumns(Seq(r.getString(0), r.getString(1))))
        assert(f.bloom.exists(_.sameElements(KeyBloom.build(keys))), s"key bloom of ${f.path}")
      } else assert(f.bloom.isEmpty, s"${f.path} is over the row cap")
      // bounds: a plain Spark min/max of the file
      val r = spark.read.parquet(f.path)
        .agg(min("z").cast("string"), max("z").cast("string"), min("n").cast("string"),
          max("n").cast("string")).head()
      val z = if (r.isNullAt(0)) None else Some((r.getString(0), r.getString(1)))
      val n = (r.getString(2), r.getString(3))
      assert(f.sortCol == z.map(_ => "z") && f.sortMin == z.map(_._1) && f.sortMax == z.map(_._2))
      assert(f.colBounds == footer(f.path).colBounds, "a clustering column leaves colBounds as the footer has them")
      val g = zordered._1.find(_._1.path == f.path).get._1
      assert(g.bloom.map(_.toSeq) == f.bloom.map(_.toSeq) && g.sortCol.isEmpty)
      assert(g.colBounds == footer(f.path).colBounds ++ Map("n" -> n) ++ z.map("z" -> _))
    }

    // value blooms: fixed blooms built per bucket over Spark's value hashes
    assert(valueBlooms.keySet == indexed.toSet)
    files.map(_._1).groupBy(_.bucket).foreach { case (b, fs) =>
      indexed.foreach { c =>
        val ref = KeyBloom.buildFixed(fs.iterator.flatMap(f =>
          spark.read.parquet(f.path).select(xxhash64(col(c))).collect().iterator.map(_.getLong(0))))
        assert(valueBlooms(c)(b).sameElements(ref), s"value bloom of $c in bucket $b")
        assert(zordered._2(c)(b).sameElements(ref))
      }
    }
  }

  test("describe: no job when no file is eligible and nothing else is measured") {
    val root = Files.createTempDirectory("graft-describe-none").toString
    writeEpoch(s"$root/epoch", Seq(0))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (files, valueBlooms) = KeyBloom.describe(spark, s"$root/epoch", 0, schema, keyCols)
      Thread.sleep(500) // listener events are delivered asynchronously
      assert(files.size == 2 && files.forall(_._1.bloom.isEmpty) && valueBlooms.isEmpty)
      assert(jobs.get == 0, s"${jobs.get} jobs ran")
    } finally spark.sparkContext.removeSparkListener(listener)
    // an empty dir measures nothing either
    assert(KeyBloom.describe(spark, s"$root/absent", 0, schema, keyCols, Seq("lang"), Seq("n")) ==
      ((Vector.empty, Map.empty)))
  }

  test("withEmptyBuckets: every chosen bucket, measured or empty") {
    val one = Array.fill[Byte](KeyBloom.FixedBits >>> 3)(1)
    val filled = KeyBloom.withEmptyBuckets(Map("c" -> Map(1 -> one, 9 -> one)), Seq("c", "d"), Seq(1, 2))
    assert(filled.keySet == Set("c", "d") && filled.values.forall(_.keySet == Set(1, 2)))
    assert(filled("c")(1) eq one)
    assert(Seq(filled("c")(2), filled("d")(1), filled("d")(2)).forall(b =>
      b.length == KeyBloom.FixedBits >>> 3 && b.forall(_ == 0)))
  }
}
