package graft.lake

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.cdc.{LogGen, Replay}

/** Per-file key blooms: no false negatives ever, small FPR, manifest
  * round-trip, and the point of the feature — the candidate file set for a
  * point lookup stops growing with uncompacted epochs (bounds alone prune
  * nothing inside a bucket because delta files are hash-sharded). */
class KeyBloomSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("build/mayContain: zero false negatives, FPR under 3%") {
    val rnd = new scala.util.Random(7)
    val members = Array.fill(20000)(rnd.nextLong())
    val bloom = KeyBloom.build(members)
    members.foreach(h => assert(KeyBloom.mayContain(bloom, h), s"false negative on $h"))
    val memberSet = members.toSet
    var fp = 0; var probes = 0
    while (probes < 20000) {
      val h = rnd.nextLong()
      if (!memberSet.contains(h)) {
        probes += 1
        if (KeyBloom.mayContain(bloom, h)) fp += 1
      }
    }
    val fpr = fp.toDouble / probes
    assert(fpr < 0.03, s"FPR $fpr")
  }

  test("sizing: bounded by MinBits/MaxBits, bloom only under RowCap") {
    assert(KeyBloom.sizeBits(1) == KeyBloom.MinBits)
    assert(KeyBloom.sizeBits(1000000) == KeyBloom.MaxBits)
    assert(KeyBloom.build(Array(1L, 2L)).length == KeyBloom.MinBits / 8)
  }

  test("delta-heavy table: blooms in the manifest keep lookup candidates O(1)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-keybloom").toString
    val logDir = s"$root/log"
    val tableDir = s"$root/table"
    // 5 epochs at deltaThreshold=8 (replay default) → every epoch appends
    // delta files, nothing compacts: the bounds-only candidate set grows
    // with epochs, the bloom'd one must not
    LogGen.writeLog(spark, LogGen.Params(nEvents = 5000, nRepos = 30,
      pathsPerRepo = 20, v1Fraction = 0.7), logDir, epochs = 5)
    // the fixture WANTS the many-small-delta-files regime (that is the
    // workload blooms exist for); pin the per-task row target low so each
    // epoch shards into several delta files per bucket regardless of the
    // scale-adaptive merge task sizing
    graft.Conf.withConf(spark, "spark.graft.merge.targetRowsPerTask" -> "64") {
      Replay.replayLog(spark, logDir, tableDir, buckets = 4)
    }
    val snap = IceLite.load(tableDir)

    // every delta file in this small-file regime carries a bloom, and it
    // survives the manifest JSON round-trip
    val deltas = snap.files.filter(_.delta)
    assert(deltas.nonEmpty)
    assert(deltas.forall(_.bloom.isDefined), "small delta files must carry blooms")

    val noBloom = snap.copy(files = snap.files.map(_.copy(bloom = None)))
    val live = IceLite.read(spark, snap).select("repo", "path")
      .orderBy("repo", "path").as[(String, String)].collect()
    assert(live.length > 100)

    var withB = 0L; var withoutB = 0L
    live.sliding(1, live.length / 50).flatten.foreach { case (r, p) =>
      val key = Map[String, Any]("repo" -> r, "path" -> p)
      val cand = IceLite.lookupFiles(snap, key)
      val candNoBloom = IceLite.lookupFiles(noBloom, key)
      withB += cand.length; withoutB += candNoBloom.length
      // bloom pruning is sound: it must keep every file the bounds kept
      // that actually holds the key — equality of served rows checks that
      assert(cand.map(_.path).toSet.subsetOf(candNoBloom.map(_.path).toSet))
      val localRow = IceLite.lookupLocal(snap, key)
      val sparkRow = IceLite.lookup(spark, snap, key).collect()
      assert(localRow.isDefined && sparkRow.length == 1, s"live key $key must serve")
      assert(localRow.get("commit") == sparkRow(0).getAs[Any]("commit"), s"$key")
    }
    // the headline: blooms cut the per-lookup open set hard (a key usually
    // lives in 1-2 of the ~5 epochs' deltas + maybe a base file)
    assert(withB * 3 <= withoutB,
      s"expected ≥3x candidate pruning from blooms: with=$withB without=$withoutB")

    // absent keys: zero file opens almost always (FPR-rare collisions ok)
    val absent = (0 until 50).map(i => Map[String, Any](
      "repo" -> s"ghost-repo-$i", "path" -> s"no/such/file-$i.scala"))
    val absentOpens = absent.map(k => IceLite.lookupFiles(snap, k).length.toLong).sum
    val absentNoBloom = absent.map(k => IceLite.lookupFiles(noBloom, k).length.toLong).sum
    assert(absentOpens * 10 <= absentNoBloom,
      s"absent-key probes should be bloom-answered: with=$absentOpens without=$absentNoBloom")
    absent.foreach(k => assert(IceLite.lookupLocal(snap, k).isEmpty))
  }

  test("typed probe normalization: Int probe against BIGINT key column") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-keybloom-typed").toString
    val dir = s"$root/table"
    IceLite.create(dir,
      IceLite.withCdcCols(Vector(
        IceLite.ColDef(1, "id", "BIGINT"), IceLite.ColDef(2, "v", "STRING"))),
      Vector("id"), buckets = 4)
    import org.apache.spark.sql.functions.{col, lit}
    def fid(n: Long) = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.fieldId", n).build()
    val batch = (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
      .select(col("id").as("id", fid(1)), col("v").as("v", fid(2)))
      .withColumn("seq", col("id"))
      .withColumn("op", lit("UPSERT"))
    Merge.mergeEpoch(spark, dir, batch, "seq", "op", "e0")
    val snap = IceLite.load(dir)
    // Int probe must hash/bucket/bloom exactly like the stored Long column
    val viaInt = IceLite.lookupLocal(snap, Map("id" -> 42))
    val viaLong = IceLite.lookupLocal(snap, Map("id" -> 42L))
    assert(viaInt.isDefined && viaLong.isDefined)
    assert(viaInt.get("v") == "v42" && viaLong.get("v") == "v42")
    assert(IceLite.lookupFiles(snap, Map("id" -> 42)).map(_.path) ==
      IceLite.lookupFiles(snap, Map("id" -> 42L)).map(_.path))
  }
}
