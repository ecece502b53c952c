package graft.cdc

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.lake.IceLite

/** Multi-writer ingest (q122's operator): two writer threads replaying
  * interleaved epoch sets into ONE table under maximal COW pressure
  * (deltaThreshold = 0 — every epoch compacts every touched bucket inline,
  * so concurrent commits conflict constantly) must converge to exactly the
  * single-writer fold, with every epoch applied exactly once. */
class ConcurrentReplaySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft-test-concurrent/$tag"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    d
  }

  test("concurrent writers under constant COW conflicts ≡ sequential replay") {
    val root = freshDir("conflict")
    val p = LogGen.Params(nEvents = 1200, nRepos = 10, pathsPerRepo = 8)
    LogGen.writeLog(spark, p, s"$root/log", epochs = 4)
    // split the epochs across two writers (same key space — cross-epoch
    // per-key order is the LWW's problem, which is order-independent)
    val fullEpochs = new java.io.File(s"$root/log").listFiles()
      .filter(_.getName.startsWith("epoch=")).sortBy(_.getName)
    assert(fullEpochs.length == 4)
    fullEpochs.zipWithIndex.foreach { case (dir, i) =>
      val dst = new java.io.File(s"$root/log${if (i % 2 == 0) "A" else "B"}/${dir.getName}")
      org.apache.commons.io.FileUtils.copyDirectory(dir, dst)
    }

    val (results, retries) = Replay.replayLogsConcurrent(spark,
      Seq(s"$root/logA" -> "wa", s"$root/logB" -> "wb"),
      s"$root/table", buckets = 4, deltaThreshold = 0)
    assert(results.map(_.epochs) == Seq(2, 2))
    assert(results.forall(_.stats.forall(_.applied)), "every epoch applies once")
    info(s"conflict retries taken: $retries")

    // sequential single-writer reference over the SAME full log
    Replay.replayLog(spark, s"$root/log", s"$root/ref", buckets = 4)
    def state(dir: String): Seq[String] =
      IceLite.read(spark, IceLite.load(dir))
        .selectExpr("repo", "path", "commit", "lang", "sha2(content, 256)", "author")
        .collect().map(_.mkString("|")).toSeq.sorted
    assert(state(s"$root/table") == state(s"$root/ref"),
      "interleaving-independent convergence")

    // exactly-once survived the race: re-replaying either writer's log is
    // a fenced no-op
    val again = Replay.replayLog(spark, s"$root/logA", s"$root/table",
      buckets = 4, namespace = "wa")
    assert(again.stats.forall(st => !st.applied))

    // lineage: one row per epoch, and each row counts that epoch's events
    // once — a conflict-retried epoch re-runs whole, so its counters are
    // the final attempt's, not the sum of every attempt
    import spark.implicits._
    val events = Seq("A" -> "wa", "B" -> "wb").flatMap { case (l, ns) =>
      spark.read.parquet(s"$root/log$l").groupBy("epoch").count()
        .as[(Long, Long)].collect().map { case (e, n) => s"$ns-$e" -> n }
    }.toMap
    val rows = Lineage.read(spark, s"$root/table")
      .select("epochId", "partitions").collect()
      .map(r => r.getString(0) -> r.getAs[scala.collection.Map[Int, Long]](1).values.sum)
    assert(rows.map(_._1).sorted.toSeq == events.keys.toSeq.sorted, rows.toSeq.toString)
    rows.foreach { case (id, n) =>
      assert(n == events(id), s"$id counted $n events, the log holds ${events(id)} " +
        s"(conflict retries this run: $retries)")
    }
  }

  test("duplicate fence namespaces are refused") {
    intercept[IllegalArgumentException] {
      Replay.replayLogsConcurrent(spark,
        Seq("/tmp/x" -> "same", "/tmp/y" -> "same"), "/tmp/z")
    }
  }
}
