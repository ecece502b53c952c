package graft.cdc

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Selective replay == full replay + filter, including over DELIMITED
  * segments. The slice contract is strict — the target table holds ONLY
  * the predicate's rows: under delimited framing a matching segment
  * DECODES whole (the id join is per segment), but its non-matching
  * messages are re-filtered post-decode, never merged. */
class SelectiveReplaySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("raw framing: slice table == full table filtered") {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-selrep-spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    LogGen.writeLog(spark, LogGen.Params(nEvents = 800, nRepos = 10,
      pathsPerRepo = 6, v1Fraction = 0.5), s"$root/log", epochs = 2)
    Replay.replayLog(spark, s"$root/log", s"$root/full", buckets = 4)
    val target = LogGen.repoName(1)
    Replay.replaySelective(spark, s"$root/log", s"$root/slice",
      s"repo = '$target'", buckets = 4)
    def rows(dir: String) = graft.lake.IceLite.read(spark,
        graft.lake.IceLite.load(dir))
      .filter(col("repo") === target)
      .select("repo", "path", "commit", "lang", "content", "author")
      .collect().map(_.toSeq).toSet
    val (full, slice) = (rows(s"$root/full"), rows(s"$root/slice"))
    assert(slice == full && slice.nonEmpty, s"slice ${slice.size} vs full ${full.size}")
    // idempotent: re-running fences every epoch
    val again = Replay.replaySelective(spark, s"$root/log", s"$root/slice",
      s"repo = '$target'", buckets = 4)
    assert(again.stats.forall(!_.applied))
    // one lineage row per applied epoch; the fenced re-run adds none
    assert(LineageRows.of(spark, s"$root/slice") ==
      Map("selective-0" -> 1L, "selective-1" -> 1L))
  }

  test("delimited framing: keys decode per message, matching segments replay") {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-selrep-seg"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    LogGen.writeSegmentLog(spark, LogGen.Params(nEvents = 800, nRepos = 10,
      pathsPerRepo = 6, v1Fraction = 0.5), s"$root/log", epochs = 2,
      msgsPerSegment = 50)
    Replay.replayLog(spark, s"$root/log", s"$root/full", buckets = 4,
      framing = graft.decode.Framing.VarintDelimited)
    val target = LogGen.repoName(0) // the Zipf head: present in most segments
    Replay.replaySelective(spark, s"$root/log", s"$root/slice",
      s"repo = '$target'", buckets = 4,
      framing = graft.decode.Framing.VarintDelimited)
    def rows(dir: String) = graft.lake.IceLite.read(spark,
        graft.lake.IceLite.load(dir))
      .filter(col("repo") === target)
      .select("repo", "path", "commit", "lang", "content", "author")
      .collect().map(_.toSeq).toSet
    assert(rows(s"$root/slice") == rows(s"$root/full"))
    assert(rows(s"$root/slice").nonEmpty)
    // STRICT slice: segment neighbors of matching keys must NOT leak in —
    // the table holds the predicate's rows and nothing else
    val repos = graft.lake.IceLite.read(spark,
        graft.lake.IceLite.load(s"$root/slice"))
      .select("repo").distinct().collect().map(_.getString(0)).toSet
    assert(repos == Set(target),
      s"non-matching segment neighbors leaked into the slice: $repos")
  }
}
