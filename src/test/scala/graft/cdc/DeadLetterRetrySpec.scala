package graft.cdc

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Dead-letter retry: after the registry gains the missing schema version,
  * the kept originals re-decode and merge at their TRUE sequence — the
  * table converges to the clean-replay fold; a fully-consumed store goes
  * absent; retrying an empty/absent store is a no-op. */
class DeadLetterRetrySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("retry converges to the clean fold; consumed store goes absent; no-op after") {
    val root = Files.createTempDirectory("graft-dlretry").toString
    val logDir = s"$root/log"
    val tableDir = s"$root/table"
    LogGen.writeLog(spark, LogGen.Params(nEvents = 400, nRepos = 10,
      pathsPerRepo = 8, v1Fraction = 0.5), logDir, epochs = 2)

    // ingest with a registry missing v2 → ~half the events dead-letter
    Replay.replayLog(spark, logDir, tableDir, buckets = 4,
      baseRegistry = Some(Cdc.registryV1Only))
    val nV2 = spark.read.parquet(logDir).filter(col("schemaVersion") === 2).count()
    assert(nV2 > 0)
    val dl = spark.read.parquet(s"$tableDir/_deadletter")
    assert(dl.count() == nV2)
    assert(dl.columns.contains("schemaId") && dl.columns.contains("schemaVersion"),
      "the store must be self-contained (schema refs ride along)")

    // fix the registry, retry: everything consumed, store goes ABSENT
    val reg = spark.sparkContext.broadcast(Cdc.registry)
    val st = Replay.retryDeadLetters(spark, tableDir, reg, "retry-1")
    assert(st.applied && st.attempted == nV2 && st.merged == nV2 && st.remaining == 0)
    assert(!Files.isDirectory(java.nio.file.Paths.get(s"$tableDir/_deadletter")))

    // the final state equals the fold of the FULL clean log (retried rows
    // merged at their original seq — late retry, correct ordering)
    val got = graft.lake.IceLite.read(spark, graft.lake.IceLite.load(tableDir))
      .select("repo", "path", "commit", "lang", "content")
    val want = Replay.oracleFold(spark, logDir)
      .select("repo", "path", "commit", "lang", "content")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // retry with no store: a clean no-op
    val none = Replay.retryDeadLetters(spark, tableDir, reg, "retry-2")
    assert(!none.applied && none.attempted == 0)
  }

  test("a fenced retry (reused tag) leaves the store untouched; crash-lost letters are recovered on replay") {
    val root = Files.createTempDirectory("graft-dlretry-fence").toString
    val logDir = s"$root/log"
    val tableDir = s"$root/table"
    LogGen.writeLog(spark, LogGen.Params(nEvents = 300, nRepos = 8,
      pathsPerRepo = 6, v1Fraction = 0.5), logDir, epochs = 2)
    Replay.replayLog(spark, logDir, tableDir, buckets = 4,
      baseRegistry = Some(Cdc.registryV1Only))
    val dld = s"$tableDir/_deadletter"
    val n0 = spark.read.parquet(dld).count()
    assert(n0 > 0)

    // a retry under a STILL-BROKEN registry consumes nothing but burns tag
    // 'retry-x'; re-running the SAME tag after the registry is fixed must
    // refuse (fenced) and leave the store intact — rewriting it would
    // destroy the now-decodable rows unmerged
    val v1 = spark.sparkContext.broadcast(Cdc.registryV1Only)
    val burn = Replay.retryDeadLetters(spark, tableDir, v1, "retry-x")
    assert(burn.applied && burn.remaining == n0)
    val full = spark.sparkContext.broadcast(Cdc.registry)
    val fenced = Replay.retryDeadLetters(spark, tableDir, full, "retry-x")
    assert(!fenced.applied, "reused tag must fence")
    assert(spark.read.parquet(dld).count() == n0,
      "a fenced retry must not rewrite the store")
    // fresh tag: everything consumes normally
    val ok = Replay.retryDeadLetters(spark, tableDir, full, "retry-y")
    assert(ok.applied && ok.remaining == 0)
    // lineage: each applied retry records one row, the fenced one none
    assert(LineageRows.of(spark, tableDir) == Map("replay-0" -> 1L, "replay-1" -> 1L,
      "retry-x" -> 1L, "retry-y" -> 1L))

    // crash-window recovery: simulate 'crashed between commit and flush' by
    // deleting the store and replaying the (fully fenced) log — the direct
    // flush must restore the letters instead of losing them forever
    val root2 = Files.createTempDirectory("graft-dl-crash").toString
    LogGen.writeLog(spark, LogGen.Params(nEvents = 300, nRepos = 8,
      pathsPerRepo = 6, v1Fraction = 0.5), s"$root2/log", epochs = 2)
    Replay.replayLog(spark, s"$root2/log", s"$root2/t", buckets = 4,
      baseRegistry = Some(Cdc.registryV1Only))
    val n1 = spark.read.parquet(s"$root2/t/_deadletter").count()
    assert(n1 > 0)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$root2/t/_deadletter"))
    val again = Replay.replayLog(spark, s"$root2/log", s"$root2/t", buckets = 4,
      baseRegistry = Some(Cdc.registryV1Only))
    assert(again.stats.forall(!_.applied), "every epoch fences on the replay")
    assert(spark.read.parquet(s"$root2/t/_deadletter").count() == n1,
      "fenced replay must recover the lost letters (idempotent flush)")
    // and a THIRD replay does not duplicate them
    Replay.replayLog(spark, s"$root2/log", s"$root2/t", buckets = 4,
      baseRegistry = Some(Cdc.registryV1Only))
    assert(spark.read.parquet(s"$root2/t/_deadletter").count() == n1,
      "the recovery flush must dedup by event identity")
  }
}
