package graft.cdc

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Breaker threshold semantics: an epoch AT the tolerance applies, one
  * strictly above quarantines; release demands a marker. */
class BreakerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("at-threshold applies; above quarantines; release needs a marker") {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-breaker-spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val logDir = s"$root/log"
    val badLog = s"$root/bad"
    val tableDir = s"$root/table"
    // 2 epochs × 10 events
    LogGen.writeLog(spark, LogGen.Params(nEvents = 20, nRepos = 5,
      pathsPerRepo = 4, v1Fraction = 0.5), logDir, epochs = 2)
    // epoch 0: exactly 1/10 bad (== threshold); epoch 1: 2/10 (> threshold)
    spark.read.parquet(logDir).withColumn("payload",
        when(col("epoch") === 0 && col("offset") === 0, lit(Array[Byte](-1)))
          .when(col("epoch") === 1 && col("offset").isin(10L, 11L),
            lit(Array[Byte](-1)))
          .otherwise(col("payload")))
      .write.partitionBy("epoch").mode("overwrite").parquet(badLog)
    val v = Breaker.replayGuarded(spark, badLog, tableDir,
      maxBadFraction = 0.1, buckets = 4)
    assert(v.map(x => (x.epoch, x.bad, x.quarantined)) ==
      Seq((0L, 1L, false), (1L, 2L, true)), v.toString)
    assert(Breaker.quarantined(tableDir) == Seq(1L))
    // release requires the marker; epoch 0 was never quarantined
    intercept[IllegalArgumentException] {
      Breaker.release(spark, badLog, tableDir, 0L)
    }
    assert(Breaker.release(spark, badLog, tableDir, 1L).applied)
    assert(Breaker.quarantined(tableDir).isEmpty)
    // final state: all good events applied exactly once
    val n = graft.lake.IceLite.read(spark,
      graft.lake.IceLite.load(tableDir)).count()
    assert(n > 0)
  }

  test("lineage: a quarantined epoch writes no row, its release writes one, fenced re-runs none") {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-breaker-lineage"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val logDir = s"$root/log"
    val badLog = s"$root/bad"
    val tableDir = s"$root/table"
    LogGen.writeLog(spark, LogGen.Params(nEvents = 20, nRepos = 5,
      pathsPerRepo = 4, v1Fraction = 0.5), logDir, epochs = 2)
    // epoch 1: 3/10 bad → quarantined at tolerance 0.1
    spark.read.parquet(logDir).withColumn("payload",
        when(col("epoch") === 1 && col("offset").isin(10L, 11L, 12L), lit(Array[Byte](-1)))
          .otherwise(col("payload")))
      .write.partitionBy("epoch").mode("overwrite").parquet(badLog)
    Breaker.replayGuarded(spark, badLog, tableDir, maxBadFraction = 0.1, buckets = 4)
    assert(LineageRows.of(spark, tableDir) == Map("replay-0" -> 1L),
      "only the applied epoch records lineage")
    Breaker.release(spark, badLog, tableDir, 1L)
    assert(LineageRows.of(spark, tableDir) == Map("replay-0" -> 1L, "replay-1" -> 1L))
    val led = Lineage.read(spark, tableDir).filter(col("epochId") === "replay-1")
      .select("routes").collect().head.getAs[scala.collection.Map[String, Long]](0)
    assert(led("error") == 3L && led("success") == 7L, led.toString)
    // fenced re-runs: a tolerant guarded replay fences both epochs
    val again = Breaker.replayGuarded(spark, badLog, tableDir, maxBadFraction = 0.5)
    assert(again.forall(!_.quarantined))
    assert(LineageRows.of(spark, tableDir) == Map("replay-0" -> 1L, "replay-1" -> 1L),
      "a fenced re-run writes no row")
  }
}
