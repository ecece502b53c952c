package graft.cdc

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

import graft.decode.ChangeEvent

/** Ingest expectations rule semantics: NULL predicate = violation (the
  * Audit convention), DELETE bypasses the rules, a key whose newest
  * version violates falls back to its last CONFORMING version, and a
  * multi-rule violation attributes every failed rule in declaration
  * order. The q184 gate covers counts/fencing at corpus scale; this spec
  * pins the per-event semantics on a hand-built log. */
class ExpectationsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def writeLog(dir: String, changes: Seq[LogGen.RawChange]): Unit = {
    import spark.implicits._
    val fs = Cdc.fsV2; val d = fs.findMessage(Cdc.MessageType).get
    changes.map { c =>
      ChangeEvent(LogGen.encodeChange(c, d, fs, includeAuthor = true),
        Cdc.SchemaId, 2, Cdc.MessageType, 0, c.seq)
    }.toDS().withColumn("epoch", lit(0L))
      .write.partitionBy("epoch").mode("overwrite").parquet(dir)
  }

  test("fallback to conforming, DELETE bypass, NULL = violation, multi-rule attribution") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-expect").toString
    val logDir = s"$root/log"; val tableDir = s"$root/table"
    val longContent = "x" * 900
    writeLog(logDir, Seq(
      // a: conforming v1, then a violating v2 → final state keeps v1
      LogGen.RawChange("r1", "a", "cA1", "scala", "ok", 1, "UPSERT", "dev1"),
      LogGen.RawChange("r1", "a", "cA2", "md", "ok", 2, "UPSERT", "dev1"),
      // b: violates BOTH rules at once → attribution names both, in order
      LogGen.RawChange("r1", "b", "cB1", "md", longContent, 3, "UPSERT", "dev2"),
      // c: conforming upsert, then a DELETE whose empty lang/content would
      // violate if checked — deletes bypass the rules and must apply
      LogGen.RawChange("r1", "c", "cC1", "py", "ok", 4, "UPSERT", "dev3"),
      LogGen.RawChange("r1", "c", "", "", "", 5, "DELETE", "dev3"),
      // d: empty content → the nonempty rule evaluates to NULL → violation
      LogGen.RawChange("r1", "d", "cD1", "go", "", 6, "UPSERT", "dev4")))
    val rules = Seq(
      Expectations.Rule("lang_allowed", "lang IN ('scala','java','py','rs','go')"),
      Expectations.Rule("content_max_len", "length(content) <= 800"),
      Expectations.Rule("content_nonempty", "nullif(length(content), 0) > 0"))

    val st = Expectations.replayWithExpectations(spark, logDir, tableDir, rules, buckets = 2)
    assert(st.violations == 3)

    val state = graft.lake.IceLite.read(spark, graft.lake.IceLite.load(tableDir))
      .select("path", "commit").as[(String, String)].collect().toSet
    assert(state == Set(("a", "cA1")),
      s"a falls back to its conforming version; b/d never conformed; c deleted — got $state")

    val dl = spark.read.parquet(s"$tableDir/_deadletter")
      .filter(col("route") === Expectations.Route)
      .select(col("offset"), col("error"), length(col("payload")).as("len"))
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(dl.map(_._1).toSeq == Seq(2L, 3L, 6L))
    val byOff = dl.map(t => t._1 -> t._2).toMap
    assert(byOff(2L) == "lang_allowed")
    assert(byOff(3L) == "lang_allowed,content_max_len",
      "multi-rule violations name every failed rule in declaration order")
    assert(byOff(6L) == "content_nonempty", "NULL predicate must count as a violation")
    assert(dl.forall(_._3 > 1), "dead letters keep the ORIGINAL payload bytes")
  }

  test("retry after rule relaxation: true-seq merge, refreshed attribution, route isolation") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-expret").toString
    val logDir = s"$root/log"; val tableDir = s"$root/table"
    val longContent = "x" * 900
    // f is encoded with the v3 descriptor + schemaVersion 3, which the
    // replay registry (v1+v2) can't resolve → invalid_schema dead letter
    val fs3 = Cdc.fsV3; val d3 = fs3.findMessage(Cdc.MessageType).get
    val cF = LogGen.RawChange("r1", "f", "cF1", "scala", "ok", 6, "UPSERT", "dev6")
    val evF = ChangeEvent(LogGen.encodeChange(cF, d3, fs3, includeAuthor = true),
      Cdc.SchemaId, 3, Cdc.MessageType, 0, 6)
    val fs = Cdc.fsV2; val d = fs.findMessage(Cdc.MessageType).get
    val evs = Seq(
      LogGen.RawChange("r1", "a", "cA1", "scala", "ok", 1, "UPSERT", "dev1"),
      LogGen.RawChange("r1", "a", "cA2", "md", "ok", 2, "UPSERT", "dev1"),
      LogGen.RawChange("r1", "b", "cB1", "md", longContent, 3, "UPSERT", "dev2"),
      LogGen.RawChange("r1", "e", "cE1", "scala", "ok", 4, "UPSERT", "dev5"),
      LogGen.RawChange("r1", "e", "cE2", "md", "ok", 5, "UPSERT", "dev5")).map { c =>
      ChangeEvent(LogGen.encodeChange(c, d, fs, includeAuthor = true),
        Cdc.SchemaId, 2, Cdc.MessageType, 0, c.seq)
    } :+ evF
    evs.toDS().withColumn("epoch", lit(0L))
      .write.partitionBy("epoch").mode("overwrite").parquet(logDir)

    val strict = Seq(
      Expectations.Rule("lang_allowed", "lang IN ('scala','java','py','rs','go')"),
      Expectations.Rule("content_max_len", "length(content) <= 800"))
    val st = Expectations.replayWithExpectations(spark, logDir, tableDir, strict, buckets = 2)
    assert(st.violations == 3) // seq 2, 3, 5
    val dld = s"$tableDir/_deadletter"
    assert(spark.read.parquet(dld).count() == 4) // + invalid_schema for f

    // decode retry consumes ONLY the invalid_schema row; expectation rows
    // ride through the store rewrite untouched
    val reg3 = spark.sparkContext.broadcast(Cdc.registryV3)
    val dr = Replay.retryDeadLetters(spark, tableDir, reg3, "fix-schema")
    assert(dr.attempted == 1 && dr.merged == 1 && dr.remaining == 0)
    val afterDecode = spark.read.parquet(dld)
    assert(afterDecode.count() == 3 &&
      afterDecode.filter(col("route") === Expectations.Route).count() == 3)

    // relax the lang rule (md now allowed), keep the length rule: seq 2
    // and 5 merge at TRUE seq (newer retried versions win LWW), seq 3
    // stays with attribution REFRESHED to only the rule it still fails
    val relaxed = Seq(
      Expectations.Rule("lang_allowed", "lang IN ('scala','java','py','rs','go','md')"),
      Expectations.Rule("content_max_len", "length(content) <= 800"))
    val er = Expectations.retryExpectations(spark, tableDir, relaxed, "relax-1")
    assert(er.attempted == 3 && er.applied && er.merged == 2 && er.remaining == 1)
    val still = spark.read.parquet(dld).select("offset", "error")
      .as[(Long, String)].collect()
    assert(still.toSeq == Seq((3L, "content_max_len")),
      s"attribution must refresh to the CURRENT rules — got ${still.toSeq}")

    val state = graft.lake.IceLite.read(spark, graft.lake.IceLite.load(tableDir))
      .select("path", "commit").as[(String, String)].collect().toSet
    assert(state == Set(("a", "cA2"), ("e", "cE2"), ("f", "cF1")))

    // a second retry under the same rules: nothing new conforms
    val er2 = Expectations.retryExpectations(spark, tableDir, relaxed, "relax-2")
    assert(er2.attempted == 1 && er2.merged == 0 && er2.remaining == 1)
    // every applied retry records one lineage row; a reused tag fences
    val er3 = Expectations.retryExpectations(spark, tableDir, relaxed, "relax-2")
    assert(!er3.applied)
    assert(LineageRows.of(spark, tableDir) == Map("expect-0" -> 1L,
      "fix-schema" -> 1L, "relax-1" -> 1L, "relax-2" -> 1L))
  }

  test("Tail with rules enforces the identical contract as the batch replay") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-expstream").toString
    val fs = Cdc.fsV2; val d = fs.findMessage(Cdc.MessageType).get
    val longContent = "x" * 900
    val changes = Seq(
      LogGen.RawChange("r1", "a", "cA1", "scala", "ok", 1, "UPSERT", "dev1"),
      LogGen.RawChange("r1", "a", "cA2", "md", "ok", 2, "UPSERT", "dev1"),
      LogGen.RawChange("r1", "b", "cB1", "md", longContent, 3, "UPSERT", "dev2"),
      LogGen.RawChange("r1", "c", "cC1", "py", "ok", 4, "UPSERT", "dev3"),
      LogGen.RawChange("r1", "c", "", "", "", 5, "DELETE", "dev3"))
    val evs = changes.map { c =>
      ChangeEvent(LogGen.encodeChange(c, d, fs, includeAuthor = true),
        Cdc.SchemaId, 2, Cdc.MessageType, 0, c.seq)
    }
    val rules = Seq(
      Expectations.Rule("lang_allowed", "lang IN ('scala','java','py','rs','go')"),
      Expectations.Rule("content_max_len", "length(content) <= 800"))
    // two waves through the same checkpoint
    val streamDir = s"$root/stream"; val tableDir = s"$root/table"
    evs.take(3).toDS().write.mode("append").parquet(streamDir)
    Tail.start(spark, streamDir, tableDir, s"$root/ckpt", buckets = 2, rules = rules)
      .awaitTermination()
    evs.drop(3).toDS().write.mode("append").parquet(streamDir)
    Tail.start(spark, streamDir, tableDir, s"$root/ckpt", buckets = 2, rules = rules)
      .awaitTermination()
    val state = graft.lake.IceLite.read(spark, graft.lake.IceLite.load(tableDir))
      .select("path", "commit").as[(String, String)].collect().toSet
    assert(state == Set(("a", "cA1")),
      s"stream must enforce the same fallback/bypass contract as batch — got $state")
    val dl = spark.read.parquet(s"$tableDir/_deadletter")
      .filter(col("route") === Expectations.Route)
      .select("offset", "error").as[(Long, String)].collect().sortBy(_._1)
    assert(dl.toSeq == Seq((2L, "lang_allowed"), (3L, "lang_allowed,content_max_len")))
  }

  test("epoch guard quarantines a flooded epoch; release applies it under corrected rules") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-expguard").toString
    val logDir = s"$root/log"; val tableDir = s"$root/table"
    val fs = Cdc.fsV2; val d = fs.findMessage(Cdc.MessageType).get
    def ev(c: LogGen.RawChange, epoch: Long) =
      (ChangeEvent(LogGen.encodeChange(c, d, fs, includeAuthor = true),
        Cdc.SchemaId, 2, Cdc.MessageType, 0, c.seq), epoch)
    // epoch 0: healthy (1 violation of 3 UPSERTs = 0.33 ≤ 0.5 → row-level DL)
    // epoch 1: flooded (2 of 2 violate = 1.0 > 0.5 → whole epoch refused)
    val rows = Seq(
      ev(LogGen.RawChange("r1", "a", "cA1", "scala", "ok", 1, "UPSERT", "d1"), 0),
      ev(LogGen.RawChange("r1", "b", "cB1", "md", "ok", 2, "UPSERT", "d2"), 0),
      ev(LogGen.RawChange("r1", "c", "cC1", "py", "ok", 3, "UPSERT", "d3"), 0),
      ev(LogGen.RawChange("r1", "a", "cA2", "xx", "ok", 4, "UPSERT", "d1"), 1),
      ev(LogGen.RawChange("r1", "d", "cD1", "xx", "ok", 5, "UPSERT", "d4"), 1))
    rows.toDF("value", "epoch").select(col("value.*"), col("epoch"))
      .write.partitionBy("epoch").mode("overwrite").parquet(logDir)
    val strict = Seq(
      Expectations.Rule("lang_allowed", "lang IN ('scala','java','py','rs','go')"))
    val st = Expectations.replayWithExpectations(spark, logDir, tableDir, strict,
      buckets = 2, maxViolationFraction = Some(0.5))
    assert(st.violations == 1, "only epoch 0's trickle dead-letters")
    assert(Breaker.quarantined(tableDir) == Seq(1L))
    assert(spark.read.parquet(s"$tableDir/_deadletter").count() == 1,
      "a refused epoch must not flood the dead-letter store")
    val pre = graft.lake.IceLite.read(spark, graft.lake.IceLite.load(tableDir))
      .select("path", "commit").as[(String, String)].collect().toSet
    assert(pre == Set(("a", "cA1"), ("c", "cC1")), s"epoch 1 must not apply — got $pre")

    // operator verdict: 'xx' is a legitimate new lang — release under
    // corrected rules; a's retried newer version wins LWW over cA1
    val fixed = Seq(
      Expectations.Rule("lang_allowed", "lang IN ('scala','java','py','rs','go','xx')"))
    val rel = Expectations.releaseQuarantined(spark, logDir, tableDir, 1L, fixed)
    assert(rel.violations == 0 && Breaker.quarantined(tableDir).isEmpty)
    val post = graft.lake.IceLite.read(spark, graft.lake.IceLite.load(tableDir))
      .select("path", "commit").as[(String, String)].collect().toSet
    assert(post == Set(("a", "cA2"), ("c", "cC1"), ("d", "cD1")))

    // releasing a non-quarantined epoch is refused
    intercept[IllegalArgumentException] {
      Expectations.releaseQuarantined(spark, logDir, tableDir, 0L, fixed)
    }

    // lineage: the quarantined epoch wrote no row, its release wrote one,
    // and a fenced re-run of the whole log writes none
    assert(LineageRows.of(spark, tableDir) == Map("expect-0" -> 1L, "expect-1" -> 1L))
    val routes = Lineage.read(spark, tableDir).filter(col("epochId") === "expect-0")
      .select("routes").collect().head.getAs[scala.collection.Map[String, Long]](0)
    assert(routes == Map("success" -> 2L, Expectations.Route -> 1L), routes.toString)
    Expectations.replayWithExpectations(spark, logDir, tableDir, fixed, buckets = 2)
    assert(LineageRows.of(spark, tableDir) == Map("expect-0" -> 1L, "expect-1" -> 1L))
  }

  test("empty rule set is refused; violating-only key never reaches the table") {
    val root = Files.createTempDirectory("graft-expect2").toString
    writeLog(s"$root/log", Seq(
      LogGen.RawChange("r1", "z", "cZ", "md", "ok", 1, "UPSERT", "dev1")))
    intercept[IllegalArgumentException] {
      Expectations.replayWithExpectations(spark, s"$root/log", s"$root/t", Nil)
    }
    val rules = Seq(Expectations.Rule("lang_allowed", "lang IN ('scala')"))
    val st = Expectations.replayWithExpectations(spark, s"$root/log", s"$root/t2", rules, buckets = 2)
    assert(st.violations == 1)
    assert(graft.lake.IceLite.read(spark, graft.lake.IceLite.load(s"$root/t2")).count() == 0)
  }

  test("v5 PATCH events are refused by rule enforcement, never silently bypassed") {
    import spark.implicits._
    // a rule can only be judged on the POST-RESOLUTION row; letting a PATCH
    // slide through unjudged would materialize violating values with zero
    // reported violations — fail closed instead
    val decoded = Seq(
      ("r1", "a", 1L, "UPSERT", Seq(2), 0, 0L),
      ("r1", "b", 2L, "PATCH", Seq(4), 0, 1L))
      .toDF("repo", "path", "seq", "op", graft.lake.Merge.PatchMaskCol,
        "partition", "offset")
    val err = intercept[IllegalArgumentException] {
      Expectations.violationsOf(decoded,
        Seq(Expectations.Rule("r", "repo IS NOT NULL")))
    }
    assert(err.getMessage.contains("PATCH"), err.getMessage)
    // a mask column with NO patch rows (v5 log, whole-row ops) passes
    val wholeRow = decoded.filter(col("op") =!= "PATCH")
    assert(Expectations.violationsOf(wholeRow,
      Seq(Expectations.Rule("r", "repo IS NOT NULL"))).count() == 0)
  }
}
