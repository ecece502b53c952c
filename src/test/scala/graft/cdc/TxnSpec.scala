package graft.cdc

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.lake.IceLite
import graft.decode.Decode
import graft.registry.SchemaKey

/** Multi-table atomic apply: a crash between per-table commits leaves the
  * epoch invisible (no done marker) and recovery completes it exactly once;
  * both tables converge to the per-slice LWW fold. */
class TxnSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tableState(dir: String): Set[(String, String, String)] = {
    import spark.implicits._
    IceLite.read(spark, IceLite.load(dir))
      .select("repo", "path", "commit").as[(String, String, String)]
      .collect().toSet
  }

  test("crash between commits -> pending, invisible; recover completes; folds match") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-txn").toString
    val logDir = s"$root/log"
    val txnDir = s"$root/txn"
    val tables = Seq(s"$root/a", s"$root/b")
    LogGen.writeLog(spark, LogGen.Params(nEvents = 1500, nRepos = 12,
      pathsPerRepo = 8, v1Fraction = 0.6), logDir, epochs = 2)

    // crash after table a's epoch-1 commit, before table b's
    val boom = intercept[RuntimeException] {
      Txn.applyLog(spark, logDir, txnDir, tables, buckets = 4,
        crashPoint = p => if (p == "committed-1-0") throw new RuntimeException("crash"))
    }
    assert(boom.getMessage == "crash")
    assert(Txn.committedEpochs(txnDir) == Set(0L), "epoch 1 must be invisible")
    assert(Txn.pendingEpochs(txnDir) == Vector(1L))
    assert(IceLite.load(tables.head).hasEpoch("txn-1"), "table a committed its slice")
    assert(!IceLite.load(tables(1)).hasEpoch("txn-1"), "table b must not have epoch 1")

    // the consistent-read barrier pins BOTH tables at the epoch-0 cut even
    // though table a's raw head already carries epoch 1
    val cut = Txn.consistentRead(txnDir, tables)
    assert(cut.forall(_._2.hasEpoch("txn-0")) && cut.forall(!_._2.hasEpoch("txn-1")),
      "mid-crash consistent read must pin the epoch-0 cut on both tables")
    assert(IceLite.load(tables.head).version > cut.head._2.version,
      "table a's raw head should be ahead of the consistent cut")

    val rec = Txn.recover(spark, logDir, txnDir, tables, buckets = 4)
    assert(rec.map(_.epoch) == Vector(1L))
    assert(Txn.committedEpochs(txnDir) == Set(0L, 1L))
    // the redo fenced table a's slice and applied table b's
    assert(!rec.head.perTable.head.applied && rec.head.perTable(1).applied)

    // both tables equal the per-parity LWW fold of the full decoded log
    val registry = spark.sparkContext.broadcast(Cdc.registry)
    val ev = spark.read.parquet(logDir)
      .select("payload", "schemaId", "schemaVersion", "messageType", "partition", "offset")
      .as[graft.decode.ChangeEvent]
    val dec = Decode.success(
      Decode.decode(ev, registry, SchemaKey(Cdc.SchemaId, -1), Cdc.MessageType))
    tables.zipWithIndex.foreach { case (dir, i) =>
      val expected = dec.filter(pmod(col("partition"), lit(2)) === i)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("repo", "path").orderBy(col("seq").desc)))
        .filter(col("rn") === 1 && col("op") =!= "DELETE")
        .select("repo", "path", "commit").as[(String, String, String)]
        .collect().toSet
      assert(tableState(dir) == expected, s"table $i diverged from its slice fold")
    }

    // fully idempotent: a second applyLog is all no-ops
    val again = Txn.applyLog(spark, logDir, txnDir, tables, buckets = 4)
    assert(again.flatMap(_.perTable).forall(!_.applied))

    // lineage: exactly one row per table per epoch through the crash, the
    // recovery (table a's slice fenced) and the idempotent re-run
    tables.foreach { t =>
      assert(LineageRows.of(spark, t) == Map("txn-0" -> 1L, "txn-1" -> 1L),
        s"$t: ${LineageRows.of(spark, t)}")
    }

    // post-recovery consistent read advances to the epoch-1 cut
    val cut2 = Txn.consistentRead(txnDir, tables)
    assert(cut2.forall(_._2.hasEpoch("txn-1")))
  }

  test("recovery routes by the RECORDED intent, not the caller's table order") {
    val root = Files.createTempDirectory("graft-txn-intent").toString
    val logDir = s"$root/log"
    val txnDir = s"$root/txn"
    val tables = Seq(s"$root/a", s"$root/b")
    LogGen.writeLog(spark, LogGen.Params(nEvents = 800, nRepos = 10,
      pathsPerRepo = 6, v1Fraction = 0.6), logDir, epochs = 1)
    // crash after table a committed its slice of epoch 0
    intercept[RuntimeException] {
      Txn.applyLog(spark, logDir, txnDir, tables, buckets = 4,
        crashPoint = p => if (p == "committed-0-0") throw new RuntimeException("crash"))
    }
    // operator recovers with the tables REVERSED — routing is positional,
    // so honoring the caller's order would merge partition%2==0 into b and
    // fence partition%2==1 against a's existing txn-0: events lost to both
    val rec = Txn.recover(spark, logDir, txnDir, tables.reverse, buckets = 4)
    assert(rec.map(_.epoch) == Vector(0L))
    assert(!rec.head.perTable.head.applied, "a's slice was already committed (fenced)")
    assert(rec.head.perTable(1).applied, "b's slice must apply")
    // both tables hold exactly their parity slice of the fold
    import spark.implicits._
    val registry = spark.sparkContext.broadcast(Cdc.registry)
    val ev = spark.read.parquet(logDir)
      .select("payload", "schemaId", "schemaVersion", "messageType", "partition", "offset")
      .as[graft.decode.ChangeEvent]
    val dec = Decode.success(
      Decode.decode(ev, registry, SchemaKey(Cdc.SchemaId, -1), Cdc.MessageType))
    tables.zipWithIndex.foreach { case (dir, i) =>
      val expected = dec.filter(pmod(col("partition"), lit(2)) === i)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("repo", "path").orderBy(col("seq").desc)))
        .filter(col("rn") === 1 && col("op") =!= "DELETE")
        .select("repo", "path", "commit").as[(String, String, String)]
        .collect().toSet
      assert(tableState(dir) == expected,
        s"table $i must hold its INTENT-recorded slice despite the reversed recover call")
    }
  }
}
