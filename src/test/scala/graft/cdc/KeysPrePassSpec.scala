package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.decode.{ChangeEvent, Decode, Framing}
import graft.lake.{IceLite, Merge}
import graft.registry.SchemaKey

/** The keys-only pre-pass resolves every event against its OWN schema,
  * exactly like the update rows it sizes and prunes: its (repo, path)
  * multiset is the full decode's success keys — no row for an
  * unresolvable schema, a malformed payload or a delimited segment's bad
  * tail — and the touched-bucket set it yields covers every bucket the
  * merge writes. */
class KeysPrePassSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** writeDelimitedTo-style segment: each message length-prefixed, then
    * `tail` verbatim. */
  private def segment(msgs: Seq[Array[Byte]], tail: Array[Byte] = Array.empty): Array[Byte] = {
    val w = new graft.proto.Wire.Writer
    msgs.foreach { m => w.writeVarint64(m.length.toLong); w.writeRaw(m) }
    w.writeRaw(tail)
    w.toBytes
  }

  private def change(i: Int) = LogGen.RawChange(s"r${i % 3}", s"p$i", s"c$i", "scala",
    s"body $i", i + 1L, "UPSERT", s"dev$i")

  private def encode(fs: graft.proto.Descriptors.FileSet, i: Int, author: Boolean,
      sizeBytes: Long = 0L): Array[Byte] =
    LogGen.encodeChange(change(i), fs.findMessage(Cdc.MessageType).get, fs, author, sizeBytes)

  test("keys == the decode's success keys across schemas and routes; touched covers the writes") {
    import spark.implicits._
    def ev(payload: Array[Byte], version: Int, partition: Int, offset: Long) =
      ChangeEvent(payload, Cdc.SchemaId, version, Cdc.MessageType, partition, offset)
    val events = Seq(
      ev(segment(Seq(encode(Cdc.fsV1, 0, author = false), encode(Cdc.fsV1, 1, author = false))), 1, 0, 0),
      ev(segment(Seq(encode(Cdc.fsV2, 2, author = true))), 2, 0, 1),
      // v3 under its own schema (size_bytes set)
      ev(segment(Seq(encode(Cdc.fsV3, 3, author = true, 42L),
        encode(Cdc.fsV3, 4, author = true, 7L))), 3, 1, 2),
      // a schema version the registry does not hold → invalid_schema
      ev(segment(Seq(encode(Cdc.fsV2, 5, author = true))), 9, 1, 3),
      // malformed: the only frame is a truncated tag varint → error
      ev(segment(Seq(Array[Byte](-1, -1, -1))), 2, 2, 4),
      // two good frames, then a frame claiming 50 bytes of 2 → error tail
      ev(segment(Seq(encode(Cdc.fsV2, 6, author = true), encode(Cdc.fsV2, 7, author = true)),
        Array[Byte](50, 1, 2)), 2, 2, 5))
    val ds = events.toDS()
    val registry = spark.sparkContext.broadcast(Cdc.registryV3)
    val key = SchemaKey(Cdc.SchemaId, -1)
    val framing = Framing.VarintDelimited
    def multiset(df: DataFrame): Map[(String, String), Int] =
      df.select("repo", "path").as[(String, String)].collect().toSeq
        .groupBy(identity).view.mapValues(_.size).toMap

    val decoded = Decode.decode(ds, registry, key, Cdc.MessageType, framing)
    val routes = decoded.groupBy("route").count().as[(String, Long)].collect().toMap
    assert(routes == Map("success" -> 7L, "invalid_schema" -> 1L, "error" -> 2L), routes.toString)
    val keys = Decode.decodeKeys(ds, registry, key, Cdc.MessageType, Seq("repo", "path"), framing)
    val expected = multiset(Decode.success(decoded))
    assert(multiset(keys) == expected,
      "keys pre-pass must yield exactly the success rows' keys, per event schema")
    assert(expected.values.sum == 7)

    // the merge driven by that pre-pass: every bucket that receives a file
    // in the commit is among the touched buckets it counted
    val dir = Files.createTempDirectory("graft-keys-prepass").toString + "/t"
    Replay.createTable(dir, buckets = 16)
    val st = Merge.mergeEpoch(spark, dir,
      Replay.decodeForMerge(ds, registry, None, framing).updates, "seq", "op", "e-0", Some(keys))
    val written = IceLite.load(dir).files.map(_.bucket).toSet
    assert(written.nonEmpty && st.touchedBuckets == written.size,
      s"touched ${st.touchedBuckets} vs written buckets $written")
  }
}
