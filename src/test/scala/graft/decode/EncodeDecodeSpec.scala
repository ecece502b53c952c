package graft.decode

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.cdc.{Cdc, LogGen}
import graft.registry.SchemaKey
import graft.proto.{DescParser, DynMsg, ProtoTextParser}

/** Spark-level encode stage (inverse mapPartitions) + CatalystRowDecoder/DynMsg
  * equivalence property. */
class EncodeDecodeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("Spark encode stage: rows → wire bytes → decode round-trips") {
    import spark.implicits._
    val reg = spark.sparkContext.broadcast(Cdc.registry)
    val rows = (1L to 500L).map(i => LogGen.rawChange(i, LogGen.Params(nEvents = 1000)))
    val df = rows.toDF() // RawChange columns match RepoChange field names
    val encoded = Encode.encode(df, reg, Cdc.KeyV2, "RepoChange")
    val events = encoded.map(b => ChangeEvent(b, Cdc.SchemaId, 2, "RepoChange", 0, 0L))
    val decoded = Decode.success(
      Decode.decode(events, reg, SchemaKey(Cdc.SchemaId, 2), "RepoChange"))
    val got = decoded.select("repo", "path", "content", "seq", "op", "author")
      .collect().map(_.toString).sorted
    val want = df.select("repo", "path", "content", "seq", "op", "author")
      .collect().map(_.toString).sorted
    assert(got.toSeq == want.toSeq)
  }

  test("encode stage output is byte-identical to the reference-style canonical encoding") {
    import spark.implicits._
    val reg = spark.sparkContext.broadcast(Cdc.registry)
    val c = LogGen.rawChange(7L, LogGen.Params(nEvents = 10))
    val viaSpark = Encode.encode(Seq(c).toDF(), reg, Cdc.KeyV2, "RepoChange").head()
    val fs = Cdc.fsV2
    val desc = fs.findMessage("RepoChange").get
    val direct = LogGen.encodeChange(c, desc, fs, includeAuthor = true)
    assert(viaSpark.sameElements(direct))
  }

  test("encode maps nested struct fields by NAME, not position (reordered struct columns)") {
    import org.apache.spark.sql.functions._
    val fs = graft.proto.ProtoTextParser.parse(
      """syntax = "proto3";
        |package enc;
        |message Inner { string first = 1; string second = 2; }
        |message Outer { Inner inner = 1; }
        |""".stripMargin, "enc.proto")
    val outer = fs.findMessage("enc.Outer").get
    val reg = graft.registry.DescriptorRegistry(
      graft.registry.SchemaKey("enc", 1) -> fs)
    val breg = spark.sparkContext.broadcast(reg)
    // build the nested struct in REVERSED column order: a positional read
    // against the canonical (first, second) schema would silently transpose
    // the two same-typed values
    val df = spark.range(1).select(
      struct(lit("B").as("second"), lit("A").as("first")).as("inner"))
    val bytes = Encode.encode(df, breg, graft.registry.SchemaKey("enc", 1), "Outer").head()
    val dec = graft.proto.DynMsg.decode(fs, outer, bytes)
    val inner = dec.fields(1).asInstanceOf[graft.proto.PValue.PMsg].v
    assert(inner.fields(1) == graft.proto.PValue.PStr("A"), "field 'first' must get the value named first")
    assert(inner.fields(2) == graft.proto.PValue.PStr("B"))
  }

  test("CatalystRowDecoder ≡ DynMsg.decode + toRowAs on kitchen-sink messages") {
    val schema = ProtoTextParser.parse(
      """syntax = "proto3";
        |package t;
        |message Inner { string s = 1; int64 z = 2; }
        |enum Color { RED = 0; GREEN = 1; BLUE = 2; }
        |message Sink {
        |  double d = 1; float f = 2; int32 i32 = 3; int64 i64 = 4;
        |  uint32 u32 = 5; sint64 s64 = 6; fixed32 fx32 = 7; bool b = 8;
        |  string str = 9; bytes by = 10; Color c = 11; Inner inner = 12;
        |  repeated int64 ri = 13; repeated string rs = 14;
        |  repeated Inner rm = 15; map<string, int64> m = 16;
        |}""".stripMargin, "sink.proto")
    val desc = schema.findMessage("Sink").get
    // random wire messages via the JSON path (reuses the proto test gens)
    val gen: Gen[String] = for {
      d <- Gen.chooseNum(-1e9, 1e9)
      i32 <- Gen.chooseNum(Int.MinValue, Int.MaxValue)
      s64 <- Gen.long
      str <- Gen.asciiPrintableStr
      ri <- Gen.listOf(Gen.long)
      rs <- Gen.listOf(Gen.alphaNumStr)
      ks <- Gen.mapOf(Gen.zip(Gen.identifier, Gen.long))
    } yield {
      val riS = ri.map(l => s""""$l"""").mkString("[", ",", "]")
      val rsS = rs.map(s => s""""$s"""").mkString("[", ",", "]")
      val mS = ks.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
      s"""{"d":$d,"i32":$i32,"s64":"$s64","str":${new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(str)},
         |"c":"GREEN","inner":{"s":"x","z":"5"},"ri":$riS,"rs":$rsS,"m":$mS}""".stripMargin.replace("\n", "")
    }
    // order-insensitive normalization (proto maps have no defined order)
    def normVal(v: Any): String = v match {
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, vv) => s"${normVal(k)}->${normVal(vv)}" }.toSeq.sorted.mkString("{", ",", "}")
      case r: org.apache.spark.sql.Row => r.toSeq.map(normVal).mkString("[", ",", "]")
      case sq: Seq[_] => sq.map(normVal).mkString("[", ",", "]")
      case a: Array[Byte] => a.toSeq.toString
      case other => String.valueOf(other)
    }
    val catDec = new CatalystRowDecoder(schema, desc)
    val struct = SparkSchema.structFor(schema, desc)
    val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(struct)

    var seed = Seed(7L)
    (1 to 100).foreach { i =>
      gen.apply(Gen.Parameters.default.withSize(1 + i % 30), seed).foreach { json =>
        val msg = graft.proto.ProtoJson.fromJson(schema, desc, json)
        val bytes = DynMsg.encode(schema, msg)
        val viaDynMsg = SparkSchema.toRowAs(schema, desc, DynMsg.decode(schema, desc, bytes))
        val viaCatalyst = toScala(catDec.decode(bytes)).asInstanceOf[org.apache.spark.sql.Row]
        assert(normVal(viaCatalyst) == normVal(viaDynMsg), s"json=$json")
      }
      seed = seed.next
    }
  }

  test("presence: proto3 `optional` and proto2 fields serialize set-but-default values") {
    import scala.collection.immutable.TreeMap
    import graft.proto.PValue._
    // proto3: plain field drops a default value; `optional` keeps it
    val p3 = ProtoTextParser.parse(
      """syntax = "proto3";
        |message P { int32 a = 1; optional int32 b = 2; }""".stripMargin, "p3.proto")
    val d3 = p3.findMessage("P").get
    assert(DynMsg.encode(p3, DynMsg(d3, TreeMap(1 -> PLong(0L)))).isEmpty)        // implicit: omitted
    val b0 = DynMsg.encode(p3, DynMsg(d3, TreeMap(2 -> PLong(0L))))
    assert(b0.nonEmpty)                                                           // explicit: kept
    assert(DynMsg.decode(p3, d3, b0).get(2).contains(PLong(0L)))                  // round-trips presence
    // proto2: ALL singular fields have explicit presence; repeated scalars
    // default to UNPACKED
    val p2 = ProtoTextParser.parse(
      """syntax = "proto2";
        |message Q { optional int32 a = 1; repeated int32 r = 2; }""".stripMargin, "p2.proto")
    val d2 = p2.findMessage("Q").get
    assert(DynMsg.encode(p2, DynMsg(d2, TreeMap(1 -> PLong(0L)))).nonEmpty)
    assert(!d2.fieldByName("r").packed)
    val rp = DynMsg.encode(p2, DynMsg(d2, TreeMap(2 -> PList(Vector(PLong(1L), PLong(2L))))))
    // unpacked repeated: one tag per element (tag 0x10, value) ×2 = 4 bytes
    assert(rp.sameElements(Array[Byte](0x10, 1, 0x10, 2)))
  }

  test("singular embedded message split across occurrences MERGES (protobuf merge semantics)") {
    import scala.collection.immutable.TreeMap
    import graft.proto.PValue._
    val fs = ProtoTextParser.parse(
      """syntax = "proto3";
        |message Inner { string s = 1; int64 z = 2; repeated int64 r = 3; }
        |message Outer { Inner inner = 1; }""".stripMargin, "m.proto")
    val inner = fs.findMessage("Inner").get
    val outer = fs.findMessage("Outer").get
    // two occurrences of field 1: {s="x", r=[1]} then {z=5, r=[2]}
    val part1 = DynMsg.encode(fs, DynMsg(outer, TreeMap(1 -> PMsg(
      DynMsg(inner, TreeMap(1 -> PStr("x"), 3 -> PList(Vector(PLong(1L)))))))))
    val part2 = DynMsg.encode(fs, DynMsg(outer, TreeMap(1 -> PMsg(
      DynMsg(inner, TreeMap(2 -> PLong(5L), 3 -> PList(Vector(PLong(2L)))))))))
    val split = part1 ++ part2
    // DynMsg: scalars from both halves survive, repeated concatenates
    val m = DynMsg.decode(fs, outer, split)
    val PMsg(got) = m.get(1).get: @unchecked
    assert(got.get(1).contains(PStr("x")) && got.get(2).contains(PLong(5L)))
    assert(got.get(3).contains(PList(Vector(PLong(1L), PLong(2L)))))
    // CatalystRowDecoder: same merged row
    val row = new CatalystRowDecoder(fs, outer).decode(split)
    val innerRow = row.getStruct(0, 3)
    assert(innerRow.getUTF8String(0).toString == "x" && innerRow.getLong(1) == 5L)
    assert(innerRow.getArray(2).toLongArray().toSeq == Seq(1L, 2L))
  }

  test("oneof: members have explicit presence; last member on the wire clears its peers") {
    import scala.collection.immutable.TreeMap
    import graft.proto.PValue._
    val fs = ProtoTextParser.parse(
      """syntax = "proto3";
        |message O {
        |  string k = 1;
        |  oneof body { string a = 2; int64 b = 3; }
        |}""".stripMargin, "oneof.proto")
    val d = fs.findMessage("O").get
    assert(d.fieldByName("a").oneofIndex.contains(0) && d.fieldByName("b").oneofIndex.contains(0))
    // explicit presence: a set-but-default member still serializes
    val e0 = DynMsg.encode(fs, DynMsg(d, TreeMap(2 -> PStr(""))))
    assert(e0.nonEmpty)
    assert(DynMsg.decode(fs, d, e0).get(2).contains(PStr("")))
    // two members on the wire (a then b): ONLY the last survives
    val both = DynMsg.encode(fs, DynMsg(d, TreeMap(2 -> PStr("x")))) ++
      DynMsg.encode(fs, DynMsg(d, TreeMap(3 -> PLong(7L))))
    val m = DynMsg.decode(fs, d, both)
    assert(m.get(2).isEmpty && m.get(3).contains(PLong(7L)))
    // CatalystRowDecoder agrees: a reset to its default, b set
    val row = new CatalystRowDecoder(fs, d).decode(both)
    val schema = SparkSchema.structFor(fs, d)
    assert(row.getUTF8String(schema.fieldIndex("a")).toString == "")
    assert(row.getLong(schema.fieldIndex("b")) == 7L)
    // reversed order: a wins
    val rev = DynMsg.decode(fs, d, DynMsg.encode(fs, DynMsg(d, TreeMap(3 -> PLong(7L)))) ++
      DynMsg.encode(fs, DynMsg(d, TreeMap(2 -> PStr("y")))))
    assert(rev.get(3).isEmpty && rev.get(2).contains(PStr("y")))
  }

  test("CatalystRowDecoder on the reference golden fixture matches expected") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(getClass.getResource("/data/Person.data").toURI))
    val fs = DescParser.parseFileDescriptorSet(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(getClass.getResource("/schemas/Person.desc").toURI)))
    val desc = fs.findMessage("Person").get
    val row = new CatalystRowDecoder(fs, desc).decode(bytes)
    val schema = SparkSchema.structFor(fs, desc)
    assert(row.getUTF8String(schema.fieldIndex("name")).toString == "Me")
    assert(row.getInt(schema.fieldIndex("id")) == 666)
    assert(row.getUTF8String(schema.fieldIndex("email")).toString == "") // proto3 default
    assert(row.getArray(schema.fieldIndex("phones")).numElements() == 0)
  }
}
