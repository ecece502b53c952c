package graft.proto

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.TreeMap
import graft.proto.Descriptors._
import graft.proto.Descriptors.FType._
import PValue._

/** Hardening regressions from the codec review: wire-type mismatches must
  * take unknown-field semantics (skip, never desync), unknown GROUPs skip
  * by tag balancing, enum map values resolve to names with typed defaults,
  * proto2 explicit defaults surface, JSON integer parsing range-checks
  * instead of truncating, and a Timestamp past the micros range is an
  * error, never a wrapped value. */
class CodecHardeningSpec extends AnyFunSuite {

  lazy val spark: org.apache.spark.sql.SparkSession = org.apache.spark.sql.SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val fs = ProtoTextParser.parse(
    """syntax = "proto3";
      |package hard;
      |enum Color { RED = 0; GREEN = 1; BLUE = 2; }
      |message M {
      |  int32 a = 1;
      |  string b = 2;
      |  map<string, Color> palette = 3;
      |  int64 tail = 4;
      |}
      |""".stripMargin, "hard.proto")
  private val m = fs.findMessage("hard.M").get

  test("wire-type mismatch on a known field is skipped as unknown, later fields decode (no desync)") {
    // field 1 declared int32 (varint) but arrives LEN-encoded ("evolved to
    // string"); field 4 follows with a valid value
    val w = new Wire.Writer
    w.writeLenDelimited(1, "surprise".getBytes("UTF-8")) // mismatched wt for a=int32
    w.writeTag(4, Wire.WtVarint); w.writeVarint64(99L)
    val dec = DynMsg.decode(fs, m, w.toBytes)
    assert(!dec.fields.contains(1), "mismatched field must be dropped, not parsed")
    assert(dec.fields(4) == PLong(99L))
    // same through the row decoder
    val irow = new graft.decode.CatalystRowDecoder(fs, m).decode(w.toBytes)
    assert(irow.getInt(0) == 0 && irow.getLong(3) == 99L)
  }

  test("an unknown field encoded as a GROUP is skipped by balancing tags") {
    val w = new Wire.Writer
    w.writeTag(9, Wire.WtStartGroup)          // unknown group field 9
    w.writeTag(1, Wire.WtVarint); w.writeVarint64(7L)   // group content
    w.writeTag(10, Wire.WtStartGroup)         // nested group
    w.writeTag(2, Wire.WtVarint); w.writeVarint64(8L)
    w.writeTag(10, Wire.WtEndGroup)
    w.writeTag(9, Wire.WtEndGroup)
    w.writeTag(4, Wire.WtVarint); w.writeVarint64(42L)  // real field after
    val dec = DynMsg.decode(fs, m, w.toBytes)
    assert(dec.fields == TreeMap(4 -> PLong(42L)))
    // truncated group still errors
    val t = new Wire.Writer
    t.writeTag(9, Wire.WtStartGroup)
    intercept[Exception] { DynMsg.decode(fs, m, t.toBytes) }
  }

  test("enum map values decode to NAMES; an entry with a missing value gets the 0-enum name") {
    def entry(key: String, value: Option[Int]): Array[Byte] = {
      val e = new Wire.Writer
      e.writeLenDelimited(1, key.getBytes("UTF-8"))
      value.foreach { v => e.writeTag(2, Wire.WtVarint); e.writeVarint64(v.toLong) }
      val w = new Wire.Writer
      w.writeLenDelimited(3, e.toBytes)
      w.toBytes
    }
    val bytes = entry("x", Some(2)) ++ entry("y", None)
    val irow = new graft.decode.CatalystRowDecoder(fs, m).decode(bytes)
    val mp = irow.getMap(2)
    val got = (0 until mp.numElements()).map(i =>
      mp.keyArray().getUTF8String(i).toString -> mp.valueArray().getUTF8String(i).toString).toMap
    assert(got == Map("x" -> "BLUE", "y" -> "RED"))
    // DynMsg → Row conversion path agrees
    val dyn = DynMsg.decode(fs, m, bytes)
    val row2 = graft.decode.SparkSchema.toRowAs(fs, m, dyn)
    assert(row2.getAs[Map[String, String]](2) == Map("x" -> "BLUE", "y" -> "RED"))
  }

  test("proto2 explicit default_value surfaces for absent fields") {
    val f = FieldDesc("retries", 1, TYPE_INT32, Label.OPTIONAL, "", "retries",
      proto2 = true, defaultValue = Some("3"))
    val fStr = FieldDesc("mode", 2, TYPE_STRING, Label.OPTIONAL, "", "mode",
      proto2 = true, defaultValue = Some("fast"))
    val md = MessageDesc("D", "hard2.D", Vector(f, fStr), Vector.empty, Vector.empty)
    val fs2 = FileSet(Vector(FileDesc("d.proto", "hard2", Vector(md), Vector.empty, "proto2")))
    val irow = new graft.decode.CatalystRowDecoder(fs2, md).decode(Array.emptyByteArray)
    assert(irow.getInt(0) == 3 && irow.getUTF8String(1).toString == "fast")
  }

  test("high field numbers don't allocate dense gigabyte lookup arrays") {
    val f = FieldDesc("x", 500000000, TYPE_INT64, Label.OPTIONAL, "", "x")
    val md = MessageDesc("H", "hard3.H", Vector(f), Vector.empty, Vector.empty)
    val fs3 = FileSet(Vector(FileDesc("h.proto", "hard3", Vector(md), Vector.empty, "proto3")))
    val w = new Wire.Writer
    w.writeTag(500000000, Wire.WtVarint); w.writeVarint64(5L)
    assert(new graft.decode.CatalystRowDecoder(fs3, md).decode(w.toBytes).getLong(0) == 5L)
  }

  test("JSON integer parsing: range-checked (no silent truncation), whole decimal/exponent forms accepted") {
    // 2^32 into an int32 used to truncate to 0 silently
    intercept[MessageEncodingException] {
      ProtoJson.fromJson(fs, m, """{"a": 4294967296}""")
    }
    intercept[MessageEncodingException] {
      ProtoJson.fromJson(fs, m, """{"a": 1.5}""")
    }
    // JsonFormat accepts whole-valued decimal and exponent forms
    assert(ProtoJson.fromJson(fs, m, """{"a": 100.000}""").fields(1) == PLong(100L))
    assert(ProtoJson.fromJson(fs, m, """{"tail": "1e3"}""").fields(4) == PLong(1000L))
  }

  test(".proto text [default = ...] options are parsed, not discarded (text ≡ desc)") {
    // the silent-skip bug: the same schema loaded from .proto text vs a
    // compiled .desc decoded absent fields differently
    val fs2 = ProtoTextParser.parse(
      """syntax = "proto2";
        |package hard4;
        |message D {
        |  optional int32 retries = 1 [default = 3];
        |  optional string mode = 2 [default = "fast", deprecated = true];
        |  optional sint32 delta = 3 [default = -7];
        |  optional bool on = 4 [default = true];
        |}
        |""".stripMargin, "d.proto")
    val md = fs2.findMessage("hard4.D").get
    assert(md.fields.find(_.name == "retries").get.defaultValue.contains("3"))
    assert(md.fields.find(_.name == "mode").get.defaultValue.contains("fast"))
    assert(md.fields.find(_.name == "delta").get.defaultValue.contains("-7"))
    val irow = new graft.decode.CatalystRowDecoder(fs2, md).decode(Array.emptyByteArray)
    assert(irow.getInt(0) == 3 && irow.getUTF8String(1).toString == "fast" &&
      irow.getInt(2) == -7 && irow.getBoolean(3))
  }

  test("JSON setting two members of one oneof is refused (JsonFormat parity)") {
    val fsO = ProtoTextParser.parse(
      """syntax = "proto3";
        |package hard5;
        |message O {
        |  oneof pick { int32 a = 1; int32 b = 2; }
        |  int32 c = 3;
        |}
        |""".stripMargin, "o.proto")
    val mo = fsO.findMessage("hard5.O").get
    val ex = intercept[MessageEncodingException] {
      ProtoJson.fromJson(fsO, mo, """{"a": 1, "b": 2}""")
    }
    assert(ex.getMessage.contains("oneof"), ex.getMessage)
    // one member + a non-oneof field is fine; re-decode keeps the member
    val ok = ProtoJson.fromJson(fsO, mo, """{"b": 2, "c": 9}""")
    assert(ok.fields(2) == PLong(2L) && ok.fields(3) == PLong(9L) &&
      !ok.fields.contains(1))
  }

  test("proto3 JSON Timestamp accepts UTC offsets and fails typed") {
    val wkt = ProtoTextParser.parse(
      """syntax = "proto3";
        |package google.protobuf;
        |message Timestamp { int64 seconds = 1; int32 nanos = 2; }
        |""".stripMargin, "ts.proto")
    val ts = wkt.findMessage("google.protobuf.Timestamp").get
    val m1 = ProtoJson.rfc3339ToTimestamp(ts, "2024-03-01T12:00:00+08:00")
    assert(m1.fields(1) == PLong(
      java.time.Instant.parse("2024-03-01T04:00:00Z").getEpochSecond))
    val m2 = ProtoJson.rfc3339ToTimestamp(ts, "2024-03-01T04:00:00.123Z")
    assert(m2.fields(2) == PLong(123000000L))
    intercept[MessageEncodingException] {
      ProtoJson.rfc3339ToTimestamp(ts, "not-a-time")
    }
  }

  test("Timestamp seconds past the micros range route to error instead of wrapping") {
    import spark.implicits._
    import graft.decode.{ChangeEvent, Decode, Route}
    val text =
      """syntax = "proto3";
        |package hard6;
        |import "google/protobuf/timestamp.proto";
        |message E { string id = 1; google.protobuf.Timestamp at = 2; }
        |""".stripMargin
    val fsT = ProtoTextParser.parse(text, "e.proto")
    def event(seconds: Long, nanos: Long): Array[Byte] = {
      val ts = new Wire.Writer
      ts.writeTag(1, Wire.WtVarint); ts.writeVarint64(seconds)
      ts.writeTag(2, Wire.WtVarint); ts.writeVarint64(nanos)
      val w = new Wire.Writer
      w.writeLenDelimited(1, "e1".getBytes("UTF-8"))
      w.writeLenDelimited(2, ts.toBytes)
      w.toBytes
    }
    val huge = event(1L << 50, 0L)
    val key = graft.registry.SchemaKey("hard6", 1)
    val reg = spark.sparkContext.broadcast(graft.registry.DescriptorRegistry(key -> fsT))
    val events = Seq(ChangeEvent(huge, "hard6", 1, "hard6.E", 0, 0L)).toDS()
    val routes = Decode.decode(events, reg, key, "hard6.E").select("route").as[String].collect()
    assert(routes.toSeq == Seq(Route.Error))
    val expr = graft.functions.ProtoDecode(
      org.apache.spark.sql.catalyst.expressions.Literal(huge), Left(text), "hard6.E")
    assert(expr.eval(org.apache.spark.sql.catalyst.InternalRow.empty) == null)
    // an in-range value still decodes to micros
    val irow = new graft.decode.CatalystRowDecoder(fsT, fsT.findMessage("hard6.E").get)
      .decode(event(1700000000L, 5000L))
    assert(irow.getLong(1) == 1700000000000005L)
  }
}
