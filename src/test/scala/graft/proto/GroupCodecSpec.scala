package graft.proto

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.TreeMap
import graft.proto.Descriptors._
import graft.proto.Descriptors.FType._
import PValue._

/** proto2 `group` support (the last reference-parity gap: protobuf-java's
  * DynamicMessage handles declared groups): groups are delimited by
  * START/END tags instead of a length prefix, their content is an ordinary
  * field stream of the group's message descriptor. Covers the dynamic
  * codec, both row decoders, merge semantics, JSON, and malformed framing. */
class GroupCodecSpec extends AnyFunSuite {

  // message Outer { optional group Meta = 1 { optional string k = 1; optional int64 n = 2; }
  //                 repeated group Item = 2 { optional int64 id = 1;
  //                                           optional group Sub = 2 { optional bool b = 1; } }
  //                 optional int64 tail = 3 }
  private val subDesc = MessageDesc("Sub", "g.Outer.Item.Sub",
    Vector(FieldDesc("b", 1, TYPE_BOOL, Label.OPTIONAL, "", "b", proto2 = true)),
    Vector.empty, Vector.empty)
  private val itemDesc = MessageDesc("Item", "g.Outer.Item",
    Vector(
      FieldDesc("id", 1, TYPE_INT64, Label.OPTIONAL, "", "id", proto2 = true),
      FieldDesc("sub", 2, TYPE_GROUP, Label.OPTIONAL, "g.Outer.Item.Sub", "sub", proto2 = true)),
    Vector(subDesc), Vector.empty)
  private val metaDesc = MessageDesc("Meta", "g.Outer.Meta",
    Vector(
      FieldDesc("k", 1, TYPE_STRING, Label.OPTIONAL, "", "k", proto2 = true),
      FieldDesc("n", 2, TYPE_INT64, Label.OPTIONAL, "", "n", proto2 = true)),
    Vector.empty, Vector.empty)
  private val outerDesc = MessageDesc("Outer", "g.Outer",
    Vector(
      FieldDesc("meta", 1, TYPE_GROUP, Label.OPTIONAL, "g.Outer.Meta", "meta", proto2 = true),
      FieldDesc("item", 2, TYPE_GROUP, Label.REPEATED, "g.Outer.Item", "item", proto2 = true),
      FieldDesc("tail", 3, TYPE_INT64, Label.OPTIONAL, "", "tail", proto2 = true)),
    Vector(metaDesc, itemDesc), Vector.empty)
  private val fs = FileSet(Vector(FileDesc("g.proto", "g", Vector(outerDesc), Vector.empty, "proto2")))

  private def sampleBytes: Array[Byte] = {
    val w = new Wire.Writer
    w.writeTag(1, Wire.WtStartGroup)                     // Meta {
    w.writeLenDelimited(1, "key".getBytes("UTF-8"))      //   k = "key"
    w.writeTag(2, Wire.WtVarint); w.writeVarint64(7L)    //   n = 7
    w.writeTag(1, Wire.WtEndGroup)                       // }
    w.writeTag(2, Wire.WtStartGroup)                     // Item {
    w.writeTag(1, Wire.WtVarint); w.writeVarint64(10L)   //   id = 10
    w.writeTag(2, Wire.WtStartGroup)                     //   Sub {
    w.writeTag(1, Wire.WtVarint); w.writeVarint64(1L)    //     b = true
    w.writeTag(2, Wire.WtEndGroup)                       //   }
    w.writeTag(2, Wire.WtEndGroup)                       // }
    w.writeTag(2, Wire.WtStartGroup)                     // Item { id = 11 }
    w.writeTag(1, Wire.WtVarint); w.writeVarint64(11L)
    w.writeTag(2, Wire.WtEndGroup)
    w.writeTag(3, Wire.WtVarint); w.writeVarint64(99L)   // tail = 99
    w.toBytes
  }

  test("declared groups decode (incl. nested + repeated) and re-encode byte-identically") {
    val m = DynMsg.decode(fs, outerDesc, sampleBytes)
    val meta = m.fields(1).asInstanceOf[PMsg].v
    assert(meta.getByName("k").contains(PStr("key")))
    assert(meta.getByName("n").contains(PLong(7L)))
    val items = m.fields(2).asInstanceOf[PList].vs.map(_.asInstanceOf[PMsg].v)
    assert(items.map(_.getByName("id")) == Vector(Some(PLong(10L)), Some(PLong(11L))))
    assert(items(0).fields(2).asInstanceOf[PMsg].v.getByName("b").contains(PBool(true)))
    assert(m.fields(3) == PLong(99L))
    // canonical re-encode reproduces the group framing byte-for-byte
    assert(DynMsg.encode(fs, m).sameElements(sampleBytes))
  }

  test("row decoders emit groups as nested structs, equal to the DynMsg conversion path") {
    val viaDyn = graft.decode.SparkSchema.toRowAs(fs, outerDesc,
      DynMsg.decode(fs, outerDesc, sampleBytes))
    val irow = new graft.decode.CatalystRowDecoder(fs, outerDesc).decode(sampleBytes)
    val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(
      graft.decode.SparkSchema.structFor(fs, outerDesc))
    assert(toScala(irow) == viaDyn)
    val metaRow = irow.getStruct(0, 2)
    assert(metaRow.getUTF8String(0).toString == "key" && metaRow.getLong(1) == 7L)
    val itemsArr = irow.getArray(1)
    assert(itemsArr.numElements() == 2)
    assert(itemsArr.getStruct(0, 2).getLong(0) == 10L)
    assert(itemsArr.getStruct(0, 2).getStruct(1, 1).getBoolean(0))
    assert(itemsArr.getStruct(1, 2).getLong(0) == 11L)
    assert(irow.getLong(2) == 99L)
  }

  test("repeated occurrences of a SINGULAR group merge (content concat = protobuf merge)") {
    val w = new Wire.Writer
    w.writeTag(1, Wire.WtStartGroup)
    w.writeLenDelimited(1, "first".getBytes("UTF-8"))
    w.writeTag(1, Wire.WtEndGroup)
    w.writeTag(1, Wire.WtStartGroup)
    w.writeTag(2, Wire.WtVarint); w.writeVarint64(5L)
    w.writeTag(1, Wire.WtEndGroup)
    val m = DynMsg.decode(fs, outerDesc, w.toBytes)
    val meta = m.fields(1).asInstanceOf[PMsg].v
    assert(meta.getByName("k").contains(PStr("first")))
    assert(meta.getByName("n").contains(PLong(5L)))
    val metaRow = new graft.decode.CatalystRowDecoder(fs, outerDesc).decode(w.toBytes).getStruct(0, 2)
    assert(metaRow.getUTF8String(0).toString == "first" && metaRow.getLong(1) == 5L)
  }

  test("groups print/parse as JSON objects under the field name") {
    val m = DynMsg.decode(fs, outerDesc, sampleBytes)
    val json = ProtoJson.toJson(fs, m, pretty = false)
    assert(ProtoJson.jsonTreeEquals(json,
      """{"meta":{"k":"key","n":"7"},"item":[{"id":"10","sub":{"b":true}},{"id":"11"}],"tail":"99"}"""),
      json)
    val back = ProtoJson.fromJson(fs, outerDesc, json)
    assert(DynMsg.encode(fs, back).sameElements(sampleBytes))
  }

  test("the .proto text compiler accepts proto2 group syntax and produces an equivalent schema") {
    val fs2 = ProtoTextParser.parse(
      """syntax = "proto2";
        |package g;
        |message Outer {
        |  optional group Meta = 1 {
        |    optional string k = 1;
        |    optional int64 n = 2;
        |  }
        |  repeated group Item = 2 {
        |    optional int64 id = 1;
        |    optional group Sub = 2 { optional bool b = 1; }
        |  }
        |  optional int64 tail = 3;
        |}
        |""".stripMargin, "g2.proto")
    val outer2 = fs2.findMessage("g.Outer").get
    val metaF = outer2.fieldByName("meta")
    assert(metaF.tpe == TYPE_GROUP && metaF.number == 1)
    assert(outer2.fieldByName("item").tpe == TYPE_GROUP)
    // the compiled schema decodes the same bytes to the same JSON as the
    // hand-built descriptor
    val m2 = DynMsg.decode(fs2, outer2, sampleBytes)
    val m1 = DynMsg.decode(fs, outerDesc, sampleBytes)
    assert(ProtoJson.jsonTreeEquals(
      ProtoJson.toJson(fs2, m2, pretty = false), ProtoJson.toJson(fs, m1, pretty = false)))
    assert(DynMsg.encode(fs2, m2).sameElements(sampleBytes))
  }

  test("malformed group framing throws the typed exception in every decoder") {
    // truncated: START with no END
    val t = new Wire.Writer
    t.writeTag(1, Wire.WtStartGroup)
    t.writeLenDelimited(1, "x".getBytes("UTF-8"))
    // mismatched: END tag for a different field number
    val mm = new Wire.Writer
    mm.writeTag(1, Wire.WtStartGroup)
    mm.writeTag(3, Wire.WtEndGroup)
    for (bytes <- Seq(t.toBytes, mm.toBytes)) {
      intercept[Wire.ProtoParseException] { DynMsg.decode(fs, outerDesc, bytes) }
      intercept[Wire.ProtoParseException] { new graft.decode.CatalystRowDecoder(fs, outerDesc).decode(bytes) }
    }
  }

  test("UNKNOWN group skip rejects a mismatched END_GROUP field number (protobuf-java parity)") {
    // field 99 is not in the descriptor → the skip path balances the group;
    // its END tag carries a different field number, which protobuf-java
    // rejects — accepting it would silently desync which bytes are skipped
    val mm = new Wire.Writer
    mm.writeTag(99, Wire.WtStartGroup)
    mm.writeTag(98, Wire.WtEndGroup)
    intercept[Wire.ProtoParseException] { DynMsg.decode(fs, outerDesc, mm.toBytes) }
    intercept[Wire.ProtoParseException] { new graft.decode.CatalystRowDecoder(fs, outerDesc).decode(mm.toBytes) }
    // a well-formed unknown group (matching END, nested) still skips cleanly
    val ok = new Wire.Writer
    ok.writeTag(99, Wire.WtStartGroup)
    ok.writeTag(7, Wire.WtStartGroup)
    ok.writeTag(7, Wire.WtEndGroup)
    ok.writeTag(99, Wire.WtEndGroup)
    DynMsg.decode(fs, outerDesc, ok.toBytes)
  }
}
