package graft.proto

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.TreeMap
import graft.proto.Descriptors._
import PValue._

/** Recursive message types are legal protobuf (trees, linked lists) but
  * hostile territory: payload nesting is attacker-controlled. Parity with
  * protobuf-java: decode rejects nesting past 100 with a catchable parse
  * exception (a StackOverflowError is an Error — no route handler would see
  * it and the executor thread dies); the Spark schema derivation rejects
  * recursive types loudly (a StructType cannot represent them). */
class RecursionSpec extends AnyFunSuite {

  private val fs = ProtoTextParser.parse(
    """syntax = "proto3";
      |package rec;
      |message Node { int64 v = 1; Node child = 2; }
      |""".stripMargin, "rec.proto")
  private val node = fs.findMessage("rec.Node").get

  private def chain(depth: Int): DynMsg = {
    var m = DynMsg(node, TreeMap(1 -> (PLong(depth.toLong): PValue)))
    (1 until depth).foreach { i =>
      m = DynMsg(node, TreeMap(1 -> (PLong(i.toLong): PValue), 2 -> (PMsg(m): PValue)))
    }
    m
  }

  test("nesting within the limit round-trips") {
    val m = chain(50)
    val bytes = DynMsg.encode(fs, m)
    assert(DynMsg.decode(fs, node, bytes) == m)
  }

  test("nesting past 100 levels fails with a catchable parse exception") {
    val bytes = DynMsg.encode(fs, chain(150))
    val e = intercept[Exception] { DynMsg.decode(fs, node, bytes) }
    assert(e.getMessage.contains("nesting exceeds"))
  }

  test("Spark schema derivation rejects recursive message types loudly") {
    val e = intercept[SchemaLoadingException] {
      graft.decode.SparkSchema.structFor(fs, node)
    }
    assert(e.getMessage.contains("recursive"))
  }

  test("row decoders reject recursive message types at construction (no constructor stack overflow)") {
    val e = intercept[SchemaLoadingException] { new graft.decode.CatalystRowDecoder(fs, node) }
    assert(e.getMessage.contains("recursive"))
  }
}
