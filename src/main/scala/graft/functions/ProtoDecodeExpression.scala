package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import graft.decode.{CatalystRowDecoder, SparkSchema}
import graft.proto.Descriptors.{FileSet, MessageDesc}
import graft.proto.{DescParser, ProtoTextParser}

/** `proto_decode(payload)` — a scalar Catalyst Expression decoding one raw
  * protobuf message into a struct typed by a descriptor (SURVEY.md §7.6
  * sugar; the bulk path remains the typed mapPartitions in graft.decode).
  *
  * It runs the same [[CatalystRowDecoder]] as `Decode.decode`, so a
  * payload decodes to the same values on either path; the decoder's
  * `InternalRow` is already Catalyst's internal form and is returned as
  * is. Its zero-copy string slices point into the binary `child.eval`
  * returns, which nothing mutates. The schema travels as
  * (schemaText | descBytes) so the expression is serializable to
  * executors; the decoder is rebuilt lazily per JVM. Returns null for
  * malformed payloads (SQL-friendly error routing: pair with a
  * `payload IS NOT NULL AND proto_decode(payload) IS NULL` dead-letter
  * filter).
  */
final case class ProtoDecode(
    child: Expression,
    schemaSource: Either[String, Array[Byte]],
    messageType: String,
    /** PROJECTION PUSHDOWN into the codec (set by [[PruneProtoDecode]]):
      * when defined, only these field NUMBERS are parsed — every other
      * field's wire bytes are length-skipped, never decoded (for the CDC
      * envelope that means a (repo, path, seq) projection skips the fat
      * `content` bytes entirely, the codec analogue of Parquet column
      * pruning). The OUTPUT TYPE stays the full struct — pruned fields
      * surface as proto defaults — so downstream ordinals are untouched;
      * the rule only installs a pruned copy where provably nothing reads
      * the pruned fields. */
    allowed: Option[Set[Int]] = None)
  extends UnaryExpression with CodegenFallback {

  @transient private lazy val fs: FileSet = schemaSource match {
    case Left(text) => ProtoTextParser.parse(text, "inline.proto")
    case Right(bytes) => DescParser.parseFileDescriptorSet(bytes)
  }
  @transient private lazy val desc: MessageDesc =
    fs.findMessage(messageType).getOrElse(
      throw new graft.proto.Descriptors.UnknownMessageTypeException(messageType))
  @transient private lazy val decoder = new CatalystRowDecoder(fs, desc, allowed)

  /** struct ordinal → proto field number (both sides order fields by
    * number: SparkSchema.structFor and the decoder's fieldsInNumberOrder). */
  private[functions] lazy val numberOfOrdinal: Array[Int] =
    desc.fieldsInNumberOrder.map(_.number).toArray

  override def dataType: DataType = SparkSchema.structFor(fs, desc)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"proto_decode expects BINARY, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any = {
    try decoder.decode(input.asInstanceOf[Array[Byte]])
    catch { case _: Exception => null } // malformed → null (error route)
  }

  override protected def withNewChildInternal(newChild: Expression): ProtoDecode =
    copy(child = newChild)

  override def prettyName: String = "proto_decode"
}

object ProtoFunctions {
  import org.apache.spark.sql.graft.ColumnShim.{column, expression}

  /** Column-API sugar: decode a binary column with a .proto text schema. */
  def proto_decode(payload: Column, protoText: String, messageType: String): Column =
    column(ProtoDecode(expression(payload), Left(protoText), messageType))

  def proto_decode_desc(payload: Column, descBytes: Array[Byte], messageType: String): Column =
    column(ProtoDecode(expression(payload), Right(descBytes), messageType))

  /** SQL registration: `proto_decode(payload, '<proto text>', 'MessageType')`
    * with foldable string args. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "proto_decode",
      { exprs =>
        require(exprs.length == 3, "proto_decode(payload, protoText, messageType)")
        val text = exprs(1).eval(InternalRow.empty).toString
        val mt = exprs(2).eval(InternalRow.empty).toString
        ProtoDecode(exprs.head, Left(text), mt)
      },
      "scala_udf")
  }
}

/** SparkSessionExtensions entry point:
  * `spark.sql.extensions=graft.functions.GraftExtensions` — the one-line
  * cluster deployment switch: every session built with it gets the
  * `proto_decode` SQL function AND the [[PruneProtoDecode]] projection-
  * pushdown rule, with no per-session `register`/`install` calls in user
  * code (those remain for already-built sessions, e.g. notebooks). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("proto_decode"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[ProtoDecode].getName, "proto_decode"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, "proto_decode(payload, protoText, messageType)")
        ProtoDecode(exprs.head,
          Left(exprs(1).eval(InternalRow.empty).toString),
          exprs(2).eval(InternalRow.empty).toString)
      }))
    // same rule object install() appends to experimental.extraOptimizations;
    // injected here it runs inside the optimizer's operatorOptimization
    // batches for every query of the session
    e.injectOptimizerRule(_ => PruneProtoDecode)
  }
}
