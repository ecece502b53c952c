package graft.decode

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.proto.Descriptors._
import graft.proto.Descriptors.FType._
import graft.proto.{DynMsg, PValue, ProtoJson}
import PValue._

/** Derives a Spark StructType from a proto MessageDesc and converts DynMsg
  * values to Rows (SURVEY.md §1.2 type-mapping table). Field IDs (proto field
  * numbers) are carried in column metadata under "graft.fieldId" — the handle
  * IceLite schema evolution maps columns by (Iceberg field-ID semantics).
  */
object SparkSchema {

  val FieldIdKey = "graft.fieldId"

  def structFor(fs: FileSet, desc: MessageDesc): StructType =
    structFor(fs, desc, Set.empty)

  /** `visiting` guards against RECURSIVE message types (legal protobuf —
    * trees, linked lists): a Spark StructType cannot represent them, and
    * without the check this derivation recurses forever. Reject loudly
    * so the caller routes the schema as invalid instead of the driver
    * dying with a StackOverflowError. */
  private def structFor(fs: FileSet, desc: MessageDesc, visiting: Set[String]): StructType = {
    if (visiting(desc.fullName))
      throw new SchemaLoadingException(
        s"recursive message type ${desc.fullName} cannot map to a Spark schema")
    val v = visiting + desc.fullName
    StructType(desc.fieldsInNumberOrder.map(f => fieldFor(fs, f, v)))
  }

  private def fieldFor(fs: FileSet, f: FieldDesc, visiting: Set[String]): StructField = {
    val meta = new MetadataBuilder().putLong(FieldIdKey, f.number.toLong).build()
    StructField(f.name, dataTypeFor(fs, f, visiting), nullable = true, meta)
  }

  def dataTypeFor(fs: FileSet, f: FieldDesc): DataType = dataTypeFor(fs, f, Set.empty)

  private def dataTypeFor(fs: FileSet, f: FieldDesc, visiting: Set[String]): DataType = {
    val elem: DataType =
      if (f.tpe == TYPE_MESSAGE && fs.messageFor(f).fullName == "google.protobuf.Timestamp")
        TimestampType
      else if (ProtoJson.isMapField(fs, f)) {
        val entry = fs.messageFor(f)
        return MapType(
          scalarTypeFor(entry.fieldByNumber(1)),
          entry.fieldByNumber(2).tpe match {
            case TYPE_MESSAGE => structFor(fs, fs.messageFor(entry.fieldByNumber(2)), visiting)
            case _ => scalarTypeFor(entry.fieldByNumber(2))
          })
      } else f.tpe match {
        case TYPE_MESSAGE | TYPE_GROUP => structFor(fs, fs.messageFor(f), visiting)
        case TYPE_ENUM => StringType // proto3 JSON form: enum name
        case _ => scalarTypeFor(f)
      }
    if (f.repeated) ArrayType(elem) else elem
  }

  private def scalarTypeFor(f: FieldDesc): DataType = f.tpe match {
    case TYPE_DOUBLE => DoubleType
    case TYPE_FLOAT => FloatType
    case TYPE_INT32 | TYPE_SINT32 | TYPE_SFIXED32 => IntegerType
    case TYPE_UINT32 | TYPE_FIXED32 => LongType // unsigned widened
    case TYPE_INT64 | TYPE_SINT64 | TYPE_SFIXED64 | TYPE_UINT64 | TYPE_FIXED64 => LongType
    case TYPE_BOOL => BooleanType
    case TYPE_STRING => StringType
    case TYPE_BYTES => BinaryType
    case TYPE_ENUM => StringType
    case other => throw new IllegalArgumentException(s"no scalar Spark type for $other")
  }

  /** DynMsg → Row under structFor(desc), the independent tree decoder's
    * row form. proto3 semantics: absent singular scalars materialize as
    * their default (0/""/false), absent messages as null, absent repeated
    * as empty array. Descriptor-version-aware projection (BASELINE.json
    * north_star): the message may have been decoded under the WRITER's
    * descriptor version; fields are resolved into the READER schema by
    * FIELD NUMBER (identity), so add-column fills defaults, rename follows
    * the reader's name, and int32→int64 widening is transparent (PLong
    * either way). */
  def toRowAs(fs: FileSet, desc: MessageDesc, m: DynMsg): Row = {
    val fields = desc.fieldsInNumberOrder
    val values = new Array[Any](fields.length)
    var i = 0
    while (i < fields.length) {
      val f = fields(i)
      values(i) = convert(fs, f, m.fields.get(f.number))
      i += 1
    }
    Row.fromSeq(values.toIndexedSeq)
  }

  private def convert(fs: FileSet, f: FieldDesc, v: Option[PValue]): Any = {
    if (ProtoJson.isMapField(fs, f)) {
      val entry = fs.messageFor(f)
      val valF = entry.fieldByNumber(2)
      val pairs = v match {
        case Some(PList(vs)) => vs.map {
          case PMsg(e) =>
            // spec-legal entries may omit key/value → typed defaults (a null
            // key is illegal in MapType; enum values resolve to NAMES)
            val keyF = entry.fieldByNumber(1)
            val k = e.fields.get(1).map(scalarValue(keyF, _)).getOrElse(defaultScalar(keyF))
            val vv = valF.tpe match {
              case TYPE_MESSAGE => e.fields.get(2).collect {
                case PMsg(mm) => toRowAs(fs, fs.messageFor(valF), mm) }.orNull
              case TYPE_ENUM => e.fields.get(2).map(one(fs, valF, _))
                .getOrElse(fs.enumFor(valF).byNumber.getOrElse(0, "0"))
              case _ => e.fields.get(2).map(scalarValue(valF, _)).getOrElse(defaultScalar(valF))
            }
            k -> vv
          case other => throw new IllegalArgumentException(s"map entry is not a message: $other")
        }.toMap
        case _ => Map.empty[Any, Any]
      }
      return pairs
    }
    if (f.repeated) {
      v match {
        case Some(PList(vs)) => vs.map(one(fs, f, _))
        case _ => Vector.empty
      }
    } else f.tpe match {
      case TYPE_MESSAGE | TYPE_GROUP => v.collect { case PMsg(mm) => one(fs, f, PMsg(mm)) }.orNull
      case TYPE_ENUM => v.map(one(fs, f, _)).getOrElse(
        f.parsedDefault.getOrElse(fs.enumFor(f).byNumber.getOrElse(0, "0")))
      case _ => v.map(one(fs, f, _)).getOrElse(defaultScalar(f))
    }
  }

  private def one(fs: FileSet, f: FieldDesc, v: PValue): Any = f.tpe match {
    case TYPE_MESSAGE | TYPE_GROUP =>
      val md = fs.messageFor(f)
      v match {
        case PMsg(mm) =>
          if (md.fullName == "google.protobuf.Timestamp") {
            val secs = mm.fields.get(1).collect { case PLong(l) => l }.getOrElse(0L)
            val nanos = mm.fields.get(2).collect { case PLong(l) => l }.getOrElse(0L)
            java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(secs, nanos))
          } else toRowAs(fs, md, mm)
        case other => throw new IllegalArgumentException(s"field ${f.name}: expected message, got $other")
      }
    case TYPE_ENUM =>
      v match {
        case PEnum(n) => fs.enumFor(f).byNumber.getOrElse(n, n.toString)
        case other => throw new IllegalArgumentException(s"field ${f.name}: expected enum, got $other")
      }
    case _ => scalarValue(f, v)
  }

  private def scalarValue(f: FieldDesc, v: PValue): Any = (f.tpe, v) match {
    case (TYPE_DOUBLE, PDouble(d)) => d
    case (TYPE_FLOAT, PFloat(fl)) => fl
    case (TYPE_INT32 | TYPE_SINT32 | TYPE_SFIXED32, PLong(l)) => l.toInt
    case (_, PLong(l)) => l
    case (TYPE_BOOL, PBool(b)) => b
    case (TYPE_STRING, PStr(s)) => s
    case (TYPE_BYTES, PBytes(b)) => b
    case (t, other) => throw new IllegalArgumentException(s"field ${f.name}: $t cannot convert $other")
  }

  private def defaultScalar(f: FieldDesc): Any = f.parsedDefault.getOrElse(f.tpe match {
    case TYPE_DOUBLE => 0.0
    case TYPE_FLOAT => 0.0f
    case TYPE_INT32 | TYPE_SINT32 | TYPE_SFIXED32 => 0
    case TYPE_BOOL => false
    case TYPE_STRING => ""
    case TYPE_BYTES => Array.emptyByteArray
    case TYPE_ENUM => "" // resolved via enum name path normally
    case _ => 0L
  })
}
