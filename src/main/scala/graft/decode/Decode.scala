package graft.decode

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.proto.{DynMsg, Descriptors}
import graft.registry.{DescriptorRegistry, SchemaKey}

/** One change event off the log tail — the Spark-native FlowFile
  * (payload bytes + metadata; SURVEY.md §1.2 mapping table).
  * schemaId/schemaVersion/messageType play the role of the reference's
  * `protobuf.schemaPath` / `protobuf.messageType` attributes
  * (ProtobufDecoder.java:61-63); schemaVersion = -1 defers to the job
  * default (attribute-over-property precedence, ProtobufDecoder.java:77-81).
  */
final case class ChangeEvent(
    payload: Array[Byte],
    schemaId: String,
    schemaVersion: Int,
    messageType: String,
    partition: Int,
    offset: Long)

object Framing extends Enumeration {
  /** one raw message per event payload (reference behavior,
    * ProtobufService.java:64). */
  val Raw = Value
  /** many varint-length-prefixed messages per payload (log segments). */
  val VarintDelimited = Value
}

/** Routes, mirroring the reference's three relationships
  * (ProtobufProcessor.java:93-106). */
object Route {
  val Success = "success"
  val InvalidSchema = "invalid_schema"
  val Error = "error"
}

/** Per-(source partition, route) counters that RIDE the decode pass of
  * whatever action consumes it — lineage metrics cost zero extra jobs.
  * Spark accumulator semantics in transformations: task retries can
  * over-count; these are operational metrics, never data. */
final class RouteStatsAccumulator
    extends org.apache.spark.util.AccumulatorV2[(Int, String), Map[(Int, String), Long]] {
  private val m = new java.util.concurrent.ConcurrentHashMap[(Int, String), Long]()
  override def isZero: Boolean = m.isEmpty
  override def copy(): RouteStatsAccumulator = {
    val c = new RouteStatsAccumulator
    m.forEach((k, v) => c.m.put(k, v))
    c
  }
  override def reset(): Unit = m.clear()
  override def add(kv: (Int, String)): Unit =
    m.merge(kv, 1L, (a, b) => a + b)
  override def merge(other: org.apache.spark.util.AccumulatorV2[(Int, String), Map[(Int, String), Long]]): Unit =
    other.value.foreach { case (k, v) => m.merge(k, v, (a, b) => a + b) }
  override def value: Map[(Int, String), Long] = {
    val b = Map.newBuilder[(Int, String), Long]
    m.forEach((k, v) => b += (k -> v))
    b.result()
  }
  def byRoute: Map[String, Long] =
    value.groupMapReduce(_._1._2)(_._2)(_ + _)
  def byPartition: Map[Int, Long] =
    value.groupMapReduce(_._1._1)(_._2)(_ + _)
}

/** The decode operator: Dataset[ChangeEvent] → routed DataFrame, descriptor
  * resolved once per partition from a broadcast registry inside a
  * Catalyst-typed mapPartitions — never a per-row UDF (SURVEY.md §2.1 #1).
  */
object Decode {

  /** Metadata columns preceding the decoded message struct. */
  val metaSchema: StructType = StructType(Seq(
    StructField("route", StringType, nullable = false),
    StructField("error", StringType, nullable = true),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true)))

  /** Generic decode. Error rows keep the ORIGINAL payload (dead-letter
    * contract, ProtobufDecoder.java:99-100); success rows drop it (saves the
    * shuffle width downstream).
    *
    * Hot path is catalyst-native: wire bytes decode straight into
    * InternalRows whose strings are zero-copy UTF8String slices of the
    * payload buffer — no java.lang.String materialization and no
    * Row→InternalRow encoder pass (the exchange's UnsafeRow conversion is
    * the single copy). */
  def decode(
      events: Dataset[ChangeEvent],
      registry: Broadcast[DescriptorRegistry],
      defaultKey: SchemaKey,
      messageType: String,
      framing: Framing.Value = Framing.Raw,
      /** when set, every emitted row also bumps (source partition, route) —
        * per-partition lineage metrics riding the same pass. */
      stats: Option[RouteStatsAccumulator] = None): DataFrame =
    decodeAs(events, registry, defaultKey, messageType, framing, stats, readerFields = None)

  /** [[decode]] into a reader descriptor cut down to `readerFields` when
    * set: every other field is wire-SKIPPED (a length-delimited skip is an
    * O(1) jump — the payload body is never materialized), while schema
    * resolution, routing and framing stay exactly [[decode]]'s. */
  private def decodeAs(
      events: Dataset[ChangeEvent],
      registry: Broadcast[DescriptorRegistry],
      defaultKey: SchemaKey,
      messageType: String,
      framing: Framing.Value,
      stats: Option[RouteStatsAccumulator],
      readerFields: Option[Seq[String]]): DataFrame = {

    def reader(desc: Descriptors.MessageDesc): Descriptors.MessageDesc =
      readerFields.fold(desc)(ks => desc.copy(fields = desc.fields.filter(f => ks.contains(f.name))))
    val (fs0, desc0) = registry.value.descriptor(defaultKey, messageType).getOrElse(
      throw new Descriptors.UnknownMessageTypeException(messageType))
    val schema = StructType(metaSchema.fields :+
      StructField("msg", SparkSchema.structFor(fs0, reader(desc0)), nullable = true))
    val msgOrdinal = schema.fieldIndex("msg")
    val spark = events.sparkSession
    val in = events.toDF().select("payload", "schemaId", "schemaVersion", "messageType", "partition", "offset")
    val rdd = org.apache.spark.sql.graft.InternalDf.toRdd(in).mapPartitions { iter =>
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.unsafe.types.UTF8String

      val reg = registry.value // one broadcast deref per partition
      // reader-side (output) descriptor: rows are projected into THIS shape
      // by field number, whatever descriptor version wrote the event
      val (fsOut, descFull) = reg.descriptor(defaultKey, messageType).get
      val descOut = reader(descFull)
      // row-compiled decoders, one per writer schema version seen (memoized)
      val decoders = new java.util.HashMap[(SchemaKey, String), CatalystRowDecoder]()
      def decoderFor(key: SchemaKey, mt: String, writerDesc: graft.proto.Descriptors.MessageDesc): CatalystRowDecoder = {
        val k = (reg.resolveKey(key), mt)
        var dec = decoders.get(k)
        if (dec == null) {
          dec =
            if (writerDesc eq descFull) new CatalystRowDecoder(fsOut, descOut)
            else new CatalystRowDecoder(fsOut, descOut, Some(writerDesc.fields.map(_.number).toSet))
          decoders.put(k, dec)
        }
        dec
      }
      val successU = UTF8String.fromString(Route.Success)
      val invalidU = UTF8String.fromString(Route.InvalidSchema)
      val errorU = UTF8String.fromString(Route.Error)
      def routed(routeU: UTF8String, route: String, error: String,
          partition: Int, offset: Long, payload: Array[Byte], msg: InternalRow): InternalRow = {
        stats.foreach(_.add((partition, route)))
        val vals = new Array[Any](msgOrdinal + 1)
        vals(0) = routeU
        vals(1) = if (error == null) null else UTF8String.fromString(error)
        vals(2) = partition
        vals(3) = offset
        vals(4) = payload
        vals(msgOrdinal) = msg
        new GenericInternalRow(vals)
      }

      iter.flatMap { ir =>
        // copy fields out immediately — the scan reuses the row object
        val payload = if (ir.isNullAt(0)) null else ir.getBinary(0)
        val schemaId = if (ir.isNullAt(1)) null else ir.getUTF8String(1).toString
        val schemaVersion = if (ir.isNullAt(2)) -1 else ir.getInt(2)
        val mtEv = if (ir.isNullAt(3)) null else ir.getUTF8String(3).toString
        val partition = if (ir.isNullAt(4)) 0 else ir.getInt(4)
        val offset = if (ir.isNullAt(5)) 0L else ir.getLong(5)

        val key =
          if (schemaId == null || schemaId.isEmpty) defaultKey
          else SchemaKey(schemaId, schemaVersion)
        val mt = if (mtEv == null || mtEv.isEmpty) messageType else mtEv
        if (mt == null || mt.isEmpty) {
          Iterator.single(routed(errorU, Route.Error, "no message type", partition, offset, payload, null))
        } else reg.descriptor(key, mt) match {
          case None =>
            val (ru, rs) =
              if (reg.fileSet(key).isEmpty) (invalidU, Route.InvalidSchema) // schema missing (ProtobufDecoder.java:65-68)
              else (errorU, Route.Error) // unknown message type (ProtobufService.java:59-61)
            Iterator.single(routed(ru, rs, s"schema=$key type=$mt unresolved", partition, offset, payload, null))
          case Some((fs, desc)) =>
            val dec = decoderFor(key, mt, desc)
            framing match {
              case Framing.Raw =>
                try {
                  val row = dec.decode(payload)
                  Iterator.single(routed(successU, Route.Success, null, partition, offset, null, row))
                } catch {
                  case e: Exception =>
                    Iterator.single(routed(errorU, Route.Error, e.getMessage, partition, offset, payload, null))
                }
              case Framing.VarintDelimited =>
                // good-prefix semantics: decode until the first malformed frame
                val r = new graft.proto.Wire.Reader(payload)
                var err: String = null
                val out = Vector.newBuilder[InternalRow]
                while (r.hasRemaining && err == null) {
                  try {
                    val (p, len) = r.readSlice()
                    out += dec.decode(new graft.proto.Wire.Reader(r.buf, p, p + len))
                  } catch { case e: Exception => err = e.getMessage }
                }
                val good = out.result().iterator.map(row =>
                  routed(successU, Route.Success, null, partition, offset, null, row))
                val bad = Option(err).iterator.map(e =>
                  routed(errorU, Route.Error, s"malformed tail: $e", partition, offset, payload, null))
                good ++ bad
            }
        }
      }
    }
    org.apache.spark.sql.graft.InternalDf.create(spark, rdd, schema)
  }

  /** Keys-only decode: [[decode]]'s success rows under a reader
    * descriptor cut down to `keyFields` — each event resolves against its
    * own (schemaId, schemaVersion) exactly as the update rows do, and every
    * non-key field is wire-skipped. Used for touched-bucket discovery
    * before a MERGE; non-success routes yield no row, so the key rows are
    * exactly the success rows' keys. */
  def decodeKeys(
      events: Dataset[ChangeEvent],
      registry: Broadcast[DescriptorRegistry],
      defaultKey: SchemaKey,
      messageType: String,
      keyFields: Seq[String],
      framing: Framing.Value = Framing.Raw): DataFrame =
    decodeKeysWithId(events, registry, defaultKey, messageType, keyFields, framing)
      .drop("partition", "offset")

  /** [[decodeKeys]] with the EVENT IDENTITY carried: one row per decoded
    * message as (partition, offset, keyFields…). This is the row-level
    * pushdown primitive — a consumer can decide per event whether the full
    * payload is worth decoding (selective replay, tenant rebuilds) while
    * every non-key field is wire-skipped. Delimited segments emit one row
    * per inner message, all sharing the segment's (partition, offset) — a
    * matching segment is later decoded whole. Non-success routes yield no
    * row. */
  def decodeKeysWithId(
      events: Dataset[ChangeEvent],
      registry: Broadcast[DescriptorRegistry],
      defaultKey: SchemaKey,
      messageType: String,
      keyFields: Seq[String],
      framing: Framing.Value = Framing.Raw): DataFrame =
    success(decodeAs(events, registry, defaultKey, messageType, framing, None, Some(keyFields)))

  /** Route splits (filter on the computed column → 3 sinks). */
  def success(decoded: DataFrame): DataFrame =
    decoded.filter(decoded("route") === Route.Success).select("partition", "offset", "msg.*")
  def deadLetter(decoded: DataFrame): DataFrame =
    decoded.filter(decoded("route") =!= Route.Success)
      .select("route", "error", "partition", "offset", "payload")
}
