package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.{Cdc, LogGen}

class ProtoDecodeExpressionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def payload(repo: String, seq: Long): Array[Byte] = {
    val fs = Cdc.fsV1
    val desc = fs.findMessage("RepoChange").get
    LogGen.encodeChange(LogGen.RawChange(repo, "p", "c", "scala", "x", seq, "UPSERT", ""),
      desc, fs, includeAuthor = false)
  }

  test("proto_decode Column API decodes binary to struct") {
    import spark.implicits._
    val df = Seq(payload("r1", 5L), payload("r2", 9L)).toDF("payload")
    val out = df.select(ProtoFunctions.proto_decode($"payload", Cdc.protoV1, "RepoChange").as("m"))
      .select("m.repo", "m.seq").as[(String, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(("r1", 5L), ("r2", 9L)))
  }

  test("proto_decode in SQL via function registry; malformed → null") {
    import spark.implicits._
    ProtoFunctions.register(spark)
    Seq(payload("r1", 5L), Array[Byte](0x0f, 0x01)).toDF("payload")
      .createOrReplaceTempView("raw_log")
    val lit = Cdc.protoV1.replace("'", "''")
    val rows = spark.sql(
      s"SELECT proto_decode(payload, '$lit', 'RepoChange').repo AS repo FROM raw_log")
      .as[Option[String]].collect().toSeq
    assert(rows.contains(Some("r1")))
    assert(rows.contains(None)) // malformed payload decodes to null
  }

  test("GraftExtensions builds a working proto_decode from injected builder") {
    // extensions only apply to freshly-built sessions; in a shared-JVM test
    // suite we validate the injection contract directly
    import org.apache.spark.sql.catalyst.expressions.Literal
    val exts = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions()(exts)
    val expr = ProtoDecode(Literal(payload("rX", 1L)), Left(Cdc.protoV1), "RepoChange")
    val row = expr.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    val schema = expr.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(row.getString(schema.fieldIndex("repo")) == "rX")
    assert(row.getLong(schema.fieldIndex("seq")) == 1L)
  }

  test("GraftExtensions on a fresh session wires function + pruning rule end-to-end") {
    // a FRESH SparkSession built with the extensions must resolve
    // proto_decode in SQL and run PruneProtoDecode without any
    // register()/install() call. NB the `spark.sql.extensions=...` config
    // string is read from the SPARKCONTEXT's conf (SparkSession.
    // applyExtensions), which in this shared-context suite already exists
    // without it — so the test applies the same object through the
    // builder's withExtensions path; on a cluster the --conf flag reaches
    // the context and takes the config path.
    val SS = org.apache.spark.sql.SparkSession
    val (prevDefault, prevActive) = (SS.getDefaultSession, SS.getActiveSession)
    SS.clearDefaultSession(); SS.clearActiveSession()
    try {
      val fresh = SS.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(prevActive.isEmpty || !(fresh eq prevActive.get),
        "must be a newly-built session, or the test proves nothing")
      import fresh.implicits._
      // parquet-backed input: a local Seq relation would be constant-folded
      // (decode and all) before the optimizer rule could see it
      val dir = java.nio.file.Files.createTempDirectory("graft-ext").toString + "/log"
      Seq(payload("rE", 9L)).toDF("payload").write.parquet(dir)
      fresh.read.parquet(dir).createOrReplaceTempView("ext_log")
      val lit = Cdc.protoV1.replace("'", "''")
      val df = fresh.sql(
        s"SELECT proto_decode(payload, '$lit', 'RepoChange').repo AS repo FROM ext_log")
      assert(df.as[String].collect().toSeq == Seq("rE"))
      // the injected optimizer rule narrowed the decode to the read ordinal
      val pruned = df.queryExecution.optimizedPlan.flatMap(
        _.expressions.flatMap(_.collect { case pd: ProtoDecode => pd }))
      assert(pruned.nonEmpty && pruned.forall(_.allowed.exists(_.contains(1))),
        s"injected rule must prune: ${pruned.map(_.allowed)}")
    } finally {
      SS.clearDefaultSession(); SS.clearActiveSession()
      prevDefault.foreach(SS.setDefaultSession)
      prevActive.foreach(SS.setActiveSession)
    }
  }

  test("proto_decode ≡ Decode.decode, invalid UTF-8 bytes included") {
    import spark.implicits._
    import graft.proto.Wire
    import graft.decode.{ChangeEvent, Decode}
    import org.apache.spark.sql.types._
    // RepoChange v2 plus a map and a oneof, so one payload set covers
    // duplicated map keys and a oneof set twice
    val text = Cdc.protoV2.replace("string author  = 8;",
      "string author  = 8;\n  map<string, int64> attrs = 9;\n" +
        "  oneof body { string note = 10; int64 size = 11; }")
    val key = graft.registry.SchemaKey("repo_change_ext", 1)
    val reg = spark.sparkContext.broadcast(graft.registry.DescriptorRegistry(
      key -> graft.proto.ProtoTextParser.parse(text, "repo_change_ext.proto")))
    def msg(body: Wire.Writer => Unit): Array[Byte] = {
      val w = new Wire.Writer
      w.writeLenDelimited(1, "r1".getBytes("UTF-8"))
      w.writeLenDelimited(2, "p".getBytes("UTF-8"))
      w.writeTag(6, Wire.WtVarint); w.writeVarint64(3L)
      body(w)
      w.toBytes
    }
    def entry(k: String, v: Long): Array[Byte] = {
      val e = new Wire.Writer
      e.writeLenDelimited(1, k.getBytes("UTF-8"))
      e.writeTag(2, Wire.WtVarint); e.writeVarint64(v)
      e.toBytes
    }
    val badUtf8 = Array(0xC3.toByte, 0x28.toByte)
    val payloads = Seq(
      msg(_.writeLenDelimited(8, "alice".getBytes("UTF-8"))),
      msg { w => w.writeLenDelimited(5, badUtf8); w.writeLenDelimited(8, badUtf8) },
      msg { w =>
        w.writeLenDelimited(9, entry("k", 1L)); w.writeLenDelimited(9, entry("j", 2L))
        w.writeLenDelimited(9, entry("k", 3L))
      },
      msg { w => w.writeLenDelimited(10, "n".getBytes("UTF-8")); w.writeTag(11, Wire.WtVarint); w.writeVarint64(7L) },
      msg { w => w.writeTag(11, Wire.WtVarint); w.writeVarint64(7L); w.writeLenDelimited(10, "m".getBytes("UTF-8")) })
    val events = payloads.zipWithIndex.map { case (p, i) =>
      ChangeEvent(p, key.schemaId, key.version, "RepoChange", 0, i.toLong)
    }.toDS()

    // every string read as its raw bytes
    def binary(t: DataType): DataType = t match {
      case StringType => BinaryType
      case st: StructType => StructType(st.fields.map(f => f.copy(dataType = binary(f.dataType))))
      case at: ArrayType => at.copy(elementType = binary(at.elementType))
      case mt: MapType => MapType(binary(mt.keyType), binary(mt.valueType), mt.valueContainsNull)
      case other => other
    }
    def norm(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case m: scala.collection.Map[_, _] => m.map { case (k, x) => norm(k) -> norm(x) }.toMap
      case r: org.apache.spark.sql.Row => r.toSeq.map(norm)
      case sq: Seq[_] => sq.map(norm)
      case other => other
    }
    def byOffset(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Any]] = {
      val fields = df.schema.fields.filterNot(f => f.name == "offset" || f.name == "partition")
      df.select(col("offset") +: fields.map(f => col(f.name).cast(binary(f.dataType)).as(f.name)): _*)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail.map(norm)).toMap
    }
    val bulk = byOffset(Decode.success(Decode.decode(events, reg, key, "RepoChange")))
    val viaExpr = byOffset(events.toDF()
      .select($"offset", ProtoFunctions.proto_decode($"payload", text, "RepoChange").as("m"))
      .select("offset", "m.*"))
    assert(bulk.size == payloads.size)
    assert(viaExpr == bulk)
    // the bytes are kept verbatim, not replaced with U+FFFD
    val content = events.toDF().select(ProtoFunctions.proto_decode($"payload", text, "RepoChange")
      .getField("content").cast("binary")).as[Array[Byte]].collect()
    assert(content.exists(_.sameElements(badUtf8)))
  }
}
