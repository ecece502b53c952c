package graft.operators

import org.apache.spark.sql.functions._
import Tables.ld

/** Text-format ingestion with the reference's routing contract applied to
  * JSON lines: schema-enforced decode, malformed records routed — never
  * dropped, never failing the batch — with the ORIGINAL line preserved
  * (the reference's invalid-schema/error relationship semantics,
  * ProtobufProcessor route contract, re-expressed for a text source).
  */
object Sources {

  val queries: Seq[OpQuery] = Seq(

    OpQuery("q139_json_ingest",
      // JSONL ROUND-TRIP + CORRUPT ROUTING: the gate serializes the events
      // table to JSON lines, injects known-bad lines (syntactic garbage
      // AND well-formed-but-mistyped records), reads the directory back
      // under an enforced schema in PERMISSIVE mode, and routes on the
      // corrupt-record column. The good route must reproduce the events
      // table EXACTLY (timestamps included — micros survive the text
      // round-trip); the bad route must carry exactly the injected lines
      // verbatim. Scale shape: schema enforcement at the reader means no
      // sampling pass; routing is a narrow filter on the scan.
      (s, d) => {
        val root = Gate.workDir("q139")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val ev = ld(s, d, "events")
        // default JSON timestamp pattern truncates to millis — pin a
        // micros pattern on BOTH sides so event times survive the text hop
        val ntzFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
        ev.write.option("timestampNTZFormat", ntzFmt).json(s"$root/json")
        val badLines = Seq(
          """{"event_id": not-json""",
          """{"event_id": 1, "user_id": "NaN-ish", "value": "abc"}""",
          """<?xml version="1.0"?><event/>""")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(root, "json", "part-corrupt.json"),
          badLines.mkString("\n").getBytes("UTF-8"))
        val schema = org.apache.spark.sql.types.StructType(ev.schema.fields :+
          org.apache.spark.sql.types.StructField("_corrupt",
            org.apache.spark.sql.types.StringType))
        val read = s.read.schema(schema)
          .option("timestampNTZFormat", ntzFmt)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .json(s"$root/json")
          .localCheckpoint() // route split consumed twice
        val bad = read.filter(col("_corrupt").isNotNull)
        // a mistyped-but-well-formed record still parses its good fields;
        // the original line is preserved verbatim on the routed side
        require(bad.count() == badLines.size,
          "corrupt route must carry exactly the injected lines")
        require(bad.select("_corrupt").collect().map(_.getString(0)).toSet ==
          badLines.toSet, "corrupt route must keep the original lines verbatim")
        read.filter(col("_corrupt").isNull)
          .select(ev.columns.map(col): _*)
          .orderBy("event_id")
      },
      Some("""SELECT event_id, ts, user_id, event_type, value, props
        FROM events ORDER BY event_id""")),

    OpQuery("q150_csv_ingest",
      // CSV ROUND-TRIP + CORRUPT ROUTING — q139's contract on the other
      // ubiquitous text format: schema-enforced read (no inference pass
      // over 100 TB of text), PERMISSIVE mode, malformed and mistyped
      // lines routed with the ORIGINAL line verbatim, good route ≡ the
      // events table exactly — doubles survive because Spark writes
      // shortest-round-trip decimal forms, timestamps because the micros
      // pattern is pinned on both hops.
      (s, d) => {
        val root = Gate.workDir("q150")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val ev = ld(s, d, "events")
        val ntzFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
        ev.write.option("timestampNTZFormat", ntzFmt).csv(s"$root/csv")
        val badLines = Seq(
          """9999999,not-a-timestamp,7,view,1.5,"{}"""",
          """10000000,2024-01-01T00:00:00.000000,abc,view,xyz,"{}"""")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(root, "csv", "part-corrupt.csv"),
          badLines.mkString("\n").getBytes("UTF-8"))
        val schema = org.apache.spark.sql.types.StructType(ev.schema.fields :+
          org.apache.spark.sql.types.StructField("_corrupt",
            org.apache.spark.sql.types.StringType))
        val read = s.read.schema(schema)
          .option("timestampNTZFormat", ntzFmt)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .csv(s"$root/csv")
          .localCheckpoint() // route split consumed twice
        val bad = read.filter(col("_corrupt").isNotNull)
        require(bad.count() == badLines.size,
          "corrupt route must carry exactly the injected lines")
        require(bad.select("_corrupt").collect().map(_.getString(0)).toSet ==
          badLines.toSet, "corrupt route must keep the original lines verbatim")
        read.filter(col("_corrupt").isNull)
          .select(ev.columns.map(col): _*)
          .orderBy("event_id")
      },
      Some("""SELECT event_id, ts, user_id, event_type, value, props
        FROM events ORDER BY event_id"""))
  )
}
