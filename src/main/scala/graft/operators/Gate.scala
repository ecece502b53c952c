package graft.operators

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.cdc.{Cdc, Epoch, LogGen, Replay}
import graft.decode.{ChangeEvent, Decode, Framing}
import graft.lake.IceLite
import graft.registry.DescriptorRegistry

/** The fixture under every CDC driver gate: the gate's work dir (cleared
  * when the fixture is made) with its `log`, `table` and `decoded` paths,
  * the tag's phase clock, the seeded log, the decoded-log dump the oracles
  * refold, and the standard final-state read-back. The oracle strings embed
  * these paths, so they must not move. */
private[graft] final class Gate(s: SparkSession, tag: String) {
  val root: String = Gate.workDir(tag)
  org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  val log = s"$root/log"
  val table = s"$root/table"
  val decoded = s"$root/decoded"
  val clock = new CdcQueries.PhaseClock(tag)

  /** Seed the gate's log with `nEvents` events over `epochs` epochs, in the
    * standard shape unless `shape` overrides it. */
  def genLog(nEvents: Long, epochs: Int,
      shape: LogGen.Params => LogGen.Params = identity): Unit =
    LogGen.writeLog(s, shape(Gate.params(nEvents)), log, epochs)

  /** Oracle input, the dump-then-refold pattern: decode raw change `events`
    * (by default the gate's log) against `registry` and write the change
    * rows to `decoded`. With `epochs > 0` each epoch decodes on its own and
    * its rows carry an `epoch` column. `offsets` dumps the plain decode,
    * which keeps each row's source (partition, offset), instead of the
    * merge-shaped rows. */
  def dumpDecoded(events: Dataset[_] = s.read.parquet(log), epochs: Int = 0,
      registry: DescriptorRegistry = Cdc.registry, offsets: Boolean = false,
      framing: Framing.Value = Framing.Raw): Unit = {
    val bc = s.sparkContext.broadcast(registry)
    def rows(ev: Dataset[_]): DataFrame =
      if (offsets) Decode.success(Decode.decode(Epoch.events(ev), bc, Epoch.DefaultKey,
        Cdc.MessageType))
      else Replay.decodeForMerge(Epoch.events(ev), bc, None, framing).updates
    val out = if (epochs == 0) rows(events)
      else (0 until epochs).map { e =>
        rows(events.filter(col("epoch") === e)).withColumn("epoch", lit(e))
      }.reduce(_.unionByName(_))
    out.write.mode("overwrite").parquet(decoded)
  }

  /** The raw events of several log dirs as one frame; a dir read without
    * its `epoch=` partition dirs just lacks the `epoch` column. */
  def logs(dirs: String*): DataFrame =
    dirs.map(s.read.parquet(_)).reduce(_.unionByName(_, allowMissingColumns = true))

  /** Move epochs `es` of the log into their own log dir `root/name`, so the
    * gate can replay them separately; returns that dir. */
  def splitLog(name: String, es: Int*): String = {
    val dir = s"$root/$name"
    Files.createDirectories(Paths.get(dir))
    es.foreach(e => Files.move(Paths.get(log, s"epoch=$e"), Paths.get(dir, s"epoch=$e")))
    dir
  }

  /** The standard read-back of a table snapshot (default: the head of
    * `table`). */
  def finalState(snap: IceLite.Snapshot = IceLite.load(table)): DataFrame =
    Gate.finalRows(IceLite.read(s, snap))

  /** The head state of the table at `dir` in the standard columns,
    * unordered — for row-equality checks between tables. */
  def state(dir: String): DataFrame =
    IceLite.read(s, IceLite.load(dir)).select(Gate.stateCols: _*)

  /** The `n` live keys with the most change events in the decoded dump
    * (ties by key) — the victim rule the purge and subject-access oracles
    * re-derive in SQL. */
  def hottestLiveKeys(n: Int): Seq[(String, String)] = {
    import s.implicits._
    val dec = s.read.parquet(decoded)
    val live = dec.withColumn("rn", row_number().over(
        Window.partitionBy("repo", "path").orderBy(col("seq").desc)))
      .filter(col("rn") === 1 && col("op") =!= "DELETE").select("repo", "path")
    dec.join(live, Seq("repo", "path")).groupBy("repo", "path").count()
      .orderBy(col("count").desc, col("repo"), col("path"))
      .select("repo", "path").as[(String, String)].take(n).toSeq
  }
}

private[graft] object Gate {
  def apply(s: SparkSession, tag: String): Gate = new Gate(s, tag)

  /** Deterministic work dir per gate tag — reruns overwrite. */
  def workDir(tag: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-$tag"

  /** The standard gate log shape: 40 repos × 30 paths, 70% v1 payloads. */
  def params(nEvents: Long): LogGen.Params =
    LogGen.Params(nEvents = nEvents, nRepos = 40, pathsPerRepo = 30, v1Fraction = 0.7)

  /** The standard read-back columns: key, commit, lang, content sha256,
    * author. */
  def stateCols: Seq[Column] = Seq(col("repo"), col("path"), col("commit"), col("lang"),
    sha2(col("content"), 256).as("content_sha"), col("author"))

  def finalRows(df: DataFrame): DataFrame = df.select(stateCols: _*).orderBy("repo", "path")

  /** The plain last-writer-wins oracle: the seq-LWW fold of the gate's
    * decoded dump, deleted keys dropped. */
  def lwwOracle(tag: String): String =
    s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir(tag)}/decoded/*.parquet')) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path"""

  /** Hand-encoded change events for ids [lo, hi) — the log of gates whose
    * payloads `LogGen.writeLog` cannot make. The ids are cut into `slices`
    * range partitions and each event's source partition is its slice, so
    * the slice count is part of the log. `mk` gives each id's schema version
    * and payload. */
  def encodedEvents(s: SparkSession, lo: Long, hi: Long, slices: Int)(
      mk: Long => (Int, Array[Byte])): Dataset[ChangeEvent] = {
    import s.implicits._
    s.range(lo, hi, 1, slices).mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      it.map { id =>
        val (v, payload) = mk(id)
        ChangeEvent(payload, Cdc.SchemaId, v, Cdc.MessageType, pid, id)
      }
    }
  }

  /** `c` encoded by the writer of schema `version` (author included), with
    * that version. */
  def encode(c: LogGen.RawChange, version: Int, sizeBytes: Long = 0L): (Int, Array[Byte]) = {
    val fs = version match {
      case 2 => Cdc.fsV2
      case 3 => Cdc.fsV3
      case 4 => Cdc.fsV4
      case 5 => Cdc.fsV5
    }
    version -> LogGen.encodeChange(c, fs.findMessage(Cdc.MessageType).get, fs,
      includeAuthor = true, sizeBytes = sizeBytes)
  }
}
