package graft.lake

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{MessageType, PrimitiveType, Types}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType, MetadataBuilder}
import scala.jdk.CollectionConverters._

/** IceLite — an Iceberg-semantics table layer owned by this engine
  * (SURVEY.md §7.1): parquet data files + JSON snapshot metadata,
  * field-ID-based schema evolution, atomic commit-by-rename with
  * epoch fencing (exactly-once sink), snapshot history for resume.
  *
  * Layout:
  *   <dir>/meta/v00000.json …   — snapshots; latest = max version
  *   <dir>/meta/m-….json        — MANIFEST files: the data-file lists,
  *                                grouped by bucket range (split out of the
  *                                snapshot so a commit writes O(delta)
  *                                metadata, not the full file list —
  *                                Iceberg's manifest/manifest-list design)
  *   <dir>/data/epoch=<e>/…     — parquet data files, hash-bucketed on key
  *
  * Metadata scale (10^6-file design point):
  *  - a snapshot JSON holds schemas + a bounded epoch LEDGER (per-namespace
  *    watermark + out-of-order window, not the full epoch vector) + one
  *    manifest REF per live manifest — O(ranges + recent epochs), never
  *    O(files);
  *  - a delta-append commit writes one manifest per bucket range it adds
  *    files to (O(batch)); a COW commit additionally rewrites only the
  *    manifests of ranges it replaces files in; a range whose manifest
  *    count passes `manifestCompactAt` is merged as part of the commit
  *    (amortized O(files/ranges), the log-structured-metadata trade);
  *  - per-file min/max stats (key columns + __seq, from the parquet
  *    footers) let point lookups and the change feed skip files inside a
  *    bucket without opening them.
  *
  * On a production object store the create-if-absent link would be a
  * conditional PUT / catalog compare-and-swap (Iceberg's commit protocol);
  * the local-FS link(2) has the same linearizability contract.
  */
object IceLite {

  /** One table column: `id` is the proto field number (Iceberg field-ID
    * semantics — rename keeps the id, so old files map by id, not name).
    * Negative ids are engine-reserved hidden columns (CDC bookkeeping).
    *
    * `default` (addColumn DDL) is a WRITE default: batches that lack the
    * column are filled with it at merge time and files that predate the
    * column read it instead of null — so the value is deterministic however
    * compaction later rewrites those rows (Iceberg's initial-default, made
    * rewrite-stable by also applying it on the write path). Explicitly
    * written NULLs stay NULL. */
  final case class ColDef(id: Int, name: String, dataType: String,
      default: Option[String] = None) {
    def sparkType: DataType = DataType.fromDDL(dataType)
    def hidden: Boolean = id < 0
    /** the literal standing in for this column when a file/batch lacks it */
    def absentLit: org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.lit(default.orNull).cast(sparkType)
  }

  /** Hidden CDC bookkeeping columns: last applied sequence per key and the
    * tombstone flag. Version-ordered MERGE compares against __seq so
    * out-of-order / late / replayed events are absorbed (LWW); tombstones
    * keep DELETEs winning over late lower-seq upserts. */
  val SeqCol = ColDef(-1, "__seq", "BIGINT")
  val DelCol = ColDef(-2, "__del", "BOOLEAN")
  def withCdcCols(schema: Vector[ColDef]): Vector[ColDef] = schema :+ SeqCol :+ DelCol

  /** `delta = true` marks a merge-on-read file: it holds ONLY one epoch's
    * change rows for its bucket (newest-seq-wins against older files at
    * read time) rather than the bucket's full resolved state.
    *
    * Stats (from the parquet footer at commit time; absent = unknown =
    * never pruned): `minSeq`/`maxSeq` bound __seq; `keyMin`/`keyMax` are
    * per-key-column lower/upper bounds aligned with the table's keyCols —
    * a file can be skipped when the probed key falls outside ANY column's
    * bounds (conservative, Iceberg-style per-column pruning). */
  final case class DataFile(path: String, bucket: Int, rows: Long, schemaVersion: Int,
      delta: Boolean = false,
      minSeq: Long = Long.MinValue, maxSeq: Long = Long.MaxValue,
      keyMin: Vector[String] = Vector.empty, keyMax: Vector[String] = Vector.empty,
      /** per-file key Bloom filter ([[KeyBloom]]) — delta files are
        * hash-sharded so key bounds span the bucket's whole range and prune
        * nothing; the bloom is what keeps point-lookup file opens O(1) as
        * uncompacted epochs accumulate. None = unknown = never pruned. */
      bloom: Option[Array[Byte]] = None,
      /** CLUSTERED base file: a compaction with `clusterBy` sorted this
        * bucket by `sortCol` and split it into range-contiguous files, so
        * [sortMin, sortMax] tightly bounds the column and [[IceLite
        * .rangeFiles]] can skip the file for non-overlapping range
        * predicates. None = not clustered = never range-pruned. Bounds are
        * stored as strings; numeric columns compare via the declared type. */
      sortCol: Option[String] = None,
      sortMin: Option[String] = None,
      sortMax: Option[String] = None,
      /** Per-column [min, max] bounds. Two writers: (a) z-order
        * compactions record MEASURED bounds for their clustering dimensions
        * ([[KeyBloom.describe]], post-write); (b) since the metadata-aggregate
        * round, [[IceLite.scanEpochFiles]] records FOOTER bounds for every
        * stats-friendly primitive column (untruncatable numerics + UTF-8
        * strings whose footer encoding matches the prune comparator) on
        * every file it stats. Both are real bounds over the file's non-null
        * values, so [[rangeFilesMulti]] prunes on any of them and
        * [[MetaAgg]] serves exact min/max for numeric columns without a
        * scan. Absent column = unknown = never pruned, never meta-served. */
      colBounds: Map[String, (String, String)] = Map.empty,
      /** EXACT count of tombstone rows (__del = true) in this file; -1 =
        * unknown (legacy manifests). Recorded at stats time from the
        * footer where a row group's __del stats decide it, else by reading
        * that group's __del column through the same open footer reader. Lets
        * [[MetaAgg.liveCount]] answer count(*) from the manifest alone on
        * any delta-free snapshot — tombstones retained for change-feed
        * consumers no longer force a scan. */
      delRows: Long = -1L) {
    def liveRows: Long = if (rows < 0 || delRows < 0) -1L else rows - delRows
    def mayContainKey(keyVals: Seq[String]): Boolean =
      keyMin.isEmpty || keyMax.isEmpty ||
        keyVals.indices.forall(i =>
          utf8Compare(keyVals(i), keyMin(i)) >= 0 && utf8Compare(keyVals(i), keyMax(i)) <= 0)
    /** bounds AND bloom; `keyHash` is the Spark-canonical xxhash64 of the
      * key columns (None when a key type is outside the host-hashable
      * surface → bloom skipped, bounds still apply). */
    def mayContainKeyHash(keyVals: Seq[String], keyHash: Option[Long]): Boolean =
      mayContainKey(keyVals) && (keyHash match {
        case Some(h) => bloom.forall(b => KeyBloom.mayContain(b, h))
        case None => true
      })
  }

  /** Parquet binary stats order strings by UNSIGNED UTF-8 BYTES; Java's
    * String.compareTo orders by UTF-16 code units. The two disagree for
    * [U+E000, U+FFFF] vs supplementary-plane characters (surrogates sort
    * low in UTF-16, high in UTF-8), so every comparison against footer
    * bounds must use the byte order or a file containing the key could be
    * pruned. */
  private[lake] def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  // ----------------------------------------------------------- epoch ledger

  /** Committed-epoch set with BOUNDED state: epoch ids are namespaced
    * ("replay-3", "tail-ab12cd34-7") and per namespace mostly contiguous,
    * so instead of keeping every id ever committed (the r2 snapshot grew
    * O(epochs) and fencing was a linear scan) we keep a per-namespace
    * contiguous WATERMARK plus the out-of-order ids above it; non-numeric
    * ids fall back to a plain set. `contains` is O(1). */
  final case class EpochLedger(
      watermarks: Map[String, Long],
      recent: Map[String, Set[Long]],
      other: Set[String]) {

    def contains(e: String): Boolean = EpochLedger.split(e) match {
      case Some((ns, n)) =>
        n <= watermarks.getOrElse(ns, -1L) || recent.getOrElse(ns, Set.empty)(n)
      case None => other(e)
    }

    def add(e: String): EpochLedger = EpochLedger.split(e) match {
      case Some((ns, n)) =>
        var w = watermarks.getOrElse(ns, -1L)
        var r = recent.getOrElse(ns, Set.empty[Long]) + n
        while (r(w + 1)) { w += 1; r -= w }
        copy(
          watermarks = watermarks.updated(ns, w),
          recent = if (r.isEmpty) recent - ns else recent.updated(ns, r))
      case None => copy(other = other + e)
    }

    def namespaces: Set[String] = watermarks.keySet ++ recent.keySet
    /** committed-epoch count (exact: watermark+1 contiguous + stragglers). */
    def count: Long =
      watermarks.valuesIterator.map(_ + 1).sum + recent.valuesIterator.map(_.size.toLong).sum + other.size
  }

  object EpochLedger {
    val empty: EpochLedger = EpochLedger(Map.empty, Map.empty, Set.empty)
    /** "replay-3" → (replay, 3); "tail-ab12-7" → (tail-ab12, 7); "e7" → None.
      * The numeric form must ROUND-TRIP ("run-07" ≠ "run-7": a leading-zero
      * or overlong suffix goes to the exact-string set, otherwise two
      * distinct caller-supplied ids would collapse onto one fence entry and
      * a genuinely new epoch would be silently swallowed). */
    private[IceLite] def split(e: String): Option[(String, Long)] = {
      val i = e.lastIndexOf('-')
      if (i <= 0 || i == e.length - 1) None
      else {
        val suffix = e.substring(i + 1)
        if (suffix.length <= 18 && suffix.forall(_.isDigit)) {
          val n = suffix.toLong
          if (n.toString == suffix) Some((e.substring(0, i), n)) else None
        } else None
      }
    }
  }

  /** A live manifest: `range` is the bucket-range group its files belong to
    * (bucket / rangeWidth); refs are tiny — the file lists live in the
    * manifest JSONs themselves. */
  final case class ManifestRef(path: String, range: Int, fileCount: Int)

  final case class Snapshot(
      version: Int,
      ledger: EpochLedger,
      /** all schema versions ever committed; last = current. Index = schemaVersion. */
      schemas: Vector[Vector[ColDef]],
      keyCols: Vector[String],
      buckets: Int,
      /** materialized view of every live data file (loaded from manifests). */
      files: Vector[DataFile],
      /** highest __seq ever committed — the change-feed watermark: rows in
        * later snapshots with __seq above OUR maxSeq are exactly the
        * changes applied after this snapshot. */
      maxSeq: Long = -1L,
      manifests: Vector[ManifestRef] = Vector.empty,
      /** field ids RETIRED by dropColumn: a later batch still carrying the
        * field (older writer descriptor) must NOT silently resurrect it —
        * Iceberg's drop-column rule is that a re-added column takes a NEW
        * id. Merge.evolve filters additions against this set. */
      retiredIds: Set[Int] = Set.empty,
      /** field ids renamed by DDL (renameColumn): the table's name for a
        * pinned id is AUTHORITATIVE — a later batch whose (older) writer
        * descriptor still carries the pre-rename name must not silently
        * rename the column back through Merge.evolve (its VALUES still
        * land: batch normalization matches by field id). */
      pinnedIds: Set[Int] = Set.empty,
      /** non-key columns with a SECONDARY BLOOM INDEX (addBloomIndex):
        * per-bucket fixed-size value blooms in `valueIndex`, kept fresh by
        * every commit — readWhere prunes whole buckets for equality
        * predicates. Bucket (not file) granularity because merge-on-read
        * resolution is per key: a sibling file may carry the newer version
        * of a matching key, so files can't be skipped individually. */
      indexedCols: Set[String] = Set.empty,
      /** col → bucket → fixed-size bloom ([[KeyBloom.FixedBits]]). A
        * missing (col, bucket) entry means "may contain" (sound). */
      valueIndex: Map[String, Map[Int, Array[Byte]]] = Map.empty,
      /** Wall-clock commit time (epoch millis), stamped by [[writeAtomic]]
        * when the snapshot JSON is written — the AS-OF-TIMESTAMP time-travel
        * axis (Iceberg's snapshot `timestamp-ms`). Stored IN the JSON, not
        * taken from file mtime, because object stores don't preserve mtime;
        * -1 = legacy snapshot predating the field ([[commitTimeOf]] falls
        * back to mtime for those). */
      committedAtMs: Long = -1L) {
    def currentSchemaVersion: Int = schemas.length - 1
    def currentSchema: Vector[ColDef] = schemas.last
    def currentStruct: StructType = structOf(currentSchema)
    def hasEpoch(e: String): Boolean = ledger.contains(e)
    def rangeOf(bucket: Int): Int = bucket / rangeWidth
    def rangeWidth: Int = math.max(1, (buckets + manifestRanges - 1) / manifestRanges)
  }

  /** Bucket-range groups for manifests; a commit touches only the ranges it
    * adds/replaces files in. */
  val manifestRanges = 16
  /** When one range accumulates this many manifests, the commit merges them. */
  val manifestCompactAt = 8

  def structOf(cols: Seq[ColDef]): StructType = StructType(cols.map { c =>
    StructField(c.name, c.sparkType, nullable = true,
      new MetadataBuilder().putLong("graft.fieldId", c.id.toLong).build())
  })

  /** Extract (id,name,type) triples from a DataFrame schema whose columns
    * carry "graft.fieldId" metadata (as produced by decode.SparkSchema). */
  def colDefsOf(schema: StructType): Vector[ColDef] = schema.fields.toVector.map { f =>
    val id =
      if (f.metadata.contains("graft.fieldId")) f.metadata.getLong("graft.fieldId").toInt
      else throw new IllegalArgumentException(s"column ${f.name} lacks graft.fieldId metadata")
    ColDef(id, f.name, f.dataType.sql)
  }

  // ------------------------------------------------------------------ json

  private val mapper = new ObjectMapper()

  private def fileToJson(arr: com.fasterxml.jackson.databind.node.ArrayNode, f: DataFile): Unit = {
    val o = arr.addObject()
    o.put("path", f.path); o.put("bucket", f.bucket)
    o.put("rows", f.rows); o.put("schemaVersion", f.schemaVersion)
    if (f.delta) o.put("delta", true)
    if (f.minSeq != Long.MinValue) o.put("minSeq", f.minSeq)
    if (f.maxSeq != Long.MaxValue) o.put("maxSeq", f.maxSeq)
    if (f.keyMin.nonEmpty) { val a = o.putArray("keyMin"); f.keyMin.foreach(a.add) }
    if (f.keyMax.nonEmpty) { val a = o.putArray("keyMax"); f.keyMax.foreach(a.add) }
    f.bloom.foreach(b => o.put("bloom", java.util.Base64.getEncoder.encodeToString(b)))
    f.sortCol.foreach(o.put("sortCol", _))
    f.sortMin.foreach(o.put("sortMin", _))
    f.sortMax.foreach(o.put("sortMax", _))
    if (f.colBounds.nonEmpty) {
      val cb = o.putObject("colBounds")
      f.colBounds.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
        val a = cb.putArray(c); a.add(mn); a.add(mx)
      }
    }
    if (f.delRows >= 0) o.put("delRows", f.delRows)
  }

  private def fileFromJson(f: com.fasterxml.jackson.databind.JsonNode): DataFile =
    DataFile(f.get("path").asText(), f.get("bucket").asInt(),
      f.get("rows").asLong(), f.get("schemaVersion").asInt(),
      delta = Option(f.get("delta")).exists(_.asBoolean()),
      minSeq = Option(f.get("minSeq")).map(_.asLong()).getOrElse(Long.MinValue),
      maxSeq = Option(f.get("maxSeq")).map(_.asLong()).getOrElse(Long.MaxValue),
      keyMin = Option(f.get("keyMin")).map(_.elements().asScala.map(_.asText()).toVector).getOrElse(Vector.empty),
      keyMax = Option(f.get("keyMax")).map(_.elements().asScala.map(_.asText()).toVector).getOrElse(Vector.empty),
      bloom = Option(f.get("bloom")).map(n => java.util.Base64.getDecoder.decode(n.asText())),
      sortCol = Option(f.get("sortCol")).map(_.asText()),
      sortMin = Option(f.get("sortMin")).map(_.asText()),
      sortMax = Option(f.get("sortMax")).map(_.asText()),
      colBounds = Option(f.get("colBounds")).map { cb =>
        cb.properties().asScala.map { e =>
          val a = e.getValue
          e.getKey -> (a.get(0).asText(), a.get(1).asText())
        }.toMap
      }.getOrElse(Map.empty),
      delRows = Option(f.get("delRows")).map(_.asLong()).getOrElse(-1L))

  private def toJson(s: Snapshot): String = {
    val root = mapper.createObjectNode()
    root.put("version", s.version)
    val led = root.putObject("ledger")
    val wm = led.putObject("watermarks")
    s.ledger.watermarks.toSeq.sortBy(_._1).foreach { case (ns, w) => wm.put(ns, w) }
    val rec = led.putObject("recent")
    s.ledger.recent.toSeq.sortBy(_._1).foreach { case (ns, ids) =>
      val a = rec.putArray(ns); ids.toSeq.sorted.foreach(a.add)
    }
    val oth = led.putArray("other"); s.ledger.other.toSeq.sorted.foreach(oth.add)
    val schemas = root.putArray("schemas")
    s.schemas.foreach { cols =>
      val arr = schemas.addArray()
      cols.foreach { c =>
        val o = arr.addObject()
        o.put("id", c.id); o.put("name", c.name); o.put("type", c.dataType)
        c.default.foreach(o.put("default", _))
      }
    }
    val keys = root.putArray("keyCols"); s.keyCols.foreach(keys.add)
    root.put("buckets", s.buckets)
    root.put("maxSeq", s.maxSeq)
    if (s.committedAtMs >= 0) root.put("committedAtMs", s.committedAtMs)
    if (s.retiredIds.nonEmpty) {
      val rids = root.putArray("retiredIds"); s.retiredIds.toSeq.sorted.foreach(rids.add)
    }
    if (s.pinnedIds.nonEmpty) {
      val pids = root.putArray("pinnedIds"); s.pinnedIds.toSeq.sorted.foreach(pids.add)
    }
    if (s.indexedCols.nonEmpty) {
      val ics = root.putArray("indexedCols"); s.indexedCols.toSeq.sorted.foreach(ics.add)
    }
    if (s.valueIndex.nonEmpty) {
      val vi = root.putObject("valueIndex")
      s.valueIndex.toSeq.sortBy(_._1).foreach { case (c, byBucket) =>
        val o = vi.putObject(c)
        byBucket.toSeq.sortBy(_._1).foreach { case (b, bloom) =>
          o.put(b.toString, java.util.Base64.getEncoder.encodeToString(bloom))
        }
      }
    }
    val mans = root.putArray("manifests")
    s.manifests.foreach { m =>
      val o = mans.addObject()
      o.put("path", m.path); o.put("range", m.range); o.put("fileCount", m.fileCount)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** Parse a snapshot JSON; `files` is filled by the caller (from manifests).
    * Reads the legacy inline forms too (pre-manifest `files` array,
    * pre-ledger `epochs` vector) so older table directories still load. */
  private def fromJson(json: String): Snapshot = {
    val n = mapper.readTree(json)
    val ledger = Option(n.get("ledger")) match {
      case Some(led) => EpochLedger(
        watermarks = led.get("watermarks").properties().asScala
          .map(e => e.getKey -> e.getValue.asLong()).toMap,
        recent = led.get("recent").properties().asScala
          .map(e => e.getKey -> e.getValue.elements().asScala.map(_.asLong()).toSet).toMap,
        other = led.get("other").elements().asScala.map(_.asText()).toSet)
      case None => // legacy: plain epoch-id vector
        Option(n.get("epochs")).map(_.elements().asScala.map(_.asText()))
          .getOrElse(Iterator.empty)
          .foldLeft(EpochLedger.empty)(_ add _)
    }
    val legacyFiles = Option(n.get("files"))
      .map(_.elements().asScala.map(fileFromJson).toVector).getOrElse(Vector.empty)
    Snapshot(
      version = n.get("version").asInt(),
      ledger = ledger,
      schemas = n.get("schemas").elements().asScala.map { arr =>
        arr.elements().asScala.map(c =>
          ColDef(c.get("id").asInt(), c.get("name").asText(), c.get("type").asText(),
            Option(c.get("default")).map(_.asText()))).toVector
      }.toVector,
      keyCols = n.get("keyCols").elements().asScala.map(_.asText()).toVector,
      buckets = n.get("buckets").asInt(),
      maxSeq = Option(n.get("maxSeq")).map(_.asLong()).getOrElse(-1L),
      committedAtMs = Option(n.get("committedAtMs")).map(_.asLong()).getOrElse(-1L),
      files = legacyFiles,
      manifests = Option(n.get("manifests")).map(_.elements().asScala.map(m =>
        ManifestRef(m.get("path").asText(), m.get("range").asInt(),
          m.get("fileCount").asInt())).toVector).getOrElse(Vector.empty),
      retiredIds = Option(n.get("retiredIds"))
        .map(_.elements().asScala.map(_.asInt()).toSet).getOrElse(Set.empty),
      pinnedIds = Option(n.get("pinnedIds"))
        .map(_.elements().asScala.map(_.asInt()).toSet).getOrElse(Set.empty),
      indexedCols = Option(n.get("indexedCols"))
        .map(_.elements().asScala.map(_.asText()).toSet).getOrElse(Set.empty),
      valueIndex = Option(n.get("valueIndex")).map { vi =>
        vi.properties().asScala.map { e =>
          e.getKey -> e.getValue.properties().asScala.map { be =>
            be.getKey.toInt -> java.util.Base64.getDecoder.decode(be.getValue.asText())
          }.toMap
        }.toMap
      }.getOrElse(Map.empty))
  }

  // ------------------------------------------------------------- manifests

  private def writeManifest(dir: String, range: Int, files: Vector[DataFile]): ManifestRef = {
    val arr = mapper.createArrayNode()
    files.foreach(fileToJson(arr, _))
    val name = s"m-r$range-${java.util.UUID.randomUUID().toString.take(12)}.json"
    val p = metaDir(dir).resolve(name)
    Files.write(p, mapper.writeValueAsString(arr).getBytes("UTF-8"))
    ManifestRef(p.toString, range, files.size)
  }

  private def readManifest(ref: ManifestRef): Vector[DataFile] = {
    val n = mapper.readTree(new String(Files.readAllBytes(Paths.get(ref.path)), "UTF-8"))
    n.elements().asScala.map(fileFromJson).toVector
  }

  private def loadFiles(s: Snapshot): Snapshot =
    if (s.manifests.isEmpty) s // legacy snapshot: files were inline
    else s.copy(files = s.manifests.flatMap(readManifest))

  // ---------------------------------------------------------------- commits

  private[lake] def metaDir(dir: String): Path = Paths.get(dir, "meta")
  private[lake] def snapPath(dir: String, v: Int): Path = metaDir(dir).resolve(f"v$v%05d.json")

  def create(dir: String, schema: Vector[ColDef], keyCols: Vector[String], buckets: Int): Snapshot = {
    Files.createDirectories(metaDir(dir))
    Files.createDirectories(Paths.get(dir, "data"))
    val snap = Snapshot(0, EpochLedger.empty, Vector(schema), keyCols, buckets, Vector.empty)
    writeAtomic(dir, snap)
    snap
  }

  def exists(dir: String): Boolean =
    Files.isDirectory(metaDir(dir)) && latestVersion(dir).isDefined

  /** SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE` / an Iceberg
    * snapshot-ref fork): a NEW, independently-writable table whose v0
    * references the source snapshot's live data files by HARD LINK — zero
    * bytes copied, O(files) metadata, any snapshot version as the fork
    * point. Safe because the engine never mutates a data file's bytes in
    * place: merges/compactions/rebuckets write NEW files, and even purge's
    * in-place rewrite goes through an atomic rename that replaces the
    * DIRECTORY ENTRY, leaving other links' inodes untouched (the q169
    * export-pin property). Consequences, both deliberate:
    *   - source vacuum/expire never breaks the clone (links pin the bytes);
    *   - PURGE DOES NOT CROSS THE FORK — erasing a key from the source
    *     leaves the clone's copy alive, exactly like exports (q169); the
    *     compliance closure must purge each fork as the table it is.
    * The clone CARRIES the source's epoch ledger, schemas, retired/pinned
    * ids and bloom indexes: replaying the same change log against the
    * clone fences the already-applied epochs and applies only the tail —
    * fork-and-catch-up needs no offset bookkeeping. Version history is NOT
    * carried (the clone's lineage starts at ITS v0); time travel on the
    * clone sees only post-fork versions. */
  def cloneTable(dir: String, target: String, version: Option[Int] = None): Snapshot = {
    val snap = version.map(loadVersion(dir, _)).getOrElse(load(dir))
    require(!exists(target), s"clone target is already a table: $target")
    // STAGE-THEN-ATOMIC-MOVE (the Export publish pattern): every link,
    // manifest and the snapshot JSON land in a hidden sibling dir whose
    // recorded paths already point at `target`; one rename publishes the
    // whole table. A crash mid-clone leaves only an orphaned `.clone-*`
    // staging dir — never a half-readable target.
    val targetPath = Paths.get(target).toAbsolutePath
    Files.createDirectories(targetPath.getParent)
    val stage = Files.createTempDirectory(targetPath.getParent, ".clone-")
    try {
      val stageStr = stage.toString
      Files.createDirectories(metaDir(stageStr))
      val dataDir = stage.resolve("data")
      Files.createDirectories(dataDir)
      val linked = snap.files.sortBy(_.path).zipWithIndex.map { case (f, i) =>
        val name = f"clone-$i%05d-b${f.bucket}${if (f.delta) "-d" else ""}.parquet"
        Files.createLink(dataDir.resolve(name), Paths.get(f.path))
        f.copy(path = targetPath.resolve("data").resolve(name).toString)
      }
      val refs = linked.groupBy(f => snap.rangeOf(f.bucket)).toVector.sortBy(_._1)
        .map { case (r, fs) =>
          val m = writeManifest(stageStr, r, fs)
          m.copy(path = targetPath.resolve("meta")
            .resolve(Paths.get(m.path).getFileName.toString).toString)
        }
      val v0 = snap.copy(version = 0, files = linked, manifests = refs)
      require(writeAtomic(stageStr, v0), s"staging collision at $stage")
      try Files.move(stage, targetPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.DirectoryNotEmptyException =>
          throw new IllegalArgumentException(
            s"clone target is already a table: $target (published concurrently)")
      }
      v0
    } finally org.apache.commons.io.FileUtils.deleteQuietly(stage.toFile)
  }

  private def latestVersion(dir: String): Option[Int] = {
    val md = metaDir(dir)
    if (!Files.isDirectory(md)) return None
    val vs = Files.list(md).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") => s.drop(1).dropRight(5).toInt }
      .toVector
    if (vs.isEmpty) None else Some(vs.max)
  }

  def load(dir: String): Snapshot = {
    val v = latestVersion(dir).getOrElse(
      throw new IllegalStateException(s"no IceLite table at $dir"))
    loadVersion(dir, v)
  }

  /** Snapshot history (time travel / resume ledger). */
  def history(dir: String): Vector[Int] = {
    val md = metaDir(dir)
    Files.list(md).iterator().asScala.map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") => s.drop(1).dropRight(5).toInt }
      .toVector.sorted
  }

  def loadVersion(dir: String, v: Int): Snapshot =
    loadFiles(fromJson(new String(Files.readAllBytes(snapPath(dir, v)), "UTF-8")))

  /** Snapshot WITHOUT materializing its file list from manifests — for
    * metadata-only surfaces ([[MetaTables.history]]) that answer from the
    * snapshot JSON alone; `files` is empty, `manifests` carries counts. */
  def loadVersionMeta(dir: String, v: Int): Snapshot =
    fromJson(new String(Files.readAllBytes(snapPath(dir, v)), "UTF-8"))

  /** Commit wall-clock time of a retained version — the stored
    * `committedAtMs`, falling back to the snapshot file's mtime for legacy
    * snapshots that predate the field. */
  def commitTimeOf(dir: String, v: Int): Long = {
    val stored = loadVersionMeta(dir, v).committedAtMs
    if (stored >= 0) stored
    else Files.getLastModifiedTime(snapPath(dir, v)).toMillis
  }

  /** AS-OF-TIMESTAMP time travel: the newest retained snapshot committed
    * at or before `tsMs`, files materialized. Commit times are monotone
    * per table (one snapshot lineage; versions commit in order — even a
    * rollback re-commits the old state under a NEW version and time), so
    * the newest-at-or-below cut is well-defined. Throws when the timestamp
    * predates every retained snapshot (time travel there ended with
    * `expire`, or the table didn't exist yet). */
  def loadAsOf(dir: String, tsMs: Long): Snapshot = {
    // monotone commit times → scan newest-to-oldest and stop at the first
    // hit: 1+k small JSON parses instead of every retained version's
    // (value-index blobs included) on each cut resolution
    val hit = history(dir).reverseIterator.find(v => commitTimeOf(dir, v) <= tsMs)
    require(hit.nonEmpty,
      s"no retained snapshot of $dir at or before $tsMs (expired, or pre-create)")
    loadVersion(dir, hit.get)
  }

  // ------------------------------------------------------------------ tags

  /** TAGS: named immutable references to snapshot versions (audit cuts,
    * "the snapshot we trained model X on", a pre-migration point). A tag is
    * a retention ROOT: [[Compaction.expire]] keeps every tagged version no
    * matter how far past `keepLast` it falls, and vacuum derives file
    * liveness from retained snapshot JSONs — so a tag transitively pins the
    * exact files of its version while everything untagged ages out. Stored
    * as one tiny `meta/tag-<name>.json` each; created with the same
    * hard-link create-if-absent as snapshot commits, so two racing
    * `tag(...)` calls of the same name resolve to exactly one winner
    * (re-pointing a tag = removeTag + tag, deliberately two steps). */
  def tag(dir: String, name: String, version: Int): Unit = {
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"tag name must be [A-Za-z0-9._-]+: '$name'")
    require(Files.exists(snapPath(dir, version)),
      s"tag '$name': version $version is not a retained snapshot of $dir")
    val target = tagPath(dir, name)
    val tmp = Files.createTempFile(metaDir(dir), s".tag-$name", ".tmp")
    Files.write(tmp, s"""{"name":"$name","version":$version}""".getBytes("UTF-8"))
    try Files.createLink(target, tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        val existing = tagVersion(dir, name)
        if (!existing.contains(version))
          throw new IllegalStateException(
            s"tag '$name' already points at version ${existing.orNull}; removeTag first")
    } finally Files.deleteIfExists(tmp)
  }

  def removeTag(dir: String, name: String): Boolean =
    Files.deleteIfExists(tagPath(dir, name))

  /** All tags of a table, name → version. */
  def tags(dir: String): Map[String, Int] = {
    val md = metaDir(dir)
    if (!Files.isDirectory(md)) return Map.empty
    Files.list(md).iterator().asScala
      .filter(_.getFileName.toString.matches("tag-.*\\.json"))
      .flatMap { p =>
        val node = mapper.readTree(new String(Files.readAllBytes(p), "UTF-8"))
        Option(node.get("name")).zip(Option(node.get("version")))
          .map { case (n, v) => n.asText -> v.asInt }
      }.toMap
  }

  def tagVersion(dir: String, name: String): Option[Int] = tags(dir).get(name)

  /** Time travel by tag — the snapshot the tag pins, files materialized. */
  def loadTag(dir: String, name: String): Snapshot = {
    val v = tagVersion(dir, name).getOrElse(
      throw new IllegalStateException(s"no tag '$name' on $dir"))
    loadVersion(dir, v)
  }

  private def tagPath(dir: String, name: String): Path =
    metaDir(dir).resolve(s"tag-$name.json")

  /** Atomic create-if-absent: write a tmp file, then hard-LINK it to the
    * snapshot name — link(2) fails atomically with EEXIST when the target
    * exists, so of two racing committers of the same version exactly one
    * wins. (A plain rename/ATOMIC_MOVE silently REPLACES on POSIX — that
    * would be last-writer-wins, i.e. a lost update.) On an object store
    * this is a conditional PUT / catalog compare-and-swap. */
  private def writeAtomic(dir: String, snap: Snapshot): Boolean = {
    val tmp = Files.createTempFile(metaDir(dir), ".tmp-snap", ".json")
    try {
      Files.write(tmp, toJson(snap.copy(committedAtMs = System.currentTimeMillis()))
        .getBytes("UTF-8"))
      Files.createLink(snapPath(dir, snap.version), tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  /** What one epoch changes: which buckets' files it replaces, the files it
    * adds (their `schemaVersion` is assigned at commit time against whatever
    * snapshot the commit lands on), and the schema those files conform to. */
  final case class CommitDelta(
      epochId: String,
      touched: Set[Int],
      addFiles: Vector[DataFile],
      dataSchema: Vector[ColDef],
      /** highest __seq in this epoch's batch (-1 = none/unknown). */
      maxSeq: Long = -1L,
      /** field ids to RETIRE with this commit (dropColumn). */
      retireIds: Set[Int] = Set.empty,
      /** field ids whose current name becomes DDL-authoritative with this
        * commit (renameColumn) — descriptor-driven evolution stops renaming
        * them. */
      pinIds: Set[Int] = Set.empty,
      /** columns becoming bloom-indexed with this commit (addBloomIndex). */
      indexCols: Set[String] = Set.empty,
      /** columns whose bloom index is removed (dropColumn of an indexed
        * column; renameColumn re-keys via unindex(from) + index(to)). */
      unindexCols: Set[String] = Set.empty,
      /** per-bucket value blooms OR-merged into the index (append epochs:
        * the batch's values join the bucket's accumulated set). */
      valueBloomOr: Map[String, Map[Int, Array[Byte]]] = Map.empty,
      /** per-bucket value blooms REPLACING the index entry (full-state
        * rewrites: compaction/backfill shed deleted values). */
      valueBloomReplace: Map[String, Map[Int, Array[Byte]]] = Map.empty,
      /** STRICT base: refuse to rebase — throw if the table advanced past
        * this version. For commits whose PAYLOAD was derived from the base
        * snapshot and silently goes stale under it: a DML batch's
        * maxSeq+1 sequence (two concurrent DMLs from one head would tie),
        * an index backfill's blooms (a concurrent merge's values would be
        * missing forever). None = normal rebase rules. */
      requireBaseVersion: Option[Int] = None)

  /** Commit `delta` on top of `base`. Returns the committed snapshot, or the
    * CURRENT snapshot unchanged if the epoch was already committed by someone
    * else (idempotent replay — the exactly-once fence, SURVEY.md §2.3).
    *
    * Concurrency contract: if another committer landed since `base` was read,
    * the delta is REBASED onto the current snapshot — its file replacements
    * and epoch entry are re-applied so the intervening commit's data files
    * and epochs are preserved (no lost update). Rebase is only legal when the
    * intervening commits are disjoint:
    *  - if they replaced files in any of OUR touched (COW) buckets, our
    *    rewritten bucket files were derived from stale data;
    *  - if they REMOVED files in any bucket we delta-APPEND to (e.g. a
    *    concurrent compaction purged that bucket's tombstones), our delta's
    *    late lower-seq upserts could resurrect deleted keys at read time
    *    (intervening delta-appends to the same bucket are fine — LWW
    *    resolution is order-independent);
    *  - if they evolved the schema away from ours, our files don't conform.
    * In each case the commit FAILS LOUDLY with
    * ConcurrentModificationException and the caller must re-run the merge
    * (Iceberg's validation-then-retry protocol). */
  def commit(dir: String, base: Snapshot, delta: CommitDelta): Snapshot = {
    val appendBuckets = delta.addFiles.iterator.filter(_.delta).map(_.bucket).toSet -- delta.touched
    var cur = base
    var guard = 0
    while (guard < 10000) {
      if (cur.hasEpoch(delta.epochId)) return cur // fenced: duplicate epoch is a no-op
      delta.requireBaseVersion.foreach { v =>
        if (cur.version != v)
          throw new java.util.ConcurrentModificationException(
            s"epoch ${delta.epochId}: snapshot advanced past required base " +
              s"v$v (now v${cur.version}); re-derive the batch against the " +
              "current snapshot")
      }
      if (cur.version != base.version) {
        // a concurrent REBUCKET invalidates everything: our files' bucket
        // ids and row hashes are mod the OLD bucket count — rebasing them
        // into the new layout would make them invisible to lookups and
        // corrupt later merges
        if (cur.buckets != base.buckets)
          throw new java.util.ConcurrentModificationException(
            s"epoch ${delta.epochId}: concurrent rebucket (${base.buckets} -> ${cur.buckets}); re-run the merge against the current snapshot")
        // identity by PATH (files are immutable — replaced, never mutated
        // in place): case-class equality would be wrong here, because
        // DataFile.bloom is an Array whose equals is reference identity,
        // so two parses of the SAME manifest never compare equal and every
        // disjoint-bucket rebase over bloom-bearing files would throw
        val oursAtBase = base.files.filter(f => delta.touched(f.bucket)).map(_.path).toSet
        val oursAtCur = cur.files.filter(f => delta.touched(f.bucket)).map(_.path).toSet
        if (oursAtBase != oursAtCur)
          throw new java.util.ConcurrentModificationException(
            s"epoch ${delta.epochId}: concurrent commit replaced files in touched buckets; re-run the merge against the current snapshot")
        val appendAtBase = base.files.filter(f => appendBuckets(f.bucket)).map(_.path).toSet
        val appendAtCur = cur.files.filter(f => appendBuckets(f.bucket)).map(_.path).toSet
        if (!appendAtBase.subsetOf(appendAtCur))
          throw new java.util.ConcurrentModificationException(
            s"epoch ${delta.epochId}: concurrent commit replaced files in delta-append buckets (e.g. a compaction purged tombstones this delta's LWW depends on); re-run the merge against the current snapshot")
        if (cur.schemas != base.schemas && cur.currentSchema != delta.dataSchema)
          throw new java.util.ConcurrentModificationException(
            s"epoch ${delta.epochId}: concurrent schema evolution; re-run the merge against the current snapshot")
      }
      val schemas2 =
        if (delta.dataSchema == cur.currentSchema) cur.schemas else cur.schemas :+ delta.dataSchema
      val sv = schemas2.length - 1
      val adds = delta.addFiles.map(_.copy(schemaVersion = sv))
      val newFiles = cur.files.filterNot(f => delta.touched(f.bucket)) ++ adds

      // ---- manifest plan: touch only the ranges we add to or replace in.
      val addsByRange = adds.groupBy(f => cur.rangeOf(f.bucket))
      val touchedRanges = delta.touched.map(cur.rangeOf)
      val curByRange = cur.manifests.groupBy(_.range)
      // LEGACY (pre-manifest) snapshot: its live files were INLINE in the
      // snapshot JSON, a form toJson no longer writes — migrate every inline
      // file into manifests as part of this commit, or the new snapshot
      // would reference only the delta's manifests and the next load() would
      // silently drop all pre-existing data.
      val legacyByRange: Map[Int, Vector[DataFile]] =
        if (cur.manifests.isEmpty && cur.files.nonEmpty)
          cur.files.groupBy(f => cur.rangeOf(f.bucket))
        else Map.empty
      val affected = addsByRange.keySet ++ touchedRanges ++ legacyByRange.keySet
      val keptRefs = cur.manifests.filterNot(m => affected(m.range))
      val newRefs = affected.toVector.sorted.flatMap { r =>
        val oldRefs = curByRange.getOrElse(r, Vector.empty)
        val rangeAdds = addsByRange.getOrElse(r, Vector.empty)
        if (touchedRanges(r) || legacyByRange.contains(r) || oldRefs.size + 1 > manifestCompactAt) {
          // rewrite/merge the whole range: survivors + adds in ONE manifest
          val survivors = (oldRefs.flatMap(readManifest) ++ legacyByRange.getOrElse(r, Vector.empty))
            .filterNot(f => delta.touched(f.bucket))
          val all = survivors ++ rangeAdds
          if (all.isEmpty) Vector.empty else Vector(writeManifest(dir, r, all))
        } else {
          // pure append: keep the range's manifests, add one for the new files
          oldRefs ++ (if (rangeAdds.isEmpty) Vector.empty
                      else Vector(writeManifest(dir, r, rangeAdds)))
        }
      }

      val attempt = cur.copy(
        version = cur.version + 1,
        ledger = cur.ledger.add(delta.epochId),
        schemas = schemas2,
        files = newFiles,
        manifests = keptRefs ++ newRefs,
        maxSeq = math.max(cur.maxSeq, delta.maxSeq),
        retiredIds = cur.retiredIds ++ delta.retireIds,
        pinnedIds = cur.pinnedIds ++ delta.pinIds,
        indexedCols = (cur.indexedCols -- delta.unindexCols) ++ delta.indexCols,
        valueIndex = mergeValueIndex(cur.valueIndex -- delta.unindexCols,
          delta.valueBloomOr, delta.valueBloomReplace))
      if (writeAtomic(dir, attempt)) return attempt
      // lost the race — re-read, re-fence, rebase or fail. Manifests written
      // for the failed attempt become orphans; vacuum() sweeps them.
      cur = load(dir)
      guard += 1
    }
    throw new IllegalStateException("commit retry limit exceeded")
  }

  /** OR-merge then REPLACE per-bucket value blooms into `cur` — OR is
    * commutative (a commit retry re-ORing the same batch is idempotent);
    * replace wins where both are present for the same (col, bucket). */
  private def mergeValueIndex(
      cur: Map[String, Map[Int, Array[Byte]]],
      or: Map[String, Map[Int, Array[Byte]]],
      replace: Map[String, Map[Int, Array[Byte]]]): Map[String, Map[Int, Array[Byte]]] = {
    val cols = cur.keySet ++ or.keySet ++ replace.keySet
    cols.iterator.map { c =>
      val base = cur.getOrElse(c, Map.empty)
      val ored = or.getOrElse(c, Map.empty).foldLeft(base) { case (acc, (b, bloom)) =>
        acc.updated(b, acc.get(b).map(KeyBloom.orMerge(_, bloom)).getOrElse(bloom))
      }
      c -> (ored ++ replace.getOrElse(c, Map.empty))
    }.toMap
  }

  /** Commit a full-table REBUCKET: replaces every file and changes the
    * bucket count in one atomic snapshot. No rebase is possible (the
    * rewrite derives from the whole table), so any intervening commit
    * conflicts loudly; duplicate epochs fence as usual. */
  def commitRebucket(dir: String, base: Snapshot, epochId: String,
      newBuckets: Int, newFiles: Vector[DataFile],
      /** value blooms recomputed under the NEW bucket numbering — the old
        * index is meaningless after a rebucket. */
      newValueIndex: Map[String, Map[Int, Array[Byte]]] = Map.empty): Snapshot = {
    val cur = load(dir)
    if (cur.hasEpoch(epochId)) return cur
    if (cur.version != base.version)
      throw new java.util.ConcurrentModificationException(
        s"epoch $epochId: concurrent commit during rebucket; re-run against the current snapshot")
    val attempt0 = cur.copy(
      version = cur.version + 1,
      ledger = cur.ledger.add(epochId),
      buckets = newBuckets,
      files = newFiles,
      manifests = Vector.empty,
      maxSeq = cur.maxSeq,
      valueIndex = newValueIndex)
    val refs = newFiles.groupBy(f => attempt0.rangeOf(f.bucket)).toVector.sortBy(_._1)
      .map { case (r, fs) => writeManifest(dir, r, fs) }
    val attempt = attempt0.copy(manifests = refs)
    if (!writeAtomic(dir, attempt))
      throw new java.util.ConcurrentModificationException(
        s"epoch $epochId: lost the commit race during rebucket; re-run against the current snapshot")
    attempt
  }

  /** Metadata commit for files rewritten IN PLACE (the purge path: same
    * paths, fewer rows): bumps the version — so (name, version)-keyed
    * consumers like [[ResultCache]] can never serve pre-rewrite results —
    * and INVALIDATES the rewritten files' exactness stats (row counts,
    * per-column bounds, sort bounds → unknown), because the dropped rows
    * may have carried the recorded extremes and [[MetaAgg]]'s contract is
    * exact-or-None, never wrong. Key bounds and blooms are KEPT: both are
    * one-sided (a purged key still "may be contained" — a false positive,
    * never a false negative). Strict CAS against `base`: an in-place
    * rewrite cannot rebase (a concurrent compaction may have replaced the
    * very paths it rewrote), so any intervening commit fails loudly and
    * the purge must re-run against the fresh snapshot. */
  def commitInPlaceRewrite(dir: String, base: Snapshot, epochId: String,
      paths: Set[String]): Snapshot = {
    val cur = load(dir)
    if (cur.hasEpoch(epochId)) return cur
    if (cur.version != base.version)
      throw new java.util.ConcurrentModificationException(
        s"epoch $epochId: concurrent commit during an in-place rewrite; " +
          "re-run the purge against the current snapshot")
    val newFiles = cur.files.map(f =>
      if (paths(f.path))
        f.copy(rows = -1L, delRows = -1L, colBounds = Map.empty,
          sortCol = None, sortMin = None, sortMax = None)
      else f)
    // legacy (pre-manifest) snapshot: every inline file must migrate into
    // manifests with this commit, or the new snapshot would drop them
    val affected =
      if (cur.manifests.isEmpty && cur.files.nonEmpty)
        newFiles.map(f => cur.rangeOf(f.bucket)).toSet
      else cur.files.filter(f => paths(f.path)).map(f => cur.rangeOf(f.bucket)).toSet
    val keptRefs = cur.manifests.filterNot(m => affected(m.range))
    val newRefs = affected.toVector.sorted.flatMap { r =>
      val fs = newFiles.filter(f => cur.rangeOf(f.bucket) == r)
      if (fs.isEmpty) Vector.empty else Vector(writeManifest(dir, r, fs))
    }
    val attempt = cur.copy(
      version = cur.version + 1,
      ledger = cur.ledger.add(epochId),
      files = newFiles,
      manifests = keptRefs ++ newRefs)
    if (!writeAtomic(dir, attempt))
      throw new java.util.ConcurrentModificationException(
        s"epoch $epochId: lost the commit race during an in-place rewrite; " +
          "re-run the purge against the current snapshot")
    attempt
  }

  /** Schema-only DDL commit: DROP a data column (Iceberg drop-column
    * semantics). The field id is RETIRED: old files still carry the bytes
    * but reads no longer project them, and a later batch whose (older)
    * writer descriptor still carries the field cannot silently resurrect
    * it through Merge.evolve — re-adding the column requires a NEW field
    * id. Epoch-fenced and rebased like any commit; key and hidden columns
    * cannot be dropped. */
  def dropColumn(dir: String, epochId: String, colName: String): Snapshot = {
    val base = load(dir)
    if (base.hasEpoch(epochId)) return base
    val cur = base.currentSchema
    val target = cur.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(s"no such column: $colName"))
    require(!base.keyCols.contains(colName), s"cannot drop key column $colName")
    require(!target.hidden, s"cannot drop hidden column $colName")
    commit(dir, base, CommitDelta(epochId, Set.empty, Vector.empty,
      cur.filterNot(_.name == colName), retireIds = Set(target.id),
      unindexCols = Set(colName))) // a dropped column's bloom index goes too
  }

  /** ROLLBACK: make the head state equal an earlier RETAINED snapshot,
    * committed as a NEW version — history is never rewritten, so time
    * travel to the rolled-back versions keeps working until `expire`, and
    * an audit trail of the bad commits survives. The restored state
    * includes the epoch LEDGER as of `toVersion`: change epochs undone by
    * the rollback are un-happened, so replaying their log legitimately
    * RE-APPLIES them (the remediation loop after a bad publish: rollback,
    * fix the source, replay). Schema, bucket count, indexes and maxSeq all
    * restore with it. A rollback racing any concurrent commit loses
    * atomically (same link(2) create-if-absent as every commit) and must
    * be re-evaluated against the new head. */
  def rollback(dir: String, toVersion: Int): Snapshot = {
    val head = load(dir)
    require(toVersion <= head.version,
      s"cannot roll forward: head v${head.version}, asked v$toVersion")
    require(history(dir).contains(toVersion),
      s"v$toVersion is not retained (expired?) — rollback needs its snapshot")
    val target = loadVersion(dir, toVersion)
    val attempt = target.copy(version = head.version + 1)
    if (!writeAtomic(dir, attempt))
      throw new java.util.ConcurrentModificationException(
        s"rollback to v$toVersion lost a race at v${head.version + 1}; re-check the head")
    attempt
  }

  /** Schema-only DDL commit: RENAME a data column (Iceberg rename
    * semantics — metadata-only, no file rewrite; reads resolve by field
    * id, so files written under the old name keep serving). The field id
    * is PINNED: a later batch whose older writer descriptor still carries
    * the pre-rename name cannot rename the column back through
    * Merge.evolve — but its values still land, because batch
    * normalization matches columns by field id, not name. Key columns
    * cannot be renamed (the key list, bucket derivation, and MERGE key
    * resolution are name-addressed); neither can hidden CDC columns. */
  def renameColumn(dir: String, epochId: String, from: String, to: String): Snapshot = {
    val base = load(dir)
    if (base.hasEpoch(epochId)) return base
    val cur = base.currentSchema
    val target = cur.find(_.name == from).getOrElse(
      throw new IllegalArgumentException(s"no such column: $from"))
    require(!base.keyCols.contains(from), s"cannot rename key column $from")
    require(!target.hidden, s"cannot rename hidden column $from")
    require(!cur.exists(_.name == to), s"column $to already exists")
    require(to.nonEmpty && !to.startsWith("__"), s"invalid column name: $to")
    // same stale-bounds hazard as addColumn: per-file bounds are keyed by
    // NAME, so a live file carrying bounds for an EARLIER column once
    // called `to` would range-prune (and MetaAgg-serve) the renamed column
    // with the dead column's extremes
    val staleTo = base.files.filter(f =>
      f.colBounds.contains(to) || f.sortCol.contains(to))
    require(staleTo.isEmpty,
      s"cannot rename to '$to': ${staleTo.size} live file(s) still carry " +
        "bounds recorded for a previous column of that name — compact the " +
        "table first, or pick a fresh name")
    // an indexed column keeps its index under the new name (blooms hash
    // values, not names — the map just re-keys)
    val (idxAdd, idxRm, idxRep) =
      if (base.indexedCols(from))
        (Set(to), Set(from), Map(to -> base.valueIndex.getOrElse(from, Map.empty)))
      else (Set.empty[String], Set.empty[String],
        Map.empty[String, Map[Int, Array[Byte]]])
    commit(dir, base, CommitDelta(epochId, Set.empty, Vector.empty,
      cur.map(c => if (c.id == target.id) c.copy(name = to) else c),
      pinIds = Set(target.id),
      indexCols = idxAdd, unindexCols = idxRm, valueBloomReplace = idxRep))
  }

  /** Schema-only DDL commit: ADD a data column with an optional WRITE
    * DEFAULT — the fourth cell of the evolution matrix (add/rename/widen/
    * drop). Metadata-only: no file is touched. Files written before the
    * column read the default instead of null, and merge batches that lack
    * the column (older writer descriptors) are FILLED with it at write
    * time, so the value survives compaction rewrites deterministically
    * (see ColDef.default). The field id is pinned: a writer descriptor
    * later carrying the same id under a different name cannot rename the
    * DDL'd column. Explicit NULL writes are preserved — the default is an
    * absence rule, not a read-time coalesce. */
  def addColumn(dir: String, epochId: String, name: String, dataType: String,
      fieldId: Int, default: Option[String] = None): Snapshot = {
    val base = load(dir)
    if (base.hasEpoch(epochId)) return base
    val cur = base.currentSchema
    require(fieldId > 0, s"field id must be positive, got $fieldId")
    require(!cur.exists(_.name == name), s"column $name already exists")
    require(!cur.exists(_.id == fieldId), s"field id $fieldId is already in use")
    require(!base.retiredIds(fieldId),
      s"field id $fieldId was retired by dropColumn; re-adding takes a NEW id")
    require(name.nonEmpty && !name.startsWith("__"), s"invalid column name: $name")
    // per-file bounds (colBounds / sortCol) are keyed by NAME: if a live
    // file still carries bounds recorded for a PREVIOUS column of this
    // name (dropped, or renamed away), a range read on the NEW column
    // would prune with the OLD column's extremes — and since pre-column
    // files serve the write default, a file could be skipped while every
    // one of its rows matches (silently missing rows), and MetaAgg would
    // present the dead column's extremes as the new column's exact
    // min/max. Refuse until a compaction rewrites those files (its bounds
    // are measured from the written data, which has no such column).
    val staleBounds = base.files.filter(f =>
      f.colBounds.contains(name) || f.sortCol.contains(name))
    require(staleBounds.isEmpty,
      s"cannot add column '$name': ${staleBounds.size} live file(s) still " +
        s"carry bounds recorded for a previous column of that name " +
        "(dropped or renamed) — compact the table first, or pick a fresh name")
    val cd = ColDef(fieldId, name, dataType, default)
    // the default literal must cast cleanly to the declared type — a typo'd
    // default silently becoming NULL (or throwing at merge time under ANSI)
    // would defeat the whole contract; TRY-mode eval maps failure to null
    default.foreach { d =>
      import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
      val v = try Cast(Literal.create(d, org.apache.spark.sql.types.StringType),
        cd.sparkType, Some("UTC"), EvalMode.TRY).eval()
      catch { case _: Exception => null }
      require(v != null, s"default '$d' does not cast to $dataType")
    }
    commit(dir, base, CommitDelta(epochId, Set.empty, Vector.empty,
      cur :+ cd, pinIds = Set(fieldId)))
  }

  /** CREATE INDEX: add a per-bucket value-bloom index on a non-key data
    * column, BACKFILLED from the current resolved state in one aggregate
    * grouped by bucket ([[KeyBloom.valueBloom]]). Every later
    * commit keeps the index fresh: append epochs OR their batch values in,
    * compaction/rebucket replace from the rewritten state. [[readWhere]]
    * then prunes whole buckets for equality predicates — at 10^5 buckets
    * that turns a full scan for a rare value into a few-bucket read.
    * Bucket granularity is what keeps it SOUND under merge-on-read (see
    * Snapshot.indexedCols). */
  def addBloomIndex(spark: SparkSession, dir: String, epochId: String,
      colName: String): Snapshot = {
    import org.apache.spark.sql.types._
    val base = load(dir)
    if (base.hasEpoch(epochId)) return base
    val target = base.currentSchema.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(s"no such column: $colName"))
    require(!target.hidden, s"cannot index hidden column $colName")
    require(Seq(StringType, LongType, IntegerType, ShortType, BooleanType)
        .contains(target.sparkType),
      s"bloom index needs a host-hashable type, got ${target.sparkType} for $colName")
    val built = read(spark, base)
      .groupBy(bucketExpr(base.keyCols, base.buckets).as("__b"))
      .agg(KeyBloom.valueBloom(col(colName)))
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
    // buckets with NO live rows get an explicit empty bloom (provable
    // here: the resolved state has no rows there)
    val full = KeyBloom.withEmptyBuckets(Map(colName -> built), Seq(colName), 0 until base.buckets)
    // the field id is PINNED alongside: a descriptor-driven rename would
    // orphan the index's name key — with the pin, only renameColumn (which
    // re-keys the index) can change it
    // STRICT base: the blooms were built from `base`'s resolved state — a
    // merge committing between the backfill read and this commit would add
    // values the index then lacks FOREVER (readWhere false negatives), and
    // the rebase checks can't see it (touched = ∅, schema unchanged).
    // Refuse instead; the caller re-runs against the fresh snapshot.
    commit(dir, base, CommitDelta(epochId, Set.empty, Vector.empty,
      base.currentSchema, pinIds = Set(target.id), indexCols = Set(colName),
      valueBloomReplace = full,
      requireBaseVersion = Some(base.version)))
  }

  /** Buckets that MAY hold a row whose `colName` equals `value` — all of
    * them when the column isn't indexed or the value's type can't be
    * host-hashed (sound fallback). */
  def bucketsForValue(snap: Snapshot, colName: String, value: Any): Set[Int] = {
    import org.apache.spark.sql.types._
    val all = (0 until snap.buckets).toSet
    if (!snap.indexedCols(colName)) return all
    val colType = snap.currentSchema.find(_.name == colName).map(_.sparkType)
    val v = (colType, value) match {
      case (Some(LongType), n: Number) => n.longValue()
      case (Some(IntegerType), n: Number) => n.intValue()
      case (Some(ShortType), n: Number) => n.shortValue()
      case (_, x) => x
    }
    if (!graft.functions.XxHash64Host.supports(Seq(v))) return all
    val h = graft.functions.XxHash64Host.hashColumns(Seq(v))
    val byBucket = snap.valueIndex.getOrElse(colName, Map.empty)
    all.filter(b => byBucket.get(b).forall(KeyBloom.mayContainFixed(_, h)))
  }

  /** Equality-predicate read through the secondary bloom index: resolves
    * ONLY the surviving buckets (merge-on-read LWW within each), then
    * applies the predicate — same rows as `read(...).filter(col === v)`,
    * a fraction of the scan for selective values. */
  def readWhere(spark: SparkSession, snap: Snapshot, colName: String,
      value: Any): DataFrame = {
    val bs = bucketsForValue(snap, colName, value)
    read(spark, snap, f => bs(f.bucket)).filter(col(colName) === lit(value))
  }

  /** The candidate files for a range predicate `colName ∈ [lo, hi]`:
    * CLUSTERED base files (compaction with `clusterBy`) whose
    * [sortMin, sortMax] misses the range are skipped; delta files and
    * unclustered base files are always kept.
    *
    * STALE-DELTA GUARD: merge-on-read LWW means a skipped base file could
    * hold the NEWEST version of a key whose OLDER, stale version sits in a
    * kept delta INSIDE the range — without the base file the stale row
    * would win resolution and leak through the filter. That requires a
    * delta carrying seqs at or below the base file's maxSeq (a late
    * event), so a base file is only skipped when every delta in its bucket
    * starts strictly above its maxSeq — the common case the moment after
    * any clustering compaction, and permanently for seq-monotone feeds. */
  def rangeFiles(snap: Snapshot, colName: String, lo: Any, hi: Any): Vector[DataFile] =
    rangeFilesMulti(snap, Seq((colName, lo, hi)))

  /** Multi-predicate file pruning: a file is skipped when ANY ANDed range
    * predicate misses its recorded bounds — single-column clustering bounds
    * ([sortMin, sortMax]) and z-order per-column bounds (colBounds) both
    * apply. Same stale-delta guard as the single-column path. */
  def rangeFilesMulti(snap: Snapshot, preds: Seq[(String, Any, Any)]): Vector[DataFile] = {
    import org.apache.spark.sql.types._
    def cmpFor(colName: String): (String, String) => Int =
      snap.currentSchema.find(_.name == colName).map(_.sparkType) match {
        case Some(LongType | IntegerType | ShortType) =>
          (a, b) => java.lang.Long.compare(a.toLong, b.toLong)
        case Some(DoubleType | FloatType) =>
          (a, b) => java.lang.Double.compare(a.toDouble, b.toDouble)
        case _ => utf8Compare
      }
    val compiled = preds.map { case (c, lo, hi) =>
      (c, cmpFor(c), String.valueOf(lo), String.valueOf(hi))
    }
    // per-bucket floor of delta seqs; an unknown minSeq poisons the bucket
    // (Long.MinValue → guard never passes → nothing skipped there)
    val deltaFloor: Map[Int, Long] = snap.files.filter(_.delta)
      .groupBy(_.bucket).map { case (b, fs) => b -> fs.map(_.minSeq).min }
    snap.files.filter { f =>
      def boundsOf(c: String): Option[(String, String)] =
        f.colBounds.get(c).orElse(
          if (f.sortCol.contains(c)) f.sortMin.zip(f.sortMax) else None)
      val clusteredMiss = !f.delta && compiled.exists { case (c, cmp, loS, hiS) =>
        boundsOf(c).exists { case (mn, mx) => cmp(mx, loS) < 0 || cmp(mn, hiS) > 0 }
      }
      val guardOk = deltaFloor.getOrElse(f.bucket, Long.MaxValue) > f.maxSeq
      !(clusteredMiss && guardOk)
    }
  }

  /** Range-predicate read over a clustered table: resolves only the
    * surviving files of [[rangeFiles]], then applies the exact predicate —
    * same rows as `read(...).filter(col between lo and hi)`, a fraction of
    * the scan once a clustering compaction has run. */
  def readRange(spark: SparkSession, snap: Snapshot, colName: String,
      lo: Any, hi: Any): DataFrame =
    readRangeMulti(spark, snap, Seq((colName, lo, hi)))

  /** ANDed range predicates over a clustered/z-ordered table: prunes with
    * [[rangeFilesMulti]] then applies every exact predicate — same rows as
    * `read(...).filter(p1 && p2 && …)`, a fraction of the scan once the
    * bounds exist. */
  def readRangeMulti(spark: SparkSession, snap: Snapshot,
      preds: Seq[(String, Any, Any)]): DataFrame = {
    require(preds.nonEmpty, "readRangeMulti needs at least one predicate")
    val keep = rangeFilesMulti(snap, preds).map(_.path).toSet
    preds.foldLeft(read(spark, snap, f => keep(f.path))) {
      case (df, (c, lo, hi)) => df.filter(col(c) >= lit(lo) && col(c) <= lit(hi))
    }
  }

  // ----------------------------------------------------- host-side parquet

  /** The one Hadoop conf every host-side parquet open reads with: the
    * footer stats at commit ([[scanEpochFiles]]) and [[lookupLocal]]'s record
    * reads. A conf parses Hadoop's default XML resources on its first use;
    * `size()` does that here, once. Nothing copies this conf or sets a key on
    * it, so no host-side read parses XML again. Parquet's own shortcuts
    * (a footer open without read options, `ParquetReader.builder`) build a
    * fresh conf per open, so every open goes through [[openFooter]] or
    * [[openRecords]]. Files resolve to the process's cached `file:`
    * FileSystem, `.crc` verified. */
  private lazy val localConf = {
    val c = new org.apache.hadoop.conf.Configuration()
    c.size()
    c
  }

  private def inputFile(p: String): HadoopInputFile =
    HadoopInputFile.fromPath(new HPath(p), localConf)

  /** A footer reader of the parquet file `p`, on [[localConf]]. */
  private def openFooter(p: String): ParquetFileReader =
    ParquetFileReader.open(inputFile(p), HadoopReadOptions.builder(localConf).build())

  /** A record reader of the `projection` columns (a subset of the file's
    * schema) of the parquet file `p`, on [[localConf]]; `filter` skips the
    * row groups whose stats exclude it. */
  private def openRecords(p: String, projection: MessageType,
      filter: Option[FilterPredicate]): ParquetReader[Group] = {
    val b = new ParquetReader.Builder[Group](inputFile(p), new HadoopParquetConfiguration(localConf)) {
      override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport {
        override def init(ctx: InitContext): ReadSupport.ReadContext =
          new ReadSupport.ReadContext(ReadSupport.getSchemaForRead(ctx.getFileSchema, projection))
      }
    }
    filter.fold(b)(f => b.withFilter(FilterCompat.get(f))).build()
  }

  // ------------------------------------------------------------ file stats

  /** List the parquet files of one epoch-output directory
    * (…/__bucket=N[/__origin=K]/part-*.parquet), reading each FOOTER for the
    * row count and the min/max of the key columns and __seq — the stats that
    * power manifest-level pruning. Driver-side, O(new files) per epoch.
    * When `originSplit`, files under __origin=0 are the epoch's batch rows
    * (delta files); __origin=1 are carried base rows (COW output). */
  def scanEpochFiles(epochDir: String, schemaVersion: Int, keyCols: Seq[String]): Vector[(DataFile, Int)] = {
    val root = Paths.get(epochDir)
    if (!Files.isDirectory(root)) return Vector.empty
    val targets = Files.walk(root).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .flatMap { p =>
        val parts = root.relativize(p).iterator().asScala.map(_.toString).toVector
        val bucket = parts.collectFirst { case s if s.startsWith("__bucket=") =>
          s.stripPrefix("__bucket=").toInt }
        val origin = parts.collectFirst { case s if s.startsWith("__origin=") =>
          s.stripPrefix("__origin=").toInt }.getOrElse(0)
        bucket.map(b => (p, b, origin))
      }.toVector
    // footer reads are independent driver-side I/O — parallelize so the
    // commit's serial slice doesn't grow with the epoch's file count
    import scala.collection.parallel.CollectionConverters._
    targets.par.map { case (p, b, origin) =>
      (statsOf(p, b, schemaVersion, keyCols), origin)
    }.toVector
  }

  private[lake] def statsOf(p: Path, bucket: Int,
      schemaVersion: Int, keyCols: Seq[String]): DataFile = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import PrimitiveType.PrimitiveTypeName._
    try {
      val reader = openFooter(p.toString)
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        var rows = 0L
        var minSeq = Long.MaxValue; var maxSeq = Long.MinValue
        val kmin = Array.fill[String](keyCols.size)(null)
        val kmax = Array.fill[String](keyCols.size)(null)
        var statsOk = blocks.nonEmpty
        // general per-column footer bounds (stats-friendly primitives only:
        // untruncatable numerics, plus UTF-8 strings whose footer encoding
        // matches the rangeFilesMulti comparator — timestamps/decimals/
        // nested paths are skipped so a stored bound always compares
        // correctly against a probe value's String.valueOf). A block with
        // MISSING stats poisons the column (unknown ≠ all-null: an all-null
        // block contributes no values and is skipped soundly).
        val bMin = scala.collection.mutable.Map.empty[String, String]
        val bMax = scala.collection.mutable.Map.empty[String, String]
        val bCmp = scala.collection.mutable.Map.empty[String, (String, String) => Int]
        val poisoned = scala.collection.mutable.Set.empty[String]
        // exact tombstone count: from the footer where a row group's
        // boolean stats decide it; the `mixed` groups are counted below
        var delRows = 0L
        val mixed = Array.fill(blocks.size)(false)
        blocks.zipWithIndex.foreach { case (b, bi) =>
          rows += b.getRowCount
          b.getColumns.asScala.foreach { cc =>
            val name = cc.getPath.toDotString
            val st = cc.getStatistics
            def allNull: Boolean = st != null && !st.isEmpty && !st.hasNonNullValue &&
              st.isNumNullsSet && st.getNumNulls == cc.getValueCount
            if (name == DelCol.name) {
              if (allNull) () // null __del = live row (never written, but sound)
              else if (st == null || st.isEmpty || !st.hasNonNullValue) mixed(bi) = true
              else {
                val mx = st.genericGetMax.asInstanceOf[java.lang.Boolean].booleanValue()
                val mn = st.genericGetMin.asInstanceOf[java.lang.Boolean].booleanValue()
                if (!mx) () // whole block live
                else if (mn && st.isNumNullsSet && st.getNumNulls == 0L)
                  delRows += b.getRowCount // whole block tombstones
                else mixed(bi) = true // footer can't count
              }
            } else if (st == null || st.isEmpty || !st.hasNonNullValue) {
              if (name == SeqCol.name || keyCols.contains(name)) statsOk = false
              if (!allNull) { poisoned += name; bMin.remove(name); bMax.remove(name) }
            } else if (name == SeqCol.name) {
              minSeq = math.min(minSeq, st.genericGetMin.asInstanceOf[java.lang.Long])
              maxSeq = math.max(maxSeq, st.genericGetMax.asInstanceOf[java.lang.Long])
            } else {
              val i = keyCols.indexOf(name)
              if (i >= 0) (st.genericGetMin, st.genericGetMax) match {
                // bounds pruning is defined for STRING keys only; any other
                // key type just skips bounds (row counts stay real) —
                // cross-block min/max in parquet's unsigned-UTF-8 order,
                // the same order mayContainKey compares in
                case (lo0: org.apache.parquet.io.api.Binary, hi0: org.apache.parquet.io.api.Binary) =>
                  val lo = lo0.toStringUsingUTF8; val hi = hi0.toStringUsingUTF8
                  if (kmin(i) == null || utf8Compare(lo, kmin(i)) < 0) kmin(i) = lo
                  if (kmax(i) == null || utf8Compare(hi, kmax(i)) > 0) kmax(i) = hi
                case _ => statsOk = false
              } else if (!name.contains('.') && !poisoned(name)) {
                val pt = cc.getPrimitiveType
                val ann = pt.getLogicalTypeAnnotation
                // (encode, compare, isString) by PHYSICAL type; None =
                // ineligible
                val kind: Option[(Any => String, (String, String) => Int, Boolean)] =
                  pt.getPrimitiveTypeName match {
                    case INT32 | INT64
                        if ann == null || ann.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] =>
                      Some((v => v.toString, (a, b) => java.lang.Long.compare(a.toLong, b.toLong), false))
                    case DOUBLE | FLOAT if ann == null =>
                      Some((v => v.toString, (a, b) => java.lang.Double.compare(a.toDouble, b.toDouble), false))
                    case BINARY if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                      Some((v => v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8,
                        utf8Compare, true))
                    case _ => None
                  }
                kind.foreach { case (enc, cmp, isStr) =>
                  // STRING bounds are TRUNCATED before they enter the
                  // manifest (Iceberg's metrics-truncation protocol): at
                  // 10^6 files × long text columns, full footer min/max
                  // would dominate snapshot size. A truncated min (prefix)
                  // stays a sound lower bound; a truncated max is the
                  // prefix with its last safely-incrementable char bumped
                  // (sound upper bound) — or, when no char can be bumped,
                  // the column is poisoned for this file (no bound beats a
                  // wrong bound).
                  val lo0 = enc(st.genericGetMin); val hi0 = enc(st.genericGetMax)
                  val lo = if (isStr) truncateLower(lo0) else lo0
                  val hiOpt = if (isStr) truncateUpper(hi0) else Some(hi0)
                  hiOpt match {
                    case Some(hi) =>
                      bCmp(name) = cmp
                      if (!bMin.contains(name) || cmp(lo, bMin(name)) < 0) bMin(name) = lo
                      if (!bMax.contains(name) || cmp(hi, bMax(name)) > 0) bMax(name) = hi
                    case None =>
                      poisoned += name; bMin.remove(name); bMax.remove(name)
                  }
                }
              }
            }
          }
        }
        val bounds: Map[String, (String, String)] =
          bMin.keysIterator.filterNot(poisoned).map(c => c -> (bMin(c), bMax(c))).toMap
        val del = if (mixed.contains(true)) countDelRows(reader, mixed, delRows) else delRows
        if (statsOk && kmin.forall(_ != null) && minSeq <= maxSeq)
          DataFile(p.toString, bucket, rows, schemaVersion,
            minSeq = minSeq, maxSeq = maxSeq,
            keyMin = kmin.toVector, keyMax = kmax.toVector,
            colBounds = bounds, delRows = del)
        else if (minSeq <= maxSeq)
          DataFile(p.toString, bucket, rows, schemaVersion, minSeq = minSeq, maxSeq = maxSeq,
            colBounds = bounds, delRows = del)
        else DataFile(p.toString, bucket, rows, schemaVersion,
          colBounds = bounds, delRows = del)
      } finally reader.close()
    } catch {
      // unreadable footer → keep the file with unknown stats (never pruned)
      case _: Exception => DataFile(p.toString, bucket, -1L, schemaVersion)
    }
  }

  /** Manifest-stored string bounds are truncated to this many UTF-16
    * chars — long text columns must not bloat 10^6-file snapshots. */
  private[lake] val BoundMaxChars = 32

  /** Sound LOWER bound after truncation: a prefix sorts ≤ the value under
    * UTF-8 byte order. A surrogate pair split at the cut would encode as a
    * replacement char (not a byte-prefix), so a dangling high surrogate is
    * dropped — a shorter prefix, still ≤. */
  private[lake] def truncateLower(s: String): String =
    if (s.length <= BoundMaxChars) s
    else {
      val cut = if (Character.isHighSurrogate(s.charAt(BoundMaxChars - 1)))
        BoundMaxChars - 1 else BoundMaxChars
      s.substring(0, cut)
    }

  /** Sound UPPER bound after truncation: take the prefix and bump its
    * rightmost safely-incrementable char (below the surrogate range, so the
    * result is valid UTF-16 and UTF-8 order = code-point order makes the
    * bumped string > every string sharing the original prefix). None when
    * no char in the prefix can be bumped — the caller records no bound. */
  private[lake] def truncateUpper(s: String): Option[String] =
    if (s.length <= BoundMaxChars) Some(s)
    else {
      var i = BoundMaxChars - 1
      while (i >= 0 && s.charAt(i) >= 0xD700) i -= 1
      if (i < 0) None
      else Some(s.substring(0, i) + (s.charAt(i) + 1).toChar)
    }

  /** `footerDel` plus the exact tombstone count of the `mixed` row groups
    * (those whose boolean footer stats can't decide), read as the one
    * bit-packed `__del` column through `reader`, the footer reader
    * [[statsOf]] holds open: the just-written file is opened once, and its
    * data is still in page cache. Recorded once into the manifest.
    * -1 = unreadable (never meta-served). */
  private def countDelRows(reader: ParquetFileReader, mixed: Array[Boolean], footerDel: Long): Long =
    try {
      val del = new MessageType("spark_schema",
        Types.optional(PrimitiveType.PrimitiveTypeName.BOOLEAN).named(DelCol.name))
      reader.setRequestedSchema(del)
      val io = new ColumnIOFactory().getColumnIO(del)
      mixed.foldLeft(footerDel) { (n, m) =>
        if (!m) { reader.skipNextRowGroup(); n }
        else {
          val pages = reader.readNextRowGroup()
          val rows = io.getRecordReader(pages, new GroupRecordConverter(del))
          n + (0L until pages.getRowCount).count { _ =>
            val g = rows.read()
            g.getFieldRepetitionCount(0) > 0 && g.getBoolean(0, 0)
          }
        }
      }
    } catch { case _: Exception => -1L }

  // ------------------------------------------------------------------ reads

  /** Exactly the data files `paths` (a manifest's), read under `schema`
    * (nullable, as [[structOf]] builds it) and planned from the manifest
    * alone: no glob, no existence-check pool, no listing job, no footer
    * inference. Each file's length and mtime come from one stat — IceLite
    * is local-only, as its link(2) commits are — so a file missing on disk
    * fails here, loudly. Rows are read through the session's `file:`
    * FileSystem (`.crc` verified); `inputFiles` lists the same `file:` URIs
    * `input_file_name()` yields. */
  def readFiles(spark: SparkSession, paths: Seq[String], schema: StructType): DataFrame = {
    val files = paths.map { p =>
      val abs = Paths.get(p).toAbsolutePath
      val a = Files.readAttributes(abs, classOf[BasicFileAttributes])
      // block size: Hadoop's local default (fs.local.block.size); the empty
      // authority gives the `file:///…` form Spark's own path qualifying does
      new FileStatus(a.size, false, 1, 32L << 20, a.lastModifiedTime.toMillis,
        new HPath("file", "", abs.toString))
    }
    spark.baseRelationToDataFrame(HadoopFsRelation(new ManifestFiles(files), new StructType(),
      schema, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** [[readFiles]]' index: its files as one unpartitioned directory. */
  private final class ManifestFiles(files: Seq[FileStatus]) extends FileIndex {
    def rootPaths: Seq[HPath] = files.map(_.getPath)
    def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.toArray))
    def inputFiles: Array[String] = files.map(_.getPath.toUri.toString).toArray
    def refresh(): Unit = ()
    val sizeInBytes: Long = files.map(_.getLen).sum
    def partitionSchema: StructType = new StructType()
    // equal over the same files, as Spark's InMemoryFileIndex is, so cached
    // data and reused exchanges still match across separately built reads
    private val pathSet = rootPaths.toSet
    override def equals(o: Any): Boolean = o match {
      case m: ManifestFiles => pathSet == m.pathSet
      case _ => false
    }
    override def hashCode: Int = pathSet.hashCode
  }

  /** Read a set of data files, mapping each file's stored schema version to
    * the CURRENT schema by field id: renamed columns re-aliased, missing
    * columns null-filled, widened columns cast (Iceberg read semantics).
    *
    * Merge-on-read resolution: buckets carrying delta files are resolved to
    * one row per key (newest __seq wins — one hash shuffle over ONLY those
    * buckets' rows); buckets with base files alone are emitted as-is, no
    * shuffle. Callers that run their own per-key LWW (the MERGE itself)
    * pass `resolve = false` to avoid a redundant exchange. */
  def read(spark: SparkSession, snap: Snapshot, fileFilter: DataFile => Boolean = _ => true,
      includeHidden: Boolean = false, resolve: Boolean = true): DataFrame = {

    val cur = snap.currentSchema
    def mapped(files: Seq[DataFile]): Option[DataFrame] = {
      val groups = files.groupBy(_.schemaVersion)
      groups.toSeq.sortBy(_._1).map { case (sv, fs) =>
        val old = snap.schemas(sv)
        val oldById = old.map(c => c.id -> c).toMap
        val df = readFiles(spark, fs.map(_.path), structOf(old))
        df.select(cur.map { c =>
          oldById.get(c.id) match {
            case Some(oc) => col(oc.name).cast(c.sparkType).as(c.name)
            // files that predate the column read its write default (if any)
            case None => c.absentLit.as(c.name)
          }
        }: _*)
      }.reduceOption(_.unionAll(_))
    }

    val selected = snap.files.filter(fileFilter)
    val morBuckets = selected.filter(_.delta).map(_.bucket).toSet
    val (unresolved, plain) =
      if (resolve) selected.partition(f => morBuckets.contains(f.bucket))
      else (Vector.empty[DataFile], selected)

    val plainDf = mapped(plain)
    val resolvedDf = mapped(unresolved).map { df =>
      // newest version per key wins; ties impossible (seq is a total order
      // per key). Tombstones survive resolution so downstream filtering /
      // compaction sees them.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(snap.keyCols.map(col): _*).orderBy(col(SeqCol.name).desc)
      df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
    }

    val all = (plainDf ++ resolvedDf).reduceOption(_.unionAll(_)).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.currentStruct))
    if (includeHidden) all
    else {
      val hidden = cur.filter(_.hidden).map(_.name)
      val live = if (hidden.contains(DelCol.name))
        all.where(!coalesce(col(DelCol.name), lit(false))) else all
      live.drop(hidden: _*)
    }
  }

  /** Incremental CHANGE FEED between two committed snapshot versions: every
    * change row applied after `fromVersion`, up to and including
    * `toVersion` — upserts plus DELETE tombstones (__del = true), with
    * __seq exposed for downstream ordering. Cost is O(changed files).
    *
    * Structure: every epoch's batch rows land in DELTA files (the merge's
    * origin split keeps them out of inline-COW base files), so the feed is
    * the window's delta files read UNFILTERED — late events with seq below
    * the watermark are genuine changes and are fed (the r2 seq filter
    * silently dropped them). Base files added in the window hold only
    * CARRIED rows; they contribute only when a compaction inside the window
    * collapsed away one of the window's own delta files, and are filtered
    * by the from-snapshot's __seq watermark (files whose footer maxSeq sits
    * at or below it are pruned without being opened). NOTE: if a compaction
    * ran inside the window, intermediate versions of a key collapse to the
    * newest and sub-watermark late events absorbed by it are not
    * re-derivable (net-change semantics); consume between adjacent versions
    * for the exact per-epoch change stream. */
  def changes(spark: SparkSession, dir: String, fromVersion: Int, toVersion: Int): DataFrame = {
    val from = loadVersion(dir, fromVersion)
    val to = loadVersion(dir, toVersion)
    val old = from.files.map(_.path).toSet
    val deltas = read(spark, to, f => !old.contains(f.path) && f.delta,
      includeHidden = true, resolve = false)
    val carried = read(spark, to,
      f => !old.contains(f.path) && !f.delta && f.maxSeq > from.maxSeq,
      includeHidden = true, resolve = false)
      .filter(col(SeqCol.name) > from.maxSeq)
    // replacement semantics make double-delivery impossible: a base file
    // absorbing a delta's rows replaces that delta in the same commit
    deltas.unionByName(carried)
  }

  /** Manifest-stats upper bound on the rows [[changes]] returns for the
    * same window — pure metadata (no Spark job), used to size downstream
    * merge task counts (Merge.mergeEpoch's batchRowsHint). */
  def changesRowEstimate(dir: String, fromVersion: Int, toVersion: Int): Long = {
    val from = loadVersion(dir, fromVersion)
    val to = loadVersion(dir, toVersion)
    val old = from.files.map(_.path).toSet
    to.files.iterator.filter(f => !old.contains(f.path) &&
      (f.delta || f.maxSeq > from.maxSeq)).map(_.rows).sum
  }

  /** [[changes]] on the wall-clock axis: the change rows between the
    * snapshot current at `fromTsMs` and the snapshot current at `toTsMs`
    * (each cut resolved newest-at-or-before, like [[loadAsOf]]). Same
    * net-change caveat as [[changes]] when a compaction ran inside the
    * window. */
  def changesBetween(spark: SparkSession, dir: String,
      fromTsMs: Long, toTsMs: Long): DataFrame = {
    require(fromTsMs <= toTsMs, s"empty window: $fromTsMs > $toTsMs")
    changes(spark, dir,
      fromVersion = loadAsOf(dir, fromTsMs).version,
      toVersion = loadAsOf(dir, toTsMs).version)
  }

  /** The bucket expression — xxhash64 on the key columns mod B. Balanced
    * (not repo-only) so hot repos don't produce hot buckets; hot-KEY skew in
    * the merge join is handled by AQE + salting in Merge. */
  def bucketExpr(keyCols: Seq[String], buckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(buckets.toLong)).cast("int")

  /** Point lookup by full key: computes the key's bucket, reads ONLY that
    * bucket's files (1/B of the table) and, within the bucket, only the
    * files whose footer key bounds may contain the key (manifest stats
    * pruning — a bucket holding a base file + K deltas typically opens
    * far fewer than K+1 files). The key filter is pushed to the parquet
    * scan, so row-group stats prune further. The lake's O(table/B)
    * primary-key get. */
  /** The key's bucket, derived HOST-SIDE when possible (graft's xxhash64
    * port is bit-compatible with Spark's — property-tested), so a point
    * lookup is pure driver-side metadata + one pruned scan. Falls back to a
    * one-row Spark job for key types the host chain doesn't cover. */
  private def bucketOfKey(spark: SparkSession, snap: Snapshot, key: Map[String, Any]): Int = {
    val vals = snap.keyCols.map(key)
    if (graft.functions.XxHash64Host.supports(vals))
      graft.functions.XxHash64Host.bucketOf(vals, snap.buckets)
    else spark.range(1)
      .select(snap.keyCols.map(k => lit(key(k)).as(k)): _*)
      .select(bucketExpr(snap.keyCols, snap.buckets))
      .head().getInt(0)
  }

  def lookup(spark: SparkSession, snap: Snapshot, key: Map[String, Any]): DataFrame = {
    require(snap.keyCols.forall(key.contains), s"need all key cols ${snap.keyCols}")
    // shares lookupFiles' full pruning stack (bucket + bounds + bloom); for
    // key types outside the host-hash surface fall back to a Spark-side
    // bucket derivation with bounds-only pruning
    val pruned =
      if (graft.functions.XxHash64Host.supports(snap.keyCols.map(key))) {
        val ok = lookupFiles(snap, key).map(_.path).toSet
        read(spark, snap, f => ok(f.path))
      } else {
        val bucket = bucketOfKey(spark, snap, key)
        val keyVals = snap.keyCols.map(k => String.valueOf(key(k)))
        read(spark, snap, f => f.bucket == bucket && f.mayContainKey(keyVals))
      }
    snap.keyCols.foldLeft(pruned) { (df, k) =>
      df.filter(col(k) === lit(key(k)))
    }
  }

  /** HOST-SIDE point lookup — the SERVING path: same result as [[lookup]]
    * with NO Spark job at all. Bucket derivation via the host xxhash64,
    * footer key-bounds file pruning ([[lookupFiles]]), then a DRIVER-side
    * parquet record read of each surviving file with a key predicate
    * (parquet filter2 — row groups whose stats exclude the key are never
    * decompressed), LWW fold by __seq with tombstone semantics, and
    * projection to the CURRENT schema by field id (rename/widen/null-fill,
    * the [[read]] evolution semantics). Returns the live row's visible
    * columns, or None (absent or tombstoned).
    *
    * Why it exists at 100 TB: a primary-key GET against a bucketed table
    * touches 1/B of the metadata and a handful of files — launching a
    * distributed job for that costs ~100 ms of scheduling per lookup; this
    * path serves from the snapshot alone: perfbench's `lookup_p50_ms` is
    * about 3 ms on its tail table and 12 ms on its bulk table (4-core
    * host), with every file opened on one loaded conf. Falls back to
    * [[lookup]]-shaped errors only for column types outside the table's
    * CDC surface (see valueOf). Equality with the Spark path is
    * property-tested (LookupLocalSpec) and hard-asserted under the q42
    * gate. */
  def lookupLocal(snap: Snapshot, key: Map[String, Any]): Option[Map[String, Any]] = {
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.spark.sql.types._

    require(snap.keyCols.forall(key.contains), s"need all key cols ${snap.keyCols}")
    val cur = snap.currentSchema
    val visible = cur.filterNot(_.hidden)
    val files = lookupFiles(snap, key)
    if (files.isEmpty) return None

    // one typed value from a Group field, by the OLD column's Spark type
    def valueOf(g: Group, name: String, t: DataType): Any = {
      if (!g.getType.containsField(name) || g.getFieldRepetitionCount(name) == 0) null
      else t match {
        case StringType => g.getString(name, 0)
        case BinaryType => g.getBinary(name, 0).getBytes
        case LongType => g.getLong(name, 0)
        case IntegerType => g.getInteger(name, 0)
        case BooleanType => g.getBoolean(name, 0)
        case DoubleType => g.getDouble(name, 0)
        case FloatType => g.getFloat(name, 0)
        case other => throw new UnsupportedOperationException(
          s"lookupLocal: column $name of type $other — use lookup() (Spark path)")
      }
    }
    def widen(v: Any, from: DataType, to: DataType): Any =
      if (v == null || from == to) v
      else (from, to) match {
        case (IntegerType, LongType) => v.asInstanceOf[Int].toLong
        case (FloatType, DoubleType) => v.asInstanceOf[Float].toDouble
        case _ => v
      }
    // key predicate, typed by the COLUMN's declared type (a caller passing
    // Int for a BIGINT key must still build an INT64 predicate); key
    // types without a mapping are filtered host-side below instead
    def keyPred(name: String, v: Any, t: DataType): Option[FilterPredicate] = (t, v) match {
      case (StringType, s: String) => Some(FilterApi.eq(FilterApi.binaryColumn(name),
        org.apache.parquet.io.api.Binary.fromString(s)))
      case (LongType, n: Number) =>
        Some(FilterApi.eq(FilterApi.longColumn(name), java.lang.Long.valueOf(n.longValue())))
      case (IntegerType, n: Number) =>
        Some(FilterApi.eq(FilterApi.intColumn(name), java.lang.Integer.valueOf(n.intValue())))
      case _ => None
    }

    // the Spark type → parquet type mapping Spark's writer uses for the
    // supported CDC column surface — lets the requested projection be built
    // from the SNAPSHOT's schema without a schema-discovery footer read
    def parquetTypeOf(name: String, t: DataType): org.apache.parquet.schema.Type = {
      import org.apache.parquet.schema.LogicalTypeAnnotation
      import PrimitiveType.PrimitiveTypeName._
      t match {
        case StringType => Types.optional(BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(name)
        case BinaryType => Types.optional(BINARY).named(name)
        case LongType => Types.optional(INT64).named(name)
        case IntegerType => Types.optional(INT32).named(name)
        case BooleanType => Types.optional(BOOLEAN).named(name)
        case DoubleType => Types.optional(DOUBLE).named(name)
        case FloatType => Types.optional(FLOAT).named(name)
        case other => throw new UnsupportedOperationException(
          s"lookupLocal: column $name of type $other — use lookup() (Spark path)")
      }
    }

    var bestSeq = Long.MinValue
    var bestDel = false
    var bestVals: Map[String, Any] = null
    // newest files first (path tiebreak for determinism): once the found
    // winner's __seq strictly exceeds the next file's maxSeq, no remaining
    // row can win the `seq > bestSeq` fold — with blooms pruning the
    // candidate list, the common case opens exactly one file. maxSeq
    // defaults to Long.MaxValue when footer stats were unreadable, so
    // stat-less files are never skipped.
    val ordered = files.sortBy(f => (-f.maxSeq, f.path))
    val it = ordered.iterator
    var done = false
    while (it.hasNext && !done) {
      val f = it.next()
      if (bestVals != null && bestSeq > f.maxSeq) done = true
      else {
      val old = snap.schemas(f.schemaVersion)
      val oldById = old.map(c => c.id -> c).toMap
      val oldByName = old.map(c => c.name -> c).toMap
      // the file's KEY column names (rename-safe: resolve by field id)
      val curByName = cur.map(c => c.name -> c).toMap
      val keyOldNames = snap.keyCols.map(k => oldById(curByName(k).id).name)
      // project only the columns we need, by their names IN THIS FILE
      val needed = (visible.flatMap(c => oldById.get(c.id)) ++
        Seq(SeqCol, DelCol) ++ keyOldNames.map(oldByName)).distinctBy(_.name)
      val preds = snap.keyCols.zip(keyOldNames).flatMap { case (k, on) =>
        keyPred(on, key(k), oldByName(on).sparkType) }
      val reader = openRecords(f.path,
        new MessageType("spark_schema", needed.map(c => parquetTypeOf(c.name, c.sparkType)).asJava),
        preds.reduceOption(FilterApi.and))
      try {
        var g = reader.read()
        while (g != null) {
          // host-side re-check (covers key types without a predicate);
          // the probe value is normalized to the column's type first so an
          // Int probe against a BIGINT key still matches
          val keyOk = snap.keyCols.zip(keyOldNames).forall { case (k, on) =>
            val t = oldByName(on).sparkType
            val probe = (t, key(k)) match {
              case (LongType, n: Number) => n.longValue()
              case (IntegerType, n: Number) => n.intValue()
              case (_, x) => x
            }
            val v = valueOf(g, on, t)
            v != null && v == probe
          }
          if (keyOk) {
            val seq = valueOf(g, SeqCol.name, LongType) match {
              case null => Long.MinValue
              case l: Long => l
            }
            if (seq > bestSeq) {
              bestSeq = seq
              bestDel = valueOf(g, DelCol.name, BooleanType) match {
                case null => false
                case b: Boolean => b
              }
              bestVals = visible.map { c =>
                c.name -> (oldById.get(c.id) match {
                  case Some(oc) => widen(valueOf(g, oc.name, oc.sparkType), oc.sparkType, c.sparkType)
                  case None => null
                })
              }.toMap
            }
          }
          g = reader.read()
        }
      } finally reader.close()
      }
    }
    if (bestVals == null || bestDel) None else Some(bestVals)
  }

  /** Files a point lookup would open for `key` — exposed for tests/tools to
    * audit stats pruning. Bucket-prunes host-side (no Spark job) for
    * supported key types, then intersects with footer key bounds. */
  def lookupFiles(snap: Snapshot, key: Map[String, Any]): Vector[DataFile] = {
    import org.apache.spark.sql.types._
    val keyVals = snap.keyCols.map(k => String.valueOf(key(k)))
    val curByName = snap.currentSchema.map(c => c.name -> c).toMap
    // normalize probe values to the COLUMN's declared type before hashing —
    // Spark hashed the stored column at its type, so an Int probe against a
    // BIGINT key must hash as a Long to land in the right bucket (and hit
    // the right bloom bits)
    val vals = snap.keyCols.map { k =>
      (curByName.get(k).map(_.sparkType), key(k)) match {
        case (Some(LongType), n: Number) => n.longValue()
        case (Some(IntegerType), n: Number) => n.intValue()
        case (Some(ShortType), n: Number) => n.shortValue()
        case (_, v) => v
      }
    }
    val hostHashable = graft.functions.XxHash64Host.supports(vals)
    val byBucket =
      if (hostHashable) {
        val b = graft.functions.XxHash64Host.bucketOf(vals, snap.buckets)
        snap.files.filter(_.bucket == b)
      } else snap.files
    // the bloom element hash is the SAME Spark-canonical column hash the
    // bucket derives from (different probe seeds decorrelate the bits)
    val keyHash =
      if (hostHashable) Some(graft.functions.XxHash64Host.hashColumns(vals)) else None
    byBucket.filter(_.mayContainKeyHash(keyVals, keyHash))
  }
}
