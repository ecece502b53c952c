package graft.lake

import org.apache.spark.sql.{Column, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Per-file key Bloom filters, carried in the snapshot manifest.
  *
  * Why at 100 TB: merge-on-read delta files are HASH-sharded within a
  * bucket (Merge sub-splits), so every delta file's key min/max spans
  * nearly the whole key range — footer bounds prune nothing within a
  * bucket, and a point lookup must OPEN every delta file accumulated
  * since the last compaction (an open is a footer read + page seeks,
  * ~ms each; at deltaThreshold=8 and 64-way sub-splits that is dozens
  * of opens per GET). A key lives in at most one delta file per epoch
  * (and usually in ~1 epoch overall), so a compact membership filter
  * per file turns the candidate set from O(epochs × sub-splits) into
  * O(1) — and answers absent-key probes (the dedup/existence-check
  * workload) with ZERO file opens.
  *
  * Layout: classic Bloom, 10 bits/key, k=7 probes by double hashing of
  * the Spark-canonical xxhash64 of the key columns (seed 42 — the same
  * hash the host-side serving path computes with Spark's own XXH64
  * kernel in [[graft.functions.XxHash64Host]], property-tested against
  * the `xxhash64` expression). Only files with ≤ [[RowCap]] rows get a
  * bloom (64 KiB cap): delta files are O(batch/buckets) rows so they
  * qualify; big compacted base files don't — they hold the bucket's
  * resolved state and must be opened anyway when the key may be live.
  * Absence of a bloom always means "may contain" (old manifests keep
  * working; the field is additive).
  *
  * Build cost: [[describe]] measures a just-written epoch dir in ONE
  * aggregate grouped by file, after the write — key blooms, per-bucket
  * value blooms and cluster bounds together. The blooms are partial
  * aggregates (each task ships one bit array per file it read, never a
  * row), over only the columns they hash. No job runs when nothing needs
  * measuring (e.g. the bulk-replay bench epochs, every file over the
  * cap, no value index).
  */
object KeyBloom {
  /** Files above this row count carry no bloom (bits would exceed
    * [[MaxBits]] at [[BitsPerKey]] — FPR degrades past usefulness and
    * the manifest bloats). */
  val RowCap = 32768
  val BitsPerKey = 10
  /** probes; ~0.9% FPR at 10 bits/key */
  val K = 7
  val MinBits = 1 << 10
  val MaxBits = 1 << 19 // 64 KiB
  // decorrelate probe positions from the bucket assignment (bucket =
  // hashColumns(keys, 42) mod B — the SAME base hash this bloom keys on)
  private val Seed1 = 0x9e3779b97f4a7c15L
  private val Seed2 = 0xc2b2ae3d27d4eb4fL

  /** Spark-side element hash — MUST stay the twin of
    * [[graft.functions.XxHash64Host.hashColumns]] with the default seed. */
  def keyHashColumn(keyCols: Seq[String]): Column = xxhash64(keyCols.map(col): _*)

  private def nextPow2(x: Long): Int = {
    var m = MinBits
    while (m < x && m < MaxBits) m <<= 1
    m
  }

  def sizeBits(rows: Long): Int = nextPow2(rows * BitsPerKey)

  /** Set the `k` probe bits of `keyHash` in the `m`-bit array `bits`. */
  private def set(bits: Array[Byte], m: Int, k: Int, keyHash: Long): Unit = {
    val h1 = graft.functions.XxHash64Host.hashLong(keyHash, Seed1)
    val h2 = graft.functions.XxHash64Host.hashLong(keyHash, Seed2) | 1L
    var j = 0
    while (j < k) {
      val pos = (((h1 + j * h2) % m + m) % m).toInt
      bits(pos >>> 3) = (bits(pos >>> 3) | (1 << (pos & 7))).toByte
      j += 1
    }
  }

  private def probe(bits: Array[Byte], m: Int, k: Int, keyHash: Long): Boolean = {
    val h1 = graft.functions.XxHash64Host.hashLong(keyHash, Seed1)
    val h2 = graft.functions.XxHash64Host.hashLong(keyHash, Seed2) | 1L
    var j = 0
    while (j < k) {
      val pos = (((h1 + j * h2) % m + m) % m).toInt
      if ((bits(pos >>> 3) & (1 << (pos & 7))) == 0) return false
      j += 1
    }
    true
  }

  def build(hashes: Array[Long]): Array[Byte] = {
    val m = sizeBits(hashes.length.toLong)
    val bits = new Array[Byte](m >>> 3)
    hashes.foreach(set(bits, m, K, _))
    bits
  }

  /** No false negatives by construction; `bloom` length is the m/8 the
    * builder chose (m is recovered from it, so the manifest needs no
    * extra sizing field). */
  def mayContain(bloom: Array[Byte], keyHash: Long): Boolean =
    probe(bloom, bloom.length << 3, K, keyHash)

  // ---------------------------------------------------------------------
  // Fixed-size per-BUCKET value blooms (the secondary bloom index).
  //
  // Why bucket granularity: merge-on-read resolution is per key — a file
  // could hold the NEWER version of a key whose older version matches the
  // predicate, so skipping individual files on a non-key predicate would
  // serve stale rows. A bucket holds every version of its keys, so buckets
  // stand or fall together: pruning a bucket whose no file may contain the
  // value is sound. Fixed m lets blooms OR-merge monotonically across
  // commits (append epochs OR the batch in; compaction/rebucket REPLACE
  // from the rewritten state, shedding deleted values).

  /** 2^17 bits = 16 KiB per (column, bucket); ~10k distinct values/bucket
    * at <1% FPR, saturating SOUNDLY (an over-full bloom reads as "may
    * contain", never skips). */
  val FixedBits = 1 << 17
  val KFixed = 5

  def buildFixed(hashes: Iterator[Long]): Array[Byte] = {
    val bits = new Array[Byte](FixedBits >>> 3)
    hashes.foreach(set(bits, FixedBits, KFixed, _))
    bits
  }

  def mayContainFixed(bloom: Array[Byte], keyHash: Long): Boolean =
    probe(bloom, FixedBits, KFixed, keyHash)

  def orMerge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a.length == b.length, "bloom size mismatch")
    val out = new Array[Byte](a.length)
    var i = 0
    while (i < a.length) { out(i) = (a(i) | b(i)).toByte; i += 1 }
    out
  }

  /** `blooms` over exactly `buckets` for every column of `cols`: a bucket
    * with no measured rows gets an EMPTY bloom. For full-state rewrites
    * (compaction, repair, index backfill): an absent entry would mean
    * "may contain" (sound but useless), an empty one means "contains
    * nothing" — provable there, because the bucket's whole state was
    * measured. */
  def withEmptyBuckets(blooms: Map[String, Map[Int, Array[Byte]]], cols: Seq[String],
      buckets: Iterable[Int]): Map[String, Map[Int, Array[Byte]]] =
    cols.map { c =>
      val byBucket = blooms.getOrElse(c, Map.empty)
      c -> buckets.iterator.map(b =>
        b -> byBucket.getOrElse(b, new Array[Byte](FixedBits >>> 3))).toMap
    }.toMap

  /** Bloom bits of a group's (m, hash) rows: the buffer IS the m-bit array
    * — reduce sets a row's bits, merge ORs partial arrays, so a file read
    * by several tasks ships one array per task. m is constant within a
    * group; rows with m = 0 contribute nothing (a group of only those
    * yields an empty array). */
  private final class BitsAgg(k: Int) extends Aggregator[(Int, Long), Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = Array.emptyByteArray
    def reduce(b: Array[Byte], in: (Int, Long)): Array[Byte] =
      if (in._1 == 0) b
      else {
        val bits = if (b.isEmpty) new Array[Byte](in._1 >>> 3) else b
        set(bits, in._1, k, in._2)
        bits
      }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
      if (a.isEmpty) b else if (b.isEmpty) a else orMerge(a, b)
    def finish(b: Array[Byte]): Array[Byte] = b
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] = Encoders.BINARY
  }

  private def bitsAgg(k: Int)(m: Column, hash: Column): Column =
    udaf(new BitsAgg(k), Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))(m, hash)

  /** Aggregate: the fixed-size value bloom of `c`'s values. NULL hashes to
    * the seed and contributes nothing meaningful — a NULL-equality probe
    * is not a bloom workload. */
  def valueBloom(c: Column): Column = bitsAgg(KFixed)(lit(FixedBits), xxhash64(c))

  /** Measure a freshly written epoch dir whose files hold `schema` (the
    * written version's [[IceLite.structOf]]; read through
    * [[IceLite.readFiles]], so no footer-inference job): footer stats
    * ([[IceLite.scanEpochFiles]]) plus, in AT MOST ONE Spark aggregate
    * grouped by file —
    *  - the key bloom of every file with 0 < rows ≤ [[RowCap]], sized from
    *    its footer row count (the key hash is computed for those files
    *    only);
    *  - the fixed-size value bloom of every `indexedCols` column, per file,
    *    OR-ed into the file's bucket here;
    *  - the measured string [min, max] of every `boundCols` column. One
    *    column is a clustering column (recorded as sortCol/sortMin/
    *    sortMax); two or more are z-order dimensions (merged over the
    *    footer colBounds). An all-NULL column records no bound.
    * No job runs when no file is eligible and there is no index and no
    * bound column. Returns the (file, origin) list with blooms and bounds
    * filled in, and the value blooms as col → bucket → bloom (empty when
    * nothing was read). */
  def describe(spark: SparkSession, epochDir: String, schemaVersion: Int, schema: StructType,
      keyCols: Seq[String], indexedCols: Seq[String] = Nil,
      boundCols: Seq[String] = Nil): (Vector[(IceLite.DataFile, Int)], Map[String, Map[Int, Array[Byte]]]) = {
    val scanned = IceLite.scanEpochFiles(epochDir, schemaVersion, keyCols)
    def keyed(f: IceLite.DataFile) = f.rows > 0 && f.rows <= RowCap
    val eligible = scanned.map(_._1).filter(keyed)
    val toRead =
      if (indexedCols.isEmpty && boundCols.isEmpty) eligible else scanned.map(_._1)
    if (toRead.isEmpty) return (scanned, Map.empty)

    val df = IceLite.readFiles(spark, toRead.map(_.path), schema)
    // input_file_name() yields the very URI strings inputFiles lists
    // (file:///…, %-escaped); normalize maps each back to a manifest path
    val byPath = toRead.map(f => f.path -> f).toMap
    val fileOf: Map[String, IceLite.DataFile] = df.inputFiles.iterator
      .flatMap(u => byPath.get(normalize(u)).map(u -> _)).toMap
    // a value bloom missing a file's rows would prune a bucket that holds
    // the value; a key bloom or bound just goes unrecorded
    require(indexedCols.isEmpty || fileOf.size == toRead.size,
      s"epoch files under $epochDir do not map back to their manifest paths")
    // the row's file's bloom size, 0 for a file that gets no key bloom —
    // one IN-set test per distinct size
    val m = fileOf.toSeq.filter(x => keyed(x._2))
      .groupMap(x => sizeBits(x._2.rows))(_._1)
      .foldLeft(lit(0)) { case (acc, (bits, uris)) =>
        when(col("__f").isin(uris: _*), bits).otherwise(acc)
      }
    val keyBloom = if (eligible.isEmpty) Nil
      else Seq(bitsAgg(K)(col("__m"), when(col("__m") > 0, keyHashColumn(keyCols)).otherwise(0L)))
    val aggs = keyBloom ++ indexedCols.map(c => valueBloom(col(c))) ++
      boundCols.flatMap(c => Seq(min(col(c)).cast("string"), max(col(c)).cast("string")))
    val measured = df.withColumn("__f", input_file_name()).withColumn("__m", m)
      .groupBy("__f").agg(aggs.head, aggs.tail: _*)
      .collect()
      .flatMap(r => fileOf.get(r.getString(0)).map(_ -> r))

    val kb = keyBloom.size
    val at = 1 + kb + indexedCols.size // first bound column
    def filled(f: IceLite.DataFile, r: org.apache.spark.sql.Row): IceLite.DataFile = {
      val g = if (kb == 0) f else f.copy(bloom = Option(r.getAs[Array[Byte]](1)).filter(_.nonEmpty))
      val bounds = boundCols.zipWithIndex.flatMap { case (c, i) =>
        val mn = r.getString(at + 2 * i); val mx = r.getString(at + 2 * i + 1)
        if (mn == null || mx == null) None else Some(c -> (mn, mx))
      }.toMap
      bounds.toSeq match {
        case Seq() => g
        case Seq((c, (mn, mx))) if boundCols.size == 1 =>
          g.copy(sortCol = Some(c), sortMin = Some(mn), sortMax = Some(mx))
        case _ => g.copy(colBounds = g.colBounds ++ bounds)
      }
    }
    val rowOf = measured.map { case (f, r) => f.path -> r }.toMap
    val files = scanned.map { case (f, origin) => (rowOf.get(f.path).fold(f)(filled(f, _)), origin) }
    val valueBlooms = indexedCols.zipWithIndex.map { case (c, i) =>
      c -> measured.toSeq.groupMapReduce(_._1.bucket)(_._2.getAs[Array[Byte]](1 + kb + i))(orMerge)
    }.toMap
    (files, valueBlooms)
  }

  private def normalize(uri: String): String =
    try new java.net.URI(uri).getPath match { case null => uri; case p => p }
    catch { case _: Exception => uri.stripPrefix("file:") }
}
