package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * Build cost: one narrow Spark job per commit over the just-written
  * epoch's eligible files (key columns only — a columnar projection of
  * the batch), shuffling 8 bytes/row grouped by file. Skipped entirely
  * when no file is under the cap (e.g. the bulk-replay bench epochs).
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

  def build(hashes: Array[Long]): Array[Byte] = {
    val m = sizeBits(hashes.length.toLong)
    val bits = new Array[Byte](m >>> 3)
    var i = 0
    while (i < hashes.length) {
      val h1 = graft.functions.XxHash64Host.hashLong(hashes(i), Seed1)
      val h2 = graft.functions.XxHash64Host.hashLong(hashes(i), Seed2) | 1L
      var j = 0
      while (j < K) {
        val pos = (((h1 + j * h2) % m + m) % m).toInt
        bits(pos >>> 3) = (bits(pos >>> 3) | (1 << (pos & 7))).toByte
        j += 1
      }
      i += 1
    }
    bits
  }

  /** No false negatives by construction; `bloom` length is the m/8 the
    * builder chose (m is recovered from it, so the manifest needs no
    * extra sizing field). */
  def mayContain(bloom: Array[Byte], keyHash: Long): Boolean = {
    val m = bloom.length << 3
    val h1 = graft.functions.XxHash64Host.hashLong(keyHash, Seed1)
    val h2 = graft.functions.XxHash64Host.hashLong(keyHash, Seed2) | 1L
    var j = 0
    while (j < K) {
      val pos = (((h1 + j * h2) % m + m) % m).toInt
      if ((bloom(pos >>> 3) & (1 << (pos & 7))) == 0) return false
      j += 1
    }
    true
  }

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
    hashes.foreach(h => setFixed(bits, h))
    bits
  }

  private def setFixed(bits: Array[Byte], keyHash: Long): Unit = {
    val h1 = graft.functions.XxHash64Host.hashLong(keyHash, Seed1)
    val h2 = graft.functions.XxHash64Host.hashLong(keyHash, Seed2) | 1L
    var j = 0
    while (j < KFixed) {
      val pos = (((h1 + j * h2) % FixedBits + FixedBits) % FixedBits).toInt
      bits(pos >>> 3) = (bits(pos >>> 3) | (1 << (pos & 7))).toByte
      j += 1
    }
  }

  def mayContainFixed(bloom: Array[Byte], keyHash: Long): Boolean = {
    val h1 = graft.functions.XxHash64Host.hashLong(keyHash, Seed1)
    val h2 = graft.functions.XxHash64Host.hashLong(keyHash, Seed2) | 1L
    var j = 0
    while (j < KFixed) {
      val pos = (((h1 + j * h2) % FixedBits + FixedBits) % FixedBits).toInt
      if ((bloom(pos >>> 3) & (1 << (pos & 7))) == 0) return false
      j += 1
    }
    true
  }

  def orMerge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a.length == b.length, "bloom size mismatch")
    val out = new Array[Byte](a.length)
    var i = 0
    while (i < a.length) { out(i) = (a(i) | b(i)).toByte; i += 1 }
    out
  }

  /** Per-bucket value blooms for `cols` over a freshly-written epoch's
    * files: ONE narrow job reading only the indexed columns, grouped by
    * bucket (derived from each row's file). NULL values hash to the seed
    * and contribute nothing meaningful — a NULL-equality probe is not a
    * bloom workload. Returns col → bucket → bloom. */
  def valueBloomsForEpoch(spark: SparkSession, files: Seq[IceLite.DataFile],
      cols: Seq[String]): Map[String, Map[Int, Array[Byte]]] = {
    if (cols.isEmpty || files.isEmpty) return Map.empty
    import spark.implicits._
    def normalize(uri: String): String =
      try new java.net.URI(uri).getPath match { case null => uri; case p => p }
      catch { case _: Exception => uri.stripPrefix("file:") }
    val bucketByPath = files.map(f => f.path -> f.bucket).toMap
    val bcast = spark.sparkContext.broadcast(bucketByPath)
    val built = spark.read.parquet(files.map(_.path): _*)
      .select(input_file_name().as("__f") +:
        cols.map(c => xxhash64(col(c)).as(s"__h_$c")): _*)
      .map(r => (bcast.value(normalize(r.getString(0))),
        Array.tabulate(cols.length)(i => r.getLong(i + 1))))
      .groupByKey(_._1)
      .flatMapGroups { (bucket, it) =>
        val blooms = Array.fill(cols.length)(new Array[Byte](FixedBits >>> 3))
        it.foreach { case (_, hs) =>
          var i = 0
          while (i < hs.length) { setFixed(blooms(i), hs(i)); i += 1 }
        }
        blooms.iterator.zipWithIndex.map { case (b, i) => (bucket, i, b) }
      }
      .collect()
    cols.zipWithIndex.map { case (c, i) =>
      c -> built.collect { case (b, ci, bloom) if ci == i => b -> bloom }.toMap
    }.toMap
  }

  /** Blooms for a freshly-written epoch's eligible files: ONE narrow job
    * reading only the key columns of files under [[RowCap]], partial
    * per-file grouping (a file is read by one task at delta sizes), a
    * bloom-sized shuffle. Returns path → bloom bytes; files over the cap
    * are absent. */
  def forEpoch(spark: SparkSession, files: Seq[IceLite.DataFile],
      keyCols: Seq[String]): Map[String, Array[Byte]] = {
    val eligible = files.filter(f => f.rows > 0 && f.rows <= RowCap)
    if (eligible.isEmpty) return Map.empty
    import spark.implicits._
    // input_file_name() is URI-shaped (file:/…, %-escaped); manifest paths
    // are plain — normalize through java.net.URI for the join-back
    def normalize(uri: String): String =
      try new java.net.URI(uri).getPath match { case null => uri; case p => p }
      catch { case _: Exception => uri.stripPrefix("file:") }
    val built = spark.read.parquet(eligible.map(_.path): _*)
      .select(input_file_name().as("__f"), keyHashColumn(keyCols).as("__h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (f, it) => (f, build(it.map(_._2).toArray)) }
      .collect()
    built.map { case (f, b) => normalize(f) -> b }.toMap
  }
}
