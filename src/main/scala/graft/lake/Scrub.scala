package graft.lake

import java.nio.file.Paths
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import IceLite._

/** STORAGE INTEGRITY — detect silent data-file corruption (bit rot, torn
  * writes, a bad copy during DR) and repair it from the source of truth,
  * the change log. Iceberg-class tables track logical state but trust the
  * bytes; at 10^6 files × years of retention, undetected corruption is a
  * when, not an if, and the cheapest time to notice is a scheduled scrub,
  * not a failed production read.
  *
  * Three ops:
  *   - [[record]]: compute sha256 over each HEAD data file's bytes and
  *     append (path, len, sha, gen) to the `_integrity` sidecar — a
  *     distributed pass over only the files not yet recorded. Generations
  *     make re-records supersede (maintenance that legitimately rewrites a
  *     file in place, e.g. [[Purge]], re-records it).
  *   - [[verify]]: recompute for every recorded HEAD file; return the
  *     paths whose bytes changed (or vanished) since recording.
  *   - [[repairBucket]]: re-materialize one bucket's full resolved state
  *     (tombstones included) from the change log — decode, filter to the
  *     bucket, LWW-fold ONLY the epochs the snapshot's ledger has
  *     committed — and swap it in as a fenced commit (touched = that
  *     bucket), exactly the compaction write path. The damaged file drops
  *     out of the head snapshot; time travel to pre-repair versions still
  *     references it (it is damaged — that is what vacuum retirement is
  *     for).
  *
  * Scale shape: record/verify are embarrassingly parallel over files and
  * read each file once; repair cost is O(log events hashing to the bucket)
  * — one decode pass with a bucket filter, one key-shuffle fold, one
  * single-bucket write. Nothing collects to the driver but file paths. */
object Scrub {

  private def sidecar(dir: String) = s"$dir/_integrity"

  private def shaOf(path: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val in = java.nio.file.Files.newInputStream(Paths.get(path))
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** newest recorded (path → (len, sha)); empty if never recorded. */
  private def recorded(spark: SparkSession, dir: String): Map[String, (Long, String)] = {
    if (!java.nio.file.Files.exists(Paths.get(sidecar(dir)))) return Map.empty
    import spark.implicits._
    spark.read.parquet(sidecar(dir))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("path")
          .orderBy(col("gen").desc)))
      .filter(col("rn") === 1)
      .select("path", "len", "sha").as[(String, Long, String)]
      .collect().map { case (p, l, s) => p -> (l, s) }.toMap
  }

  private def hashFiles(spark: SparkSession, paths: Seq[String]): Seq[(String, Long, String)] = {
    import spark.implicits._
    if (paths.isEmpty) return Nil
    spark.createDataset(paths).repartition(math.min(paths.size, 32))
      .mapPartitions { it =>
        it.map { p => (p, java.nio.file.Files.size(Paths.get(p)), shaOf(p)) }
      }.collect().toSeq
  }

  /** Record checksums for head-snapshot files. `refresh` forces
    * re-recording of paths whose bytes were legitimately rewritten in
    * place (e.g. after a [[Purge]]). Returns the number recorded. */
  def record(spark: SparkSession, dir: String, refresh: Set[String] = Set.empty): Int = {
    import spark.implicits._
    val head = IceLite.load(dir)
    val known = recorded(spark, dir).keySet -- refresh
    val todo = head.files.map(_.path).distinct.filterNot(known)
    if (todo.isEmpty) return 0
    val gen = if (java.nio.file.Files.exists(Paths.get(sidecar(dir)))) {
      spark.read.parquet(sidecar(dir)).agg(max("gen")).head().getLong(0) + 1L
    } else 0L
    hashFiles(spark, todo).toDF("path", "len", "sha")
      .withColumn("gen", lit(gen))
      .coalesce(1).write.mode("append").parquet(sidecar(dir))
    todo.size
  }

  /** Recompute checksums for every recorded head file; return the paths
    * whose bytes no longer match (corrupted or missing). */
  def verify(spark: SparkSession, dir: String): Vector[String] = {
    val head = IceLite.load(dir)
    val rec = recorded(spark, dir)
    val tracked = head.files.map(_.path).distinct.filter(rec.contains)
    val missing = tracked.filterNot(p => java.nio.file.Files.exists(Paths.get(p)))
    val current = hashFiles(spark, tracked.filterNot(missing.contains))
    (missing ++ current.collect {
      case (p, len, sha) if rec(p) != ((len, sha)) => p
    }).toVector
  }

  /** Re-materialize `bucket` from the change log at `logDir` (the epochs
    * the ledger committed under `namespace`) and swap it in as a fenced
    * single-bucket commit. Precondition: the log is the table's complete
    * source of truth for that namespace (the replay contract). */
  def repairBucket(spark: SparkSession, dir: String, logDir: String, bucket: Int,
      epochId: String, namespace: String = "replay",
      framing: graft.decode.Framing.Value = graft.decode.Framing.Raw): Unit = {
    val base = IceLite.load(dir)
    if (base.hasEpoch(epochId)) return
    require(bucket >= 0 && bucket < base.buckets, s"no such bucket $bucket")

    val log = spark.read.parquet(logDir)
    // only the epochs this table actually committed — a log that ran ahead
    // of the table must not leak future events into the repaired bucket
    val committed = graft.cdc.Epoch.list(logDir).filter(e => base.hasEpoch(s"$namespace-$e"))
    require(committed.nonEmpty, s"no committed '$namespace' epochs found in $logDir")

    val registry = spark.sparkContext.broadcast(graft.cdc.Cdc.registry)
    val ev = graft.cdc.Epoch.events(log.filter(col("epoch").isin(committed: _*)))
    val upd = graft.cdc.Replay.decodeForMerge(ev, registry, None, framing).updates
      .filter(bucketExpr(base.keyCols, base.buckets) === bucket)
    // resolved bucket state incl. tombstones — the uncompacted fold
    val visible = base.currentSchema.filterNot(_.hidden).map(_.name)
    val folded = upd
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(base.keyCols.map(col): _*).orderBy(col("seq").desc)))
      .filter(col("__rn") === 1)
      .select(visible.map(col) :+ col("seq").as(SeqCol.name) :+
        (col("op") === "DELETE").as(DelCol.name): _*)

    val epochDir = Paths.get(dir, "data", s"epoch=$epochId-repair").toString
    folded.withColumn("__bucket", lit(bucket))
      .repartition(1)
      .sortWithinPartitions(base.keyCols.map(col): _*)
      .write.partitionBy("__bucket").mode("overwrite").parquet(epochDir)

    val indexed = base.indexedCols.toSeq.sorted
    val (scanned, valueBlooms) = KeyBloom.describe(spark, epochDir, base.currentSchemaVersion,
      structOf(base.currentSchema), base.keyCols, indexed)
    val newFiles = scanned.map { case (f, _) => f.copy(delta = false) }
    val valueRep = KeyBloom.withEmptyBuckets(valueBlooms, indexed, Seq(bucket))
    IceLite.commit(dir, base, IceLite.CommitDelta(
      epochId, Set(bucket), newFiles, base.currentSchema, valueBloomReplace = valueRep))
    // the repaired files enter the integrity baseline immediately
    record(spark, dir)
    ()
  }
}
