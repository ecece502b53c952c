package graft.lake

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import scala.jdk.CollectionConverters._
import IceLite._

/** Key-partitioned MERGE INTO upsert (SURVEY.md §2.3):
  * schema-evolve the table → single-shuffle version-ordered LWW over
  * union(batch, inline-compaction targets) → per-bucket write → atomic
  * epoch-fenced commit.
  *
  * Scale notes (100 TB design point):
  *  - MERGE-ON-READ steady state: an epoch writes O(batch) delta files;
  *    a bucket is COW-compacted inline only when its file count reaches
  *    `deltaThreshold`. Amortized epoch cost is O(batch + batch×table/(B×K))
  *    — never the O(table × touched/total) full rewrite that kills 10^10-row
  *    tables; read amplification is bounded at K files/bucket;
  *  - the ONLY row-volume shuffle per epoch is the merge exchange, keyed
  *    on (bucket, key-hash shard) — task count scales with the cluster,
  *    not the bucket count; AQE handles residual skew (buckets hash
  *    (repo, path), not repo, so hot repos don't produce hot buckets);
  *  - the written files' metadata (key blooms, value blooms) is one
  *    post-write aggregate ([[KeyBloom.describe]]) that shuffles one
  *    partial bloom per file and task, never a row;
  *  - untouched buckets are never read or rewritten;
  *  - batch LWW is in-partition (sort + first-per-key), no pre-shuffle dedup.
  */
object Merge {

  /** Envelope column carrying a PATCH event's changed-field-number mask
    * (the Debezium/DMS changed-columns contract, Cdc.protoV5 field 10). */
  val PatchMaskCol = "changed_fields"

  final case class MergeStats(
      epochId: String,
      applied: Boolean,
      batchRows: Long,
      upserts: Long,
      deletes: Long,
      touchedBuckets: Int,
      /** touched buckets compacted inline (COW) this epoch; the rest took
        * the O(batch) delta path. */
      cowBuckets: Int,
      rewrittenRows: Long)

  /** Evolve `current` schemas with the update batch's columns, matched by
    * field id: new id → append column; same id, new name → rename; same id,
    * int→bigint → widen (Iceberg-compatible evolution set). Ids RETIRED by
    * IceLite.dropColumn are never re-added — a batch from an older writer
    * descriptor that still carries the dropped field must not resurrect it
    * (Iceberg's rule: re-adding a dropped column takes a NEW id). */
  def evolve(current: Vector[ColDef], incoming: Vector[ColDef],
      retired: Set[Int] = Set.empty,
      /** ids renamed by DDL (IceLite.renameColumn): the table's name is
        * authoritative — an older writer descriptor carrying the
        * pre-rename name must not rename the column back (widening still
        * applies). */
      pinned: Set[Int] = Set.empty): Vector[ColDef] = {
    val byId = current.map(c => c.id -> c).toMap
    val updated = current.map { c =>
      incoming.find(_.id == c.id) match {
        case Some(in) if in.name != c.name || widens(c, in) =>
          c.copy(name = if (pinned(c.id)) c.name else in.name,
            dataType = if (widens(c, in)) in.dataType else c.dataType)
        case _ => c
      }
    }
    val added = incoming.filterNot(in => byId.contains(in.id) || retired(in.id))
    updated ++ added
  }

  private def widens(oldC: ColDef, newC: ColDef): Boolean =
    (oldC.sparkType, newC.sparkType) match {
      case (IntegerType, LongType) => true
      case (org.apache.spark.sql.types.FloatType, org.apache.spark.sql.types.DoubleType) => true
      case _ => false
    }

  /** PARTIAL-UPDATE (PATCH) resolution — the Debezium-shaped update that
    * carries ONLY the changed columns plus an explicit mask of their field
    * numbers ([[PatchMaskCol]]). The lake's storage contract is whole-row
    * LWW (one winner per key at read time, every downstream operator —
    * lookups, feeds, time travel, compaction — relies on it), so patches
    * are MATERIALIZED here, at apply time, against the table's current
    * state: per patched key, read the resolved pre-image (bucket-pruned +
    * key semi-join, O(patched keys) never O(table)) and fold the key's
    * batch events in sequence order — UPSERT sets every column, DELETE
    * clears them, PATCH sets exactly the masked columns. The key's fold
    * result re-enters the batch as ONE full UPSERT/DELETE row at the key's
    * max sequence; everything downstream is unchanged.
    *
    * The fold is one aggregate per key (no iteration): a column's final
    * value is `max_by` over the events that SET it (struct-wrapped so a
    * NULL value — a DELETE clearing the column — still wins its slot), the
    * pre-image participating as an UPSERT at its stored __seq. Within one
    * batch any event order converges. ACROSS batches the standard CDC
    * delivery contract applies: patches must arrive per-key in sequence
    * order (Kafka's key-partition guarantee) — a patch materialized in an
    * earlier epoch re-writes its unmasked columns at its own seq, so a
    * LATER-arriving patch with a LOWER seq targeting one of those columns
    * is absorbed by it (full upserts and deletes stay order-free: read-time
    * LWW resolves them whatever epoch they land in).
    *
    * Scale: the only reads are the patched keys' buckets (driver-derived
    * bucket set, bounded by the layout) and the only new shuffles are the
    * key semi-join + one groupBy over O(patched keys) rows. */
  def resolvePatches(
      spark: SparkSession,
      dir: String,
      updates: DataFrame,
      seqCol: String,
      opCol: String): DataFrame = {
    if (!updates.columns.contains(PatchMaskCol)) return updates

    val snap = IceLite.load(dir)
    val keyCols = snap.keyCols
    // pin the batch: it feeds three subplans (patched keys, fold, pass-through)
    val upd = updates.localCheckpoint()
    val patchKeys = upd.filter(col(opCol) === "PATCH")
      .select(keyCols.map(col): _*).distinct().localCheckpoint()
    if (patchKeys.isEmpty) return upd.drop(PatchMaskCol)

    // batch data columns with their proto field numbers (the mask's ids)
    val dataFields = upd.schema.fields
      .filterNot(f => Seq(seqCol, opCol, PatchMaskCol).contains(f.name))
    val fidOf: Map[String, Long] = dataFields.iterator
      .filter(_.metadata.contains("graft.fieldId"))
      .map(f => f.name -> f.metadata.getLong("graft.fieldId")).toMap

    // resolved LIVE pre-image of ONLY the patched keys (a tombstoned or
    // absent key patches onto proto defaults), aligned to the BATCH's
    // column names by field id (the post-rename rule mergeEpoch uses)
    val touched = patchKeys
      .select(IceLite.bucketExpr(keyCols, snap.buckets).as("__b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val tableById = snap.currentSchema.filterNot(_.hidden).map(c => c.id -> c.name).toMap
    val preRaw = IceLite.read(spark, snap, f => touched(f.bucket), includeHidden = true)
      .filter(!coalesce(col(IceLite.DelCol.name), lit(false)))
      .join(patchKeys, keyCols.toSeq, "left_semi")
    val preCols = preRaw.columns.toSet
    val pre = preRaw.select(
      dataFields.toIndexedSeq.map { f =>
        (fidOf.get(f.name).map(_.toInt).flatMap(tableById.get) match {
          case Some(src) => col(src).cast(f.dataType)
          case None if preCols(f.name) => col(f.name).cast(f.dataType)
          case None => lit(null).cast(f.dataType)
        }).as(f.name)
      } :+ col(IceLite.SeqCol.name).cast("long").as(seqCol)
        :+ lit("UPSERT").as(opCol)
        :+ lit(null).cast("array<int>").as(PatchMaskCol): _*)

    // per-key sequence-ordered fold of pre-image ∪ the key's batch events
    val aggs: Seq[Column] =
      Seq(max(col(seqCol)).as(seqCol),
        max_by(col(opCol), col(seqCol)).as(opCol)) ++
      dataFields.toIndexedSeq.filterNot(f => keyCols.contains(f.name)).map { f =>
        // an event SETS the column when it is a full row (UPSERT/DELETE)
        // or a patch whose mask names the column's field number
        val sets = col(opCol) =!= "PATCH" ||
          (fidOf.get(f.name) match {
            case Some(fid) => array_contains(col(PatchMaskCol), fid.toInt)
            case None => lit(false)
          })
        val eff = when(col(opCol) === "DELETE", lit(null).cast(f.dataType))
          .otherwise(col(f.name))
        // struct-wrap: a NULL effective value (DELETE clearing the slot)
        // must still be the winner when its event is the last setter
        max_by(struct(eff.as("v")), when(sets, col(seqCol)))
          .getField("v").as(f.name)
      }
    val folded = upd.join(patchKeys, keyCols.toSeq, "left_semi")
      .select(pre.columns.toIndexedSeq.map(col): _*)
      .unionByName(pre)
      .groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

    // re-attach field-id metadata (lost through the aggregate) and restore
    // the batch's column order; fold ops collapse to the whole-row set
    val metaOf: Map[String, org.apache.spark.sql.types.Metadata] =
      dataFields.iterator.map(f => f.name -> f.metadata).toMap
    val outCols = dataFields.toIndexedSeq.map(f =>
      col(f.name).as(f.name, metaOf(f.name))) :+
      col(seqCol) :+
      when(col(opCol) === "DELETE", "DELETE").otherwise("UPSERT").as(opCol)
    folded.select(outCols: _*)
      .unionByName(upd.join(patchKeys, keyCols.toSeq, "left_anti")
        .select(outCols: _*))
  }

  /** Apply one batch of change rows to the table at `dir`.
    *
    * `updates` columns: the table's data columns (carrying graft.fieldId
    * metadata) — must include the key columns — plus `seqCol` (LONG, total
    * order per key; last writer wins) and `opCol` (STRING, "UPSERT"|"DELETE").
    */
  def mergeEpoch(
      spark: SparkSession,
      dir: String,
      updates: DataFrame,
      seqCol: String,
      opCol: String,
      epochId: String,
      /** key columns only, from a cheap keys-only decode (wire-skips the
        * payload body): enables touched-bucket pruning without caching or
        * double-decoding the full batch. None → all buckets are touched
        * (right for large batches that touch every bucket anyway). */
      updateKeys: Option[DataFrame] = None,
      /** MERGE-ON-READ write policy: a touched bucket already holding fewer
        * than this many files gets an O(batch) DELTA file (newest-seq-wins
        * applied at read time); at or past it, the bucket is compacted
        * inline — its files + the batch COW-rewrite into one base set. This
        * bounds read amplification at `deltaThreshold` files/bucket while
        * keeping the steady-state epoch cost O(batch), not
        * O(table × touched/total) — at 10^10 events the per-epoch full
        * rewrite is the scale-killer, not the decode. 0 forces COW always. */
      deltaThreshold: Int = 8,
      /** Refuse to rebase past this version (see
        * [[IceLite.CommitDelta.requireBaseVersion]]) — for batches whose
        * sequence numbers were derived from a snapshot (DML's maxSeq+1)
        * and would collide if another writer committed meanwhile. */
      requireBaseVersion: Option[Int] = None,
      /** caller-known (approximate) batch row count for the scale-adaptive
        * task sizing when no keys pre-pass ran — the derived-merge paths
        * (SCD2 apply, mat-view refresh, change-feed shipping) build their
        * batches from joins whose optimizer size estimates are multiplied
        * into uselessness, which otherwise forces the cluster-derived
        * fallback task count on kilobyte batches. An order-of-magnitude
        * estimate is fine; only the task count depends on it. */
      batchRowsHint: Option[Long] = None): MergeStats = {

    val base = IceLite.load(dir)
    if (base.hasEpoch(epochId)) // exactly-once fence: replayed epoch is a no-op
      return MergeStats(epochId, applied = false, 0, 0, 0, 0, 0, 0)

    // PATCH events (batches carrying the changed-fields mask column) are
    // materialized against the pre-image here, so the rest of the merge —
    // and every read path after it — stays whole-row LWW
    val updates0 = resolvePatches(spark, dir, updates, seqCol, opCol)

    val keyCols = base.keyCols
    val dataColDefs = colDefsOf(org.apache.spark.sql.types.StructType(
      updates0.schema.fields.filterNot(f => f.name == seqCol || f.name == opCol)))
    val newSchema = evolve(base.currentSchema, dataColDefs, base.retiredIds, base.pinnedIds)
    val schemas = if (newSchema == base.currentSchema) base.schemas else base.schemas :+ newSchema
    val schemaVersion = schemas.length - 1

    // ---- 1. normalize the batch to the evolved (visible) schema + CDC cols:
    // (__seq = event seq, __del = op == DELETE), null-filling columns the
    // evolved table has that this batch lacks (old-descriptor events)
    val visible = newSchema.filterNot(_.hidden)
    val updCols = updates0.columns.toSet
    // resolve batch columns by FIELD ID first (graft.fieldId metadata),
    // then by name: after a DDL rename the table's name differs from an
    // old writer descriptor's, but the values must still land
    val incomingNameById: Map[Int, String] = updates0.schema.fields.iterator
      .filter(f => f.metadata.contains("graft.fieldId"))
      .map(f => f.metadata.getLong("graft.fieldId").toInt -> f.name).toMap
    def sourceCol(cd: ColDef): Option[String] =
      incomingNameById.get(cd.id).orElse(if (updCols(cd.name)) Some(cd.name) else None)
    val batch = updates0.select(
      (visible.map(cd =>
        (sourceCol(cd) match {
          case Some(src) => col(src).cast(cd.sparkType)
          // batch lacks the column (older writer): its WRITE DEFAULT, so
          // the value is rewrite-stable (ColDef.default); null if none
          case None => cd.absentLit
        }).as(cd.name)) :+
        col(seqCol).cast("long").as(IceLite.SeqCol.name) :+
        (col(opCol) === "DELETE").as(IceLite.DelCol.name)): _*)
      .withColumn("__bucket", bucketExpr(keyCols, base.buckets))

    // touched buckets: from the keys-only pre-pass when available (narrow
    // per-bucket COUNT over just the key columns — the payload body is
    // wire-skipped, never decoded; the counts additionally size the merge's
    // task count below for free); otherwise all buckets
    val (touched: Set[Int], batchRowsEst: Option[Long]) = updateKeys match {
      case Some(keys) =>
        val perBucket = keys.select(bucketExpr(keyCols, base.buckets).as("__bucket"))
          .groupBy("__bucket").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1))
        (perBucket.map(_._1).toSet, Some(perBucket.map(_._2).sum))
      case None => ((0 until base.buckets).toSet, None)
    }

    // batch stats ride the merge job as an Observation — no extra pass
    val batchObs = org.apache.spark.sql.Observation(s"merge-batch-$epochId")
    val observedBatch = batch.observe(batchObs,
      count(lit(1)).as("n"),
      sum(when(col(IceLite.DelCol.name), 1L).otherwise(0L)).as("dels"),
      max(col(IceLite.SeqCol.name)).as("maxSeq"))

    // MERGE-ON-READ split: buckets under the file-count threshold take the
    // delta path (no target read, O(batch) write); buckets at the threshold
    // compact inline (COW: their files union the batch, full LWW rewrite)
    val filesPerBucket = base.files.groupBy(_.bucket).view.mapValues(_.size).toMap
    val cowBuckets: Set[Int] =
      touched.filter(b => filesPerBucket.getOrElse(b, 0) >= math.max(deltaThreshold, 0))

    // ---- 2. SINGLE-SHUFFLE version-ordered merge: union(batch, COW-bucket
    // target rows) → one hash repartition by bucket → in-partition sort by
    // (key, origin, seq DESC) → keep the first row per (key, origin). LWW
    // within the batch AND within the stored state in one exchange — no
    // dedup pre-shuffle, no full-outer join, no second repartition for the
    // bucketed write.
    //
    // ORIGIN SPLIT: batch rows (__origin=0) and carried stored rows
    // (__origin=1) are LWW'd separately and written to SEPARATE files —
    // every epoch's batch lands in a delta file even when its bucket
    // COW-compacts inline. Read-time newest-seq-wins resolution across
    // base+delta yields the same state as a global LWW (winner of
    // per-origin winners = global winner; tombstones persist in both), and
    // the change feed becomes structural: delta files ARE the epochs'
    // change rows, so late low-seq events are never conflated with carried
    // base rows. Late/duplicate/out-of-order events are absorbed (stored
    // row wins at read time when newer); DELETEs persist as tombstones so
    // a late lower-seq upsert cannot resurrect a key.
    val target = IceLite.read(spark, base.copy(schemas = schemas),
      f => cowBuckets.contains(f.bucket), includeHidden = true,
      resolve = false /* this merge IS the resolution */)
      .withColumn("__bucket", bucketExpr(keyCols, base.buckets))

    val unioned = observedBatch.withColumn("__origin", lit(0))
      .unionByName(target.withColumn("__origin", lit(1)))

    // Task-count is NOT capped by bucket count: when the cluster has more
    // slots than touched buckets, each bucket is hash-split on the key into
    // `subSplits` shards (key → shard is deterministic, so all versions of a
    // key still colocate and the first-row-per-key dedup stays correct). A
    // 4N cluster gets ~4N merge tasks regardless of the table's bucket count;
    // each shard becomes its own file under the bucket dir.
    //
    // SCALE-ADAPTIVE (guide §2.2/§6): when the keys pre-pass ran, the merge
    // row volume is known up front (batch rows + the carried rows of the
    // buckets that COW-compact this epoch, the latter from manifest file
    // stats — no extra job), so the task count follows the DATA, capped by
    // the cluster-derived ceiling. Without it a 3k-row micro-batch on a
    // 32-core session shuffled into 128 tasks and wrote 16 delta files per
    // bucket per epoch — which both wasted scheduling time and pushed every
    // bucket to the inline-compaction threshold almost immediately (an
    // O(table) rewrite per epoch at gate scale). Rows-per-task is
    // parameterised (spark.graft.merge.targetRowsPerTask, default 64k ≈ the
    // per-task volume the 24M-event headline bench settles at); the
    // keys-absent path keeps the cluster-derived count unchanged (large
    // replays touch every bucket and fill every task anyway).
    val minTasks = math.max(
      spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism * 4)
    val rowsPerTask = spark.conf.getOption("spark.graft.merge.targetRowsPerTask")
      .map(_.toLong).getOrElse(65536L)
    val carriedRows = base.files.iterator
      .filter(f => cowBuckets.contains(f.bucket)).map(_.rows).sum
    val carriedTasks = math.max(1L, (carriedRows + rowsPerTask - 1) / rowsPerTask)
    val desiredTasks = batchRowsEst.orElse(batchRowsHint) match {
      case Some(batchRows) =>
        val est = math.max(carriedTasks, (batchRows + rowsPerTask - 1) / rowsPerTask)
        math.min(minTasks.toLong, math.max(1L, est)).toInt
      case None =>
        // no keys pre-pass: fall back to the optimizer's size estimate of
        // the batch plan (meaningful for file-backed batches — bootstrap
        // chunks, change-feed shipping, DML sources; decode-backed RDD
        // plans report the unknown sentinel and keep the cluster-derived
        // count, which is the right answer for full-log replays anyway)
        val bytesPerTask = spark.conf.getOption("spark.graft.merge.targetBytesPerTask")
          .map(_.toLong).getOrElse(8L << 20)
        val stat = updates0.queryExecution.optimizedPlan.stats.sizeInBytes
        if (stat > 0 && stat < BigInt(1L << 31)) {
          val fromBytes = ((stat + bytesPerTask - 1) / bytesPerTask).toLong
          math.min(minTasks.toLong,
            math.max(1L, math.max(fromBytes, carriedTasks))).toInt
        } else minTasks
    }
    val subSplits = math.max(1, math.ceil(desiredTasks.toDouble / math.max(touched.size, 1)).toInt)
    // __sub must be INDEPENDENT of __bucket: both are mods of a key hash, so
    // reusing xxhash64(keyCols) would make (h mod buckets) determine
    // (h mod gcd(subSplits, buckets)) — with 64 buckets and subSplits=2 every
    // row of a bucket lands in ONE shard and the sub-split is a no-op. A
    // seed literal prepended to the key columns yields an unrelated hash.
    val sharded =
      if (subSplits == 1) unioned
      else unioned.withColumn("__sub",
        pmod(xxhash64(lit("__graft_sub") +: keyCols.map(col): _*), lit(subSplits.toLong)).cast("int"))
    val shardCols =
      if (subSplits == 1) Seq(col("__bucket")) else Seq(col("__bucket"), col("__sub"))

    val outSchema = sharded.schema
    val keyIdx = keyCols.map(outSchema.fieldIndex)
    val bucketIdx = outSchema.fieldIndex("__bucket")
    val originIdx = outSchema.fieldIndex("__origin")

    // sort ORDER matters twice: (bucket, origin) must be the PREFIX so the
    // dynamic-partition writer sees its partition columns pre-sorted and
    // inserts no extra per-task sort (and files stay key-sorted for
    // row-group pruning); within (bucket, origin), keys cluster with newest
    // seq first for the streaming LWW dedup below.
    // partition count: buckets × shards, except that a SMALL keyed batch may
    // use fewer partitions than touched buckets (buckets share a task; the
    // dynamic-partition writer still emits one file per bucket value) — the
    // sort prefix and the per-(key, origin) dedup are partition-count
    // independent because a key's rows always hash together
    val numParts =
      if (subSplits > 1) math.max(touched.size * subSplits, 1)
      else math.max(1, math.min(math.max(touched.size, 1), math.max(desiredTasks, 1)))
    val merged = sharded
      .repartition(numParts, shardCols: _*)
      .sortWithinPartitions(
        ((col("__bucket") +: col("__origin") +: keyCols.map(col)) :+ col(IceLite.SeqCol.name).desc): _*)
      .mapPartitions { it =>
        // rows arrive clustered by (origin, key), newest first — emit the
        // winner only (per origin: batch winner → delta, stored winner → base)
        var prev: Array[Any] = null
        it.flatMap { row =>
          val k = (keyIdx.map(row.get) :+ row.get(bucketIdx)) :+ row.get(originIdx)
          if (prev != null && java.util.Arrays.equals(
              prev.asInstanceOf[Array[AnyRef]], k.toArray.asInstanceOf[Array[AnyRef]])) None
          else { prev = k.toArray; Some(row) }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))

    // ---- 3. rewrite touched buckets (subSplits files per bucket per epoch,
    // split by origin); row count rides the write job as an Observation
    val epochDir = Paths.get(dir, "data", s"epoch=$epochId").toString
    val obs = org.apache.spark.sql.Observation(s"merge-rows-$epochId")
    (if (subSplits == 1) merged else merged.drop("__sub"))
      .observe(obs, count(lit(1)).as("rows"))
      .write.option("parquet.block.size", 16 * 1024 * 1024)
      .partitionBy("__bucket", "__origin").mode("overwrite").parquet(epochDir)
    val rewrittenRows = obs.get("rows").asInstanceOf[Long]
    // an all-dead-letter batch has ZERO update rows: AQE's runtime
    // empty-relation propagation can eliminate the observed branch entirely,
    // delivering an EMPTY metrics map — absent metrics mean 0, not an error
    val batchMetrics = batchObs.get
    val batchRows = batchMetrics.get("n").collect { case l: Long => l }.getOrElse(0L)
    val deletes = batchMetrics.get("dels").collect { case l: Long => l }.getOrElse(0L)
    val batchMaxSeq = batchMetrics.get("maxSeq").collect { case l: Long => l }.getOrElse(-1L)

    // ---- 5. commit: COW buckets replace their files with {base + delta},
    // delta-path buckets APPEND a delta file (append-only commits rebase
    // over any concurrent disjoint commit); on an overlapping rewrite the
    // commit fails loudly (IceLite.commit). Each file carries its footer
    // stats (rows, key bounds, __seq range) and, measured by one aggregate
    // over the epoch (KeyBloom.describe), its key bloom when delta-sized;
    // the epoch's values are OR-ed into the touched buckets' value blooms
    // (COW buckets include carried rows — a superset OR, sound).
    val (scanned, valueOr) = KeyBloom.describe(spark, epochDir, schemaVersion,
      structOf(newSchema), keyCols, base.indexedCols.toSeq.sorted)
    val newFiles = scanned.map { case (f, origin) => f.copy(delta = origin == 0) }
    IceLite.commit(dir, base, IceLite.CommitDelta(epochId, cowBuckets, newFiles, newSchema,
      batchMaxSeq, valueBloomOr = valueOr, requireBaseVersion = requireBaseVersion))

    MergeStats(epochId, applied = true, batchRows, batchRows - deletes, deletes,
      touched.size, cowBuckets.size, rewrittenRows)
  }
}
