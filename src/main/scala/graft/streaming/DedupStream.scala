package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.DedupOps

/** Streaming near-dup mining: documents arrive as a stream; each microbatch
  * (1) computes ITS OWN signatures (one pass over the batch only),
  * (2) appends them to the accumulated signature table, and
  * (3) emits the verified near-dup pairs touching the batch — against
  * everything ingested so far — to an append-only pairs log.
  *
  * This is `DedupOps.incrementalVerifiedPairs` riding foreachBatch: the
  * corpus is signatured exactly once (at its own arrival), never re-paired.
  * Batch-id subdirectories make the signature append idempotent under
  * foreachBatch replay (an overwrite of the same subdir, not a duplicate
  * append), the same fencing idea the IceLite sink uses. `maxFilesPerTrigger`
  * bounds a backlog/restart batch so the first microbatch after downtime
  * isn't the entire queue.
  *
  * Equivalence to the batch operator (pairs-touching-each-batch partition
  * of the full pairing) is asserted in DedupStreamSpec — with ONE
  * documented divergence: the mega-bucket cap is evaluated per batch over
  * the table accumulated SO FAR. A (band, sig) bucket that crosses the
  * 50-doc cap only after later batches arrive keeps the pairs emitted
  * while it was under the cap (monotone emission cannot retract), where a
  * full batch recompute would drop the whole bucket. That is inherent to
  * append-only streaming output; consumers needing recompute-exact
  * semantics should rebuild from the signature table. */
object DedupStream {

  def start(spark: SparkSession, docsDir: String, schema: org.apache.spark.sql.types.StructType,
      sigDir: String, pairsDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 64,
      /** drain-phase attribution clock, accumulated across microbatches
        * under its own tag so the gate's wave clock is not clobbered; the
        * harness passes ONE instance across checkpoint restarts so the
        * post-restart query doesn't reset the accumulated phases. */
      drainClock: graft.operators.CdcQueries.PhaseClock =
        new graft.operators.CdcQueries.PhaseClock("q40drain")): StreamingQuery = {
    val clock = drainClock
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(docsDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // one signature pass over THIS batch; replayed batch ids overwrite
        // their own subdirs (idempotent), never double-append
        val sigs = clock("sig") { DedupOps.signatures(s, batch).localCheckpoint() }
        val store = DedupOps.SigStore(sigDir)
        clock("append") { store.append(sigs, batchId) }
        // band-partitioned store: the pairing reads only the bkey
        // partitions THIS batch touches — O(batch + touched buckets) per
        // microbatch, not O(accumulated corpus)
        val mined = clock("mine") { DedupOps.incrementalVerifiedPairsStored(s, store, sigs) }
        clock("emit") {
          mined.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
        }
        ()
      }
      .start()
  }

  /** Run the streaming miner over a FINITE corpus fed in `chunks` arrival
    * waves, to completion: each wave appends its documents to the watched
    * directory and one LONG-LIVED query drains it (`processAllAvailable`
    * between appends — the real streaming shape, each wave its own
    * microbatch), with ONE mid-stream stop + fresh-query restart off the
    * same checkpoint halfway through for the recovery evidence. Returns
    * the union of all per-batch pair emissions, which equals the full
    * batch pairing when no band bucket crosses the mega-bucket cap between
    * waves (property-tested in DedupStreamSpec; driver-gated as q40
    * against the q18 batch oracle). */
  def mineCorpusInChunks(spark: SparkSession, docs: DataFrame,
      workRoot: String, chunks: Int): DataFrame = {
    // phase attribution for the q40 gate (lifecycle_phases in the bench
    // JSON): feed = the waves' corpus writes, startup = query start/stop
    // incl. the one checkpoint resume, drain = the actual per-microbatch
    // mining (signatures + pruned pairing + store/pairs writes)
    val clock = new graft.operators.CdcQueries.PhaseClock("q40")
    val drainClock = new graft.operators.CdcQueries.PhaseClock("q40drain")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(workRoot))
    val docsDir = s"$workRoot/docs"
    val restartAt = chunks / 2 // one recovery, mid-corpus
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    def ensureStarted(): Unit = if (q == null)
      q = clock("startup") { start(spark, docsDir, docs.schema,
        s"$workRoot/sigs", s"$workRoot/pairs", s"$workRoot/ckpt",
        drainClock = drainClock) }
    try {
      // NOT wrapped in withStreamShuffle: this harness is stateless
      // foreachBatch whose per-batch work (band joins + jaccard verify) is
      // compute-bound — shrinking partitions measurably HURT it (drain
      // 17.0 → 19.4 s), unlike the state-store-bound harnesses
      (0 until chunks).foreach { i =>
        if (i == restartAt && q != null) clock("startup") { q.stop(); q = null } // checkpoint resume
        clock("feed") {
          docs.filter(pmod(col("doc_id"), lit(chunks.toLong)) === i)
            .write.mode("append").parquet(docsDir)
        }
        ensureStarted()
        clock("drain") { q.processAllAvailable() }
      }
    } finally if (q != null) q.stop()
    spark.read.parquet(s"$workRoot/pairs").select("a", "b", "jaccard")
  }
}
