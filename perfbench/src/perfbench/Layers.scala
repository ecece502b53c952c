package perfbench

/** Per-layer numbers from a trace. Jobs are attributed to a layer by the
  * source file at their call site: the MERGE write (`parquet at
  * Merge.scala`) splits into its map stages (scan, decode, exchange write)
  * and its result stage (sort, last-writer-wins, bucket write); the keys-only
  * pre-pass is the `collect at Merge.scala` job; KeyBloom.scala and
  * Lineage.scala jobs are their own layers. All values are per epoch. */
object Layers {

  /** Wait for the asynchronous listener buses: for the expected number of
    * micro-batch progress events, then briefly for the last job ends. */
  def settle(t: Trace, batchSpans: Int = 0): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    def done = t.allSpans.count(_.kind == "batch") >= batchSpans
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(50)
    Thread.sleep(200)
  }

  private def wallS(j: Trace.Job): Double = (j.endMs - j.startMs) / 1000.0

  /** Per-epoch layer times inside the epoch-carrying spans `keep` selects.
    * Checks that each epoch's MERGE write job was found: a job whose call
    * site could not be read, or was read too late, is left unmatched. */
  def epochs(ctx: Ctx, t: Trace, keep: Trace.Span => Boolean, epochsOf: Trace.Span => Int,
      events: Long): Map[String, Double] = {
    val spans = t.resolvedSpans.filter(keep)
    val parents = t.jobParents
    val epochs = math.max(1, spans.map(epochsOf).sum).toDouble
    val jobsOf = spans.map(s => s -> t.allJobs.filter(j => parents.get(j.id).contains(s.id))).toMap
    val jobs = jobsOf.values.flatten.toVector

    def isWrite(j: Trace.Job) = j.file == "Merge.scala" && j.op == "parquet"
    spans.foreach { s =>
      val n = jobsOf(s).count(isWrite)
      ctx.check(n == epochsOf(s), s"${s.name} span ${s.id} has $n MERGE write jobs, " +
        s"expected ${epochsOf(s)}")
    }
    val writes = jobs.filter(isWrite)
    val stageSets = writes.map { j =>
      val ran = j.stageIds.flatMap(t.stage).filter(_.tasks > 0).sortBy(_.stageId)
      (ran.init, ran.last)
    }.filter(_._1.nonEmpty)
    def stageS(s: Trace.StageAcc) = math.max(0L, s.doneMs - s.submitMs) / 1000.0
    val mapS = stageSets.map(_._1.map(stageS).sum).sum
    val reduceS = stageSets.map(x => stageS(x._2)).sum
    val shuffleBytes = stageSets.map(_._1.map(_.shuffleWriteBytes).sum).sum.toDouble
    val shuffleRecords = stageSets.map(_._1.map(_.shuffleWriteRecords).sum).sum.toDouble
    val written = stageSets.map(_._2.outputRecords).sum.toDouble
    val spill = writes.flatMap(_.stageIds.flatMap(t.stage)).map(_.spillBytes).sum.toDouble

    def fileS(pred: Trace.Job => Boolean) = jobs.filter(pred).map(wallS).sum
    val keysS = fileS(j => j.file == "Merge.scala" && j.op == "collect")
    val bloomS = fileS(_.file == "KeyBloom.scala")
    val lineageS = fileS(_.file == "Lineage.scala")
    val unmatchedS = fileS(_.callSite == "?")
    val serialS = spans.map { s =>
      (s.durMs - t.covered(s.startMs, s.endMs, jobsOf(s).map(j => (j.startMs, j.endMs)))) / 1000.0
    }.sum
    val wall = spans.map(_.durMs).sum / 1000.0
    val attributed = serialS + mapS + reduceS + keysS + bloomS + lineageS
    Map(
      "merge.map_stage_s" -> mapS / epochs,
      "merge.reduce_stage_s" -> reduceS / epochs,
      "merge.shuffle_write_bytes_per_event" -> shuffleBytes / math.max(1L, events),
      "merge.spill_bytes" -> spill / epochs,
      "merge.reduce_tasks" -> stageSets.map(_._2.tasks).sum.toDouble / math.max(1, stageSets.size),
      "merge.winner_ratio" -> written / math.max(1.0, shuffleRecords),
      "decode.keys_s" -> keysS / epochs,
      "bloom.s" -> bloomS / epochs,
      "cdc.lineage_s" -> lineageS / epochs,
      "cdc.driver_serial_s" -> serialS / epochs,
      "cdc.checkpoint_s" -> spans.map(_.attrs.getOrElse("checkpointMs", 0.0)).sum / 1000.0 / epochs,
      "cdc.jobs_per_epoch" -> jobs.size / epochs,
      "trace.unattributed_s" -> math.max(0.0, wall - attributed) / epochs,
      "trace.unmatched_job_s" -> unmatchedS / epochs)
  }
}
