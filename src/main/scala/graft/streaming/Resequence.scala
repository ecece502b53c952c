package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** EVENT-TIME RESEQUENCER — reconstruct per-key commit order from an
  * out-of-order transport (the Kafka-consumer problem: partitions interleave
  * arbitrarily, a CDC consumer must re-emit each key's events in source
  * order before applying them). The operator buffers arrivals per key in a
  * RocksDB ListState and releases a row only once the WATERMARK proves no
  * earlier event can still arrive — released rows are sorted on the
  * tie-free (ts_us, event_id) axis and stamped with a per-key emission
  * index, so downstream sees exactly the source sequence.
  *
  * State is O(events inside the lateness horizon) per key — the watermark
  * delay bounds it; everything older has been flushed. Event-time TIMERS
  * (not input) drive the flush: a key with buffered rows re-arms a timer at
  * its oldest pending timestamp + 1, so progress never depends on that key
  * receiving more input — the one case `handleInputRows`-only designs
  * silently stall on.
  *
  * Determinism contract (what lets a batch oracle hash-match the stream):
  * eligibility is `ts_ms < watermark`, watermarks are a pure function of
  * the wave construction, and every drain sorts before emitting — so the
  * concatenation of drains IS the per-key (ts_us, event_id) order as long
  * as no row is watermark-late on arrival (the harness keeps lateness
  * inside the delay; a production deployment sizes the delay to the
  * transport's lateness SLO and routes the remainder to a dead-letter
  * side output — the q49 pattern). */
object Resequence {

  /** Keys can never collide with this (the harness uses it to push the
    * final watermark; the processor emits nothing for it). */
  val SentinelKey: Long = Long.MinValue

  final case class Ev(user_id: Long, event_id: Long, ts: java.sql.Timestamp, ts_us: Long)
  final case class Out(user_id: Long, event_id: Long, ts_us: Long, emit_seq: Long)

  class Reorder extends StatefulProcessor[Long, Ev, Out] {
    @transient private var buf: ListState[(Long, Long)] = _ // (ts_us, event_id)
    @transient private var seq: ValueState[Long] = _
    @transient private var armed: ValueState[Long] = _ // currently-registered timer

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[(Long, Long)]("buf",
        Encoders.product[(Long, Long)], TTLConfig.NONE)
      seq = getHandle.getValueState[Long]("seq", Encoders.scalaLong, TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong, TTLConfig.NONE)
    }

    /** Emit everything provably final (ts strictly below the watermark) in
      * (ts_us, event_id) order; keep the rest and re-arm a timer at the
      * oldest pending row so the flush never waits on more input. The
      * `armed` state mirrors the one registered timer so re-arms replace
      * it instead of piling up duplicates. */
    private def drain(key: Long, wmMs: Long): Iterator[Out] = {
      if (!buf.exists()) return Iterator.empty
      val all = buf.get().toIndexedSeq
      val (ready, rest) = all.partition(_._1 / 1000L < wmMs)
      val cur = if (armed.exists()) armed.get() else -1L
      if (rest.nonEmpty) {
        buf.put(rest.toArray)
        val want = rest.map(_._1 / 1000L).min + 1L
        if (cur != want) {
          if (cur >= 0L) getHandle.deleteTimer(cur)
          getHandle.registerTimer(want)
          armed.update(want)
        }
      } else {
        buf.clear()
        if (cur >= 0L) { getHandle.deleteTimer(cur); armed.clear() }
      }
      if (ready.isEmpty) return Iterator.empty
      var n = if (seq.exists()) seq.get() else 0L
      val out = ready.sorted.map { case (tsUs, eventId) =>
        n += 1; Out(key, eventId, tsUs, n)
      }
      seq.update(n)
      out.iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timers: TimerValues): Iterator[Out] = {
      if (key == SentinelKey) { rows.foreach(_ => ()); return Iterator.empty }
      rows.foreach(e => buf.appendValue((e.ts_us, e.event_id)))
      drain(key, timers.getCurrentWatermarkInMs)
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[Out] = {
      // the fired timer no longer exists — drop the mirror before draining
      // so the re-arm path doesn't try to delete it
      armed.clear()
      drain(key, timers.getCurrentWatermarkInMs)
    }
  }

  /** The banded-wave harness (q40/q152 family), with the arrival order
    * deliberately broken: every 5th event arrives one wave LATE (still
    * inside the watermark delay), and within a wave arrival order is
    * whatever the shuffle produced. `chunks` data waves + two sentinel
    * waves (watermark only advances between batches, so draining the last
    * band takes two pushes) — each wave a fresh AvailableNow query off one
    * checkpoint, so buffered rows, emission counters, and armed timers all
    * cross full stop/restarts. */
  def resequenceToCompletion(spark: SparkSession, events: DataFrame,
      workRoot: String, chunks: Int): DataFrame = {
    import spark.implicits._
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(workRoot))
    val feed = events.select(col("user_id").cast("long"),
      col("event_id").cast("long"),
      col("ts").cast("timestamp").as("ts"),
      unix_micros(col("ts").cast("timestamp")).as("ts_us"))
    val mm = feed.agg(min(col("ts_us")), max(col("ts_us")), count(lit(1))).head()
    require(!mm.isNullAt(0), "resequenceToCompletion: empty input")
    val (tmin, tmax) = (mm.getLong(0), mm.getLong(1))
    val totalRows = mm.getLong(2)
    val span = math.max(1L, tmax - tmin + 1)
    val bandUs = span / chunks + 1
    val band = least(lit(chunks - 1), ((col("ts_us") - tmin) * chunks / span).cast("int"))
    // arrival wave: event-time band, except every 5th event slips one wave
    val arrival = when(pmod(col("event_id"), lit(5)) === 0,
      least(lit(chunks - 1), band + 1)).otherwise(band)
    val banded = feed.withColumn("__wave", arrival)
    // watermark delay must cover the worst engineered lateness (one band)
    val delaySec = 2 * bandUs / 1000000L + 2
    val feedDir = s"$workRoot/feed"
    StreamJoin.withRocksDbState(spark, totalRows) {
      (0 until chunks + 2).foreach { i =>
        val wave =
          if (i < chunks) banded.filter(col("__wave") === i).drop("__wave")
          else {
            // sentinel: one far-future row; the second one rides a watermark
            // already past every real event, so all timers fire
            val ts = tmax + (i - chunks + 1) * (delaySec * 2000000L + span)
            Seq((SentinelKey, -1L - i, new java.sql.Timestamp(ts / 1000L), ts))
              .toDF("user_id", "event_id", "ts", "ts_us")
          }
        wave.coalesce(1).write.mode("append").parquet(feedDir)
        val src = spark.readStream.schema(feed.schema)
          .option("maxFilesPerTrigger", 1000)
          .parquet(feedDir)
          .withWatermark("ts", s"$delaySec seconds")
          .as[Ev]
          .groupByKey(_.user_id)
          .transformWithState(new Reorder,
            TimeMode.EventTime(), OutputMode.Append())
        val q = src.toDF().writeStream.format("parquet")
          .option("path", s"$workRoot/out")
          .option("checkpointLocation", s"$workRoot/ckpt")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
    }
    spark.read.parquet(s"$workRoot/out")
  }
}
