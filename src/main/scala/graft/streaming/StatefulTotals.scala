package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ValueState}

/** ARBITRARY STATEFUL PROCESSING on Spark 4's transformWithState — the
  * successor API to flatMapGroupsWithState (which Sessionize already
  * exercises): typed per-key state handles (ValueState/ListState/MapState,
  * optional TTL) backed by the RocksDB state store, the engine Spark
  * positions for long-lived operational state at scale. The operator here
  * is the canonical one a CDC metrics plane needs: per-key LIFETIME
  * running totals over an unbounded feed — state is one tiny value per
  * key (O(keys), never O(events)), emitted per event.
  *
  * Determinism contract: waves band event time monotonically and each
  * wave is one microbatch, so cross-batch arrival order is the event-time
  * order; within a batch the processor sorts its key's rows on the
  * tie-free (ts_us, event_id) axis. The stream's running totals must then
  * equal the batch window fold exactly — DECIMAL sums, so cross-engine
  * equality is bit-exact after the final cast (the q01 float rule). */
object StatefulTotals {

  final case class EvIn(user_id: Long, event_id: Long, ts_us: Long, value: BigDecimal)
  final case class RunOut(user_id: Long, event_id: Long, n: Long, run_sum: BigDecimal)

  /** Running (count, sum) per key; state survives restarts in RocksDB. */
  class RunningTotals extends StatefulProcessor[Long, EvIn, RunOut] {
    @transient private var acc: ValueState[(Long, BigDecimal)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      acc = getHandle.getValueState[(Long, BigDecimal)]("acc",
        Encoders.product[(Long, BigDecimal)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[EvIn],
        timers: TimerValues): Iterator[RunOut] = {
      var (n, s) = if (acc.exists()) acc.get() else (0L, BigDecimal(0))
      val out = rows.toIndexedSeq.sortBy(e => (e.ts_us, e.event_id)).map { e =>
        n += 1; s += e.value; RunOut(key, e.event_id, n, s)
      }
      acc.update((n, s))
      out.iterator
    }
  }

  /** The q40/q43 banded-wave harness over transformWithState: `chunks`
    * time-banded waves, each ONE microbatch run as a fresh AvailableNow
    * query off one checkpoint — every wave boundary is a full stop/restart,
    * so totals spanning waves prove the RocksDB state survived recovery.
    * Requires (and restores) the RocksDB state-store provider conf. */
  def runningTotalsToCompletion(spark: SparkSession, events: DataFrame,
      workRoot: String, chunks: Int): DataFrame = {
    import spark.implicits._
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(workRoot))
    val feed = events.select(col("user_id").cast("long"),
      col("event_id").cast("long"),
      unix_micros(col("ts").cast("timestamp")).as("ts_us"),
      col("value").cast("decimal(18,6)").as("value"))
      .filter(col("value").isNotNull)
    val mm = feed.agg(min(col("ts_us")), max(col("ts_us")), count(lit(1))).head()
    require(!mm.isNullAt(0), "runningTotalsToCompletion: empty input")
    val (tmin, tmax) = (mm.getLong(0), mm.getLong(1))
    val totalRows = mm.getLong(2)
    val span = math.max(1L, tmax - tmin + 1)
    val banded = feed.withColumn("__band",
      least(lit(chunks - 1), ((col("ts_us") - tmin) * chunks / span).cast("int")))
    val feedDir = s"$workRoot/feed"
    StreamJoin.withRocksDbState(spark, totalRows) {
      (0 until chunks).foreach { i =>
        banded.filter(col("__band") === i).drop("__band")
          .coalesce(1).write.mode("append").parquet(feedDir)
        val src = spark.readStream.schema(feed.schema)
          .option("maxFilesPerTrigger", 1000)
          .parquet(feedDir)
          .as[EvIn]
          .groupByKey(_.user_id)
          .transformWithState(new RunningTotals,
            TimeMode.None(), OutputMode.Append())
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
