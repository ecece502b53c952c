package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAM-STREAM INTERVAL JOIN under watermarks — the two-stream capability
  * the rest of the streaming surface (dedup q40, sessionize q43, enrich
  * q63) doesn't cover: both sides arrive incrementally, neither fits a
  * static snapshot, and a match may PAIR ROWS FROM DIFFERENT MICROBATCHES
  * — Spark buffers the unmatched frontier of both sides in the state store
  * and the range condition (`rts ∈ [lts, lts + tol]`) bounds how long a
  * row can wait, so state is evicted as the watermark passes `lts + tol`.
  *
  * At scale this is the right shape: state is O(rows inside the tolerance
  * horizon), not O(stream); the join itself shuffles both sides on the
  * equi-key per microbatch (hash-partitioned state store), and the file
  * sink's commit log makes the emitted pairs exactly-once across restarts.
  *
  * [[intervalJoinStreamToCompletion]] is the batch≡stream harness (the
  * q43/[[Sessionize]] protocol): both feeds are banded on ONE shared time
  * axis and appended wave by wave; each wave is a fresh AvailableNow query
  * off the same checkpoint, so every wave boundary is a full stop/restart
  * — pairs whose two sides arrive in different waves can only be emitted
  * if the buffered join state SURVIVED the restart. Banding keeps event
  * time monotone across waves, so the 0-second watermark never drops a
  * genuinely matchable row and the stream's output must equal the batch
  * join exactly. */
object StreamJoin {

  /** Run `body` with `spark.sql.shuffle.partitions` sized to the stream's
    * actual row volume (state-store count = shuffle partitions in stateful
    * streaming, and each partition's store pays per-microbatch commit +
    * per-restart recovery I/O — so the partition count must follow the
    * STATE size, not the core count; guide §2's scale-adaptive rule).
    * Restores the session value afterwards. */
  private[graft] def withStreamShuffle[T](spark: SparkSession, rows: Long)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val rowsPerPartition = spark.conf
      .getOption("spark.graft.stream.rowsPerStatePartition").map(_.toLong).getOrElse(50000L)
    val n = math.max(4L, math.min(prev.toLong,
      (rows + rowsPerPartition - 1) / rowsPerPartition)).toInt
    graft.Conf.withConf(spark, "spark.sql.shuffle.partitions" -> n.toString)(body)
  }

  /** [[withStreamShuffle]] on the RocksDB state store provider — the
    * session shape of the stateful streaming operators; both settings are
    * restored afterwards. */
  private[graft] def withRocksDbState[T](spark: SparkSession, rows: Long)(body: => T): T =
    graft.Conf.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      withStreamShuffle(spark, rows)(body)
    }

  /** Append-mode inner interval join of two streaming frames: equi-key
    * plus `r.$rTime ∈ [l.$lTime, l.$lTime + tolSeconds]`. The right key
    * column must be pre-renamed by the caller (no ambiguous columns). */
  def intervalJoin(left: DataFrame, right: DataFrame, lKey: String, rKey: String,
      lTime: String, rTime: String, tolSeconds: Long): DataFrame =
    left.join(right, expr(
      s"$lKey = $rKey AND $rTime >= $lTime AND " +
      s"$rTime <= $lTime + interval $tolSeconds seconds"))

  /** LEFT-OUTER interval join: matched pairs emit like the inner join;
    * an UNMATCHED left row emits with nulls on the right side — but only
    * once the watermark passes `lts + tol` and proves no match can still
    * arrive. That makes the outer join the one streaming operator whose
    * OUTPUT (not just its state) is watermark-driven: nothing ever emits
    * "unmatched" early, and state eviction and null emission are the same
    * event. */
  def leftOuterIntervalJoin(left: DataFrame, right: DataFrame, lKey: String,
      rKey: String, lTime: String, rTime: String, tolSeconds: Long): DataFrame =
    left.join(right, expr(
      s"$lKey = $rKey AND $rTime >= $lTime AND " +
      s"$rTime <= $lTime + interval $tolSeconds seconds"), "left_outer")

  /** One synthetic row shaped like `df` with the key/time columns replaced
    * — the watermark-advancing sentinel for [[leftOuterStreamToCompletion]].
    * Non-key columns keep an arbitrary real value; sentinel rows are
    * filtered from the result by key. */
  private def sentinelRow(df: DataFrame, keyCol: String, tsCol: String,
      keyVal: Long, tsUs: Long): DataFrame =
    df.limit(1).select(df.columns.toIndexedSeq.map {
      case c if c == keyCol => lit(keyVal).cast(df.schema(c).dataType).as(c)
      case c if c == tsCol => timestamp_micros(lit(tsUs)).as(c)
      case c => col(c)
    }: _*)

  /** Run `left ⟕ right` as a stream in `chunks` time-banded waves (the
    * [[intervalJoinStreamToCompletion]] harness) plus ONE final sentinel
    * wave: a single future-timestamped row per side (key = `sentinelKey`,
    * which must not occur in the data) pushes both watermarks past every
    * real row's horizon, so the last band's unmatched rows emit their null
    * form — without it they would sit in state forever, the classic
    * stream-outer-join pitfall. Returns (result, null-row count after each
    * wave): the per-wave counts let a caller assert the null emissions were
    * WATERMARK-driven (they appear in intermediate waves), not an
    * end-of-stream flush. */
  def leftOuterStreamToCompletion(spark: SparkSession,
      left: DataFrame, right: DataFrame, workRoot: String, chunks: Int,
      key: String, lTime: String, rTime: String, tolSeconds: Long,
      sentinelKey: Long = -1L): (DataFrame, Seq[Long]) = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(workRoot))
    val rKey = s"__r_$key"
    val r2 = right.withColumnRenamed(key, rKey)
    val mm = left.select(unix_micros(col(lTime)).as("t"))
      .unionByName(right.select(unix_micros(col(rTime)).as("t")))
      .agg(min(col("t")).as("lo"), max(col("t")).as("hi"),
        count(col("t")).as("n")).head()
    require(!mm.isNullAt(0), "leftOuterStreamToCompletion: empty inputs")
    val (tmin, tmax) = (mm.getLong(0), mm.getLong(1))
    val totalRows = mm.getLong(2)
    val span = math.max(1L, tmax - tmin + 1)
    def banded(df: DataFrame, ts: String): DataFrame = df.withColumn("__band",
      least(lit(chunks - 1), ((unix_micros(col(ts)) - tmin) * chunks / span).cast("int")))
    val (lb, rb) = (banded(left, lTime), banded(r2, rTime))
    val (feedL, feedR) = (s"$workRoot/feed_l", s"$workRoot/feed_r")
    val sentinelTs = tmax + (tolSeconds + 60L) * 1000000L
    val nullCounts = scala.collection.mutable.ArrayBuffer[Long]()
    def runWave(appendL: DataFrame, appendR: DataFrame): Unit = {
      appendL.write.mode("append").parquet(feedL)
      appendR.write.mode("append").parquet(feedR)
      val ls = spark.readStream.schema(left.schema).parquet(feedL)
        .withWatermark(lTime, "0 seconds")
      val rs = spark.readStream.schema(r2.schema).parquet(feedR)
        .withWatermark(rTime, "0 seconds")
      val q = leftOuterIntervalJoin(ls, rs, key, rKey, lTime, rTime, tolSeconds)
        .writeStream.format("parquet")
        .option("path", s"$workRoot/out")
        .option("checkpointLocation", s"$workRoot/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      nullCounts += spark.read.parquet(s"$workRoot/out")
        .filter(col(rKey).isNull).count()
    }
    withStreamShuffle(spark, totalRows) {
      (0 until chunks).foreach { i =>
        runWave(lb.filter(col("__band") === i).drop("__band"),
          rb.filter(col("__band") === i).drop("__band"))
      }
      runWave(sentinelRow(left, key, lTime, sentinelKey, sentinelTs),
        sentinelRow(r2, rKey, rTime, sentinelKey, sentinelTs))
    }
    val out = spark.read.parquet(s"$workRoot/out")
      .filter(col(key) =!= sentinelKey).drop(rKey)
    (out, nullCounts.toSeq)
  }

  /** Run `left ⋈ right` as a stream in `chunks` time-banded waves and
    * return the joined result; both inputs are BATCH frames with a `key`
    * column and an event-time column (`lTime`/`rTime`, timestamp type). */
  def intervalJoinStreamToCompletion(spark: SparkSession,
      left: DataFrame, right: DataFrame, workRoot: String, chunks: Int,
      key: String, lTime: String, rTime: String, tolSeconds: Long): DataFrame = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(workRoot))
    val r2 = right.withColumnRenamed(key, s"__r_$key")
    // one shared time axis so both sides' watermarks advance in lockstep
    val mm = left.select(unix_micros(col(lTime)).as("t"))
      .unionByName(right.select(unix_micros(col(rTime)).as("t")))
      .agg(min(col("t")).as("lo"), max(col("t")).as("hi"),
        count(col("t")).as("n")).head()
    require(!mm.isNullAt(0), "intervalJoinStreamToCompletion: empty inputs")
    val (tmin, tmax) = (mm.getLong(0), mm.getLong(1))
    val totalRows = mm.getLong(2)
    val span = math.max(1L, tmax - tmin + 1)
    def banded(df: DataFrame, ts: String): DataFrame = df.withColumn("__band",
      least(lit(chunks - 1), ((unix_micros(col(ts)) - tmin) * chunks / span).cast("int")))
    val (lb, rb) = (banded(left, lTime), banded(r2, rTime))
    val (feedL, feedR) = (s"$workRoot/feed_l", s"$workRoot/feed_r")
    withStreamShuffle(spark, totalRows) {
      (0 until chunks).foreach { i =>
        lb.filter(col("__band") === i).drop("__band").write.mode("append").parquet(feedL)
        rb.filter(col("__band") === i).drop("__band").write.mode("append").parquet(feedR)
        val ls = spark.readStream.schema(left.schema).parquet(feedL)
          .withWatermark(lTime, "0 seconds")
        val rs = spark.readStream.schema(r2.schema).parquet(feedR)
          .withWatermark(rTime, "0 seconds")
        val q = intervalJoin(ls, rs, key, s"__r_$key", lTime, rTime, tolSeconds)
          .drop(s"__r_$key")
          .writeStream.format("parquet")
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
