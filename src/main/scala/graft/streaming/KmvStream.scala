package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ValueState}

/** STREAMING CARDINALITY MONITOR — the KMV distinct sketch (q82) kept
  * continuously over an unbounded stream: per-group state is the k
  * smallest distinct xxhash64 values, carried across micro-batches in
  * RocksDB via transformWithState. O(k) longs per group at ANY
  * cardinality — never the distinct set.
  *
  * Unlike Misra-Gries (q202), KMV needs no recount pass to be exact
  * about its own contract: the k-minimum set is a pure ORDER STATISTIC
  * of the distinct hash multiset, so it is mergeable and completely
  * insensitive to arrival order, batching, duplication, and restarts —
  * the final streamed sketch is BIT-EQUAL to the batch sketch over the
  * same rows, kth_hash and estimate included (the q82 determinism rule).
  */
object KmvStream {

  final case class KeyIn(grp: String, h: Long)
  final case class SketchOut(grp: String, est_distinct: Double, kth_hash: Option[Long],
      n_sketch: Int, ver: Long)
  final case class KmvState(ver: Long, mins: Seq[Long])

  /** Per-group k-minimum-values on transformWithState: fold the batch's
    * hashes into the sorted k-min set, bump the version, emit the
    * sketch readout (estimate per the q82 formula; unsaturated sketches
    * hold every distinct hash, so their "estimate" is exact). */
  class KmvProcessor(k: Int) extends StatefulProcessor[String, KeyIn, SketchOut] {
    @transient private var st: ValueState[KmvState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[KmvState]("kmv", Encoders.product[KmvState],
        TTLConfig.NONE)

    override def handleInputRows(grp: String, rows: Iterator[KeyIn],
        timers: TimerValues): Iterator[SketchOut] = {
      val prev = if (st.exists()) st.get() else KmvState(0L, Nil)
      val set = scala.collection.mutable.TreeSet.empty[Long] ++ prev.mins
      rows.foreach { r =>
        if (set.size < k) set += r.h
        else if (r.h < set.max && !set.contains(r.h)) { set += r.h; set -= set.max }
      }
      val mins = set.toSeq // sorted ascending
      val ver = prev.ver + 1
      st.update(KmvState(ver, mins))
      val kth = if (mins.length == k) Some(mins.last) else None
      val est = kth match {
        case None => mins.length.toDouble
        case Some(h) =>
          (k - 1).toDouble / ((h.toDouble + 9.223372036854775808e18) / 1.8446744073709551616e19)
      }
      Iterator.single(SketchOut(grp, est, kth, mins.length, ver))
    }
  }

  /** The banded-wave harness (q152/q202 shape) on the KMV processor:
    * `keyed` must carry (grp string, h long, band int); each wave is one
    * AvailableNow query off one checkpoint (full stop/restart at every
    * wave boundary). Returns every emission; the final sketch per group
    * is its max-`ver` row. */
  def sketchToCompletion(spark: SparkSession, keyed: DataFrame,
      workRoot: String, chunks: Int, k: Int): DataFrame = {
    import spark.implicits._
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(workRoot))
    val feedDir = s"$workRoot/feed"
    StreamJoin.withRocksDbState(spark, keyed.count()) {
      (0 until chunks).foreach { i =>
        keyed.filter(col("band") === i).select("grp", "h")
          .coalesce(1).write.mode("append").parquet(feedDir)
        val src = spark.readStream
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("grp",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("h",
              org.apache.spark.sql.types.LongType))))
          .option("maxFilesPerTrigger", 1000)
          .parquet(feedDir)
          .as[KeyIn]
          .groupByKey(_.grp)
          .transformWithState(new KmvProcessor(k), TimeMode.None(),
            OutputMode.Append())
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

  /** Each group's final sketch readout: its max-`ver` emission. */
  def finalSketch(emissions: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp")
    emissions.withColumn("__maxv", max("ver").over(w))
      .filter(col("ver") === col("__maxv"))
      .drop("__maxv", "ver")
  }
}
