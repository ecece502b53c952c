package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ValueState}

/** CONTINUOUS TOP-K LEADERBOARD — the third member of the mergeable-state
  * streaming family (q202 Misra-Gries: approximate sketch + exact recount;
  * q206 KMV: order statistic; here: TRUNCATION): per group, the k largest
  * (value, id) rows, carried across micro-batches in RocksDB via
  * transformWithState. Top-k is union-truncate mergeable — the top-k of a
  * union is among the sides' top-k — so like KMV the streamed final state
  * is EXACTLY the batch window top-k regardless of arrival order, wave
  * cuts, duplication (same (value, id) re-delivered), or restarts. State
  * is O(k) rows per group at any stream length. Ties break by id
  * ascending — total order, so the result is unique. */
object TopKStream {

  final case class RowIn(grp: String, id: Long, value: Double)
  final case class TopOut(grp: String, rank: Int, id: Long, value: Double, ver: Long)
  final case class TopState(ver: Long, ids: Seq[Long], values: Seq[Double])

  class TopKProcessor(k: Int) extends StatefulProcessor[String, RowIn, TopOut] {
    @transient private var st: ValueState[TopState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[TopState]("topk", Encoders.product[TopState],
        TTLConfig.NONE)

    override def handleInputRows(grp: String, rows: Iterator[RowIn],
        timers: TimerValues): Iterator[TopOut] = {
      val prev = if (st.exists()) st.get() else TopState(0L, Nil, Nil)
      val merged = (prev.ids.iterator.zip(prev.values.iterator).map {
        case (id, v) => (v, id)
      } ++ rows.map(r => (r.value, r.id))).toSeq
        .distinct // exact re-deliveries collapse
        .sortBy { case (v, id) => (-v, id) }
        .take(k)
      val ver = prev.ver + 1
      st.update(TopState(ver, merged.map(_._2), merged.map(_._1)))
      merged.iterator.zipWithIndex.map { case ((v, id), i) =>
        TopOut(grp, i + 1, id, v, ver)
      }
    }
  }

  /** The banded-wave harness (q152/q202/q206 shape): `keyed` carries
    * (grp string, id long, value double, band int); each wave one
    * AvailableNow query off one checkpoint. */
  def topKToCompletion(spark: SparkSession, keyed: DataFrame,
      workRoot: String, chunks: Int, k: Int): DataFrame = {
    import spark.implicits._
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(workRoot))
    val feedDir = s"$workRoot/feed"
    StreamJoin.withRocksDbState(spark, keyed.count()) {
      (0 until chunks).foreach { i =>
        keyed.filter(col("band") === i).select("grp", "id", "value")
          .coalesce(1).write.mode("append").parquet(feedDir)
        val src = spark.readStream
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("grp",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.DoubleType))))
          .option("maxFilesPerTrigger", 1000)
          .parquet(feedDir)
          .as[RowIn]
          .groupByKey(_.grp)
          .transformWithState(new TopKProcessor(k), TimeMode.None(),
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

  /** Each group's final leaderboard: its max-`ver` emission. */
  def finalTopK(emissions: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp")
    emissions.withColumn("__maxv", max("ver").over(w))
      .filter(col("ver") === col("__maxv"))
      .drop("__maxv", "ver")
  }
}
