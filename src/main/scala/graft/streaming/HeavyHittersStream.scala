package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ValueState}

/** CONTINUOUS HEAVY HITTERS over an unbounded stream — the streaming twin
  * of q154's batch Misra-Gries: "which repos are hot in the change feed
  * RIGHT NOW, with bounded state, exactly". State is a k-counter MG
  * summary per shard (shard = hash60(key) mod nShards), carried across
  * micro-batches in the RocksDB store via transformWithState, so the
  * sketch over the whole history costs O(nShards · k) — never O(keys),
  * never O(events).
  *
  * Correctness contract (what makes the final answer EXACT and
  * path-independent even though MG itself is order-sensitive): a key
  * lands wholly in one shard, and running MG incrementally batch-by-batch
  * over a shard's substream IS one MG run over that substream — so the
  * final tracked set provably supersets every key with
  * freq > N_shard/(k+1) ≥ freq > N/(k+1). An exact recount of just the
  * tracked candidates filtered at the global threshold therefore returns
  * EXACTLY the keys with freq > N/(k+1), regardless of arrival order,
  * partitioning, or how the waves were cut — which is what the DuckDB
  * oracle checks with a plain GROUP BY ... HAVING.
  */
object HeavyHittersStream {

  final case class KeyIn(shard: Int, key: String)
  /** One tracked (key, residual count) at sketch version `ver` — the
    * emission after the shard's `ver`-th non-empty micro-batch. */
  final case class SketchRow(shard: Int, key: String, cnt: Long, ver: Long)
  final case class MgState(ver: Long, keys: Seq[String], cnts: Seq[Long])

  /** Per-shard Misra-Gries on transformWithState: fold the batch's rows
    * into the k-counter map, bump the state version, emit the full
    * tracked set (sorted — deterministic file content per version). */
  class MgProcessor(k: Int) extends StatefulProcessor[Int, KeyIn, SketchRow] {
    @transient private var st: ValueState[MgState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[MgState]("mg", Encoders.product[MgState],
        TTLConfig.NONE)

    override def handleInputRows(shard: Int, rows: Iterator[KeyIn],
        timers: TimerValues): Iterator[SketchRow] = {
      val prev = if (st.exists()) st.get() else MgState(0L, Nil, Nil)
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      prev.keys.iterator.zip(prev.cnts.iterator).foreach { case (kk, c) =>
        counts.update(kk, c)
      }
      rows.foreach { r =>
        counts.get(r.key) match {
          case Some(c) => counts.update(r.key, c + 1)
          case None if counts.size < k => counts.update(r.key, 1L)
          case None =>
            // decrement-all: the unmatched arrival cancels one unit of every
            // tracked key; the new key itself is NOT inserted (q154's step)
            val dead = List.newBuilder[String]
            counts.foreach { case (kk, c) =>
              if (c == 1L) dead += kk else counts.update(kk, c - 1)
            }
            dead.result().foreach(counts.remove)
        }
      }
      val ver = prev.ver + 1
      val sorted = counts.toSeq.sortBy(_._1)
      st.update(MgState(ver, sorted.map(_._1), sorted.map(_._2)))
      sorted.iterator.map { case (kk, c) => SketchRow(shard, kk, c, ver) }
    }
  }

  /** The q152 banded-wave harness on the MG processor: `chunks` waves of
    * `keyed` (shard int, key string, band int), each wave one AvailableNow
    * query off ONE checkpoint — every wave boundary is a full
    * stop/restart, so a sketch whose counts span waves proves the RocksDB
    * state survived recovery. Returns every emission; the FINAL sketch is
    * each shard's max-`ver` rows. */
  def sketchToCompletion(spark: SparkSession, keyed: DataFrame,
      workRoot: String, chunks: Int, k: Int): DataFrame = {
    import spark.implicits._
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(workRoot))
    val feedDir = s"$workRoot/feed"
    StreamJoin.withRocksDbState(spark, keyed.count()) {
      (0 until chunks).foreach { i =>
        keyed.filter(col("band") === i).select("shard", "key")
          .coalesce(1).write.mode("append").parquet(feedDir)
        val src = spark.readStream
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("shard",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("key",
              org.apache.spark.sql.types.StringType))))
          .option("maxFilesPerTrigger", 1000)
          .parquet(feedDir)
          .as[KeyIn]
          .groupByKey(_.shard)
          .transformWithState(new MgProcessor(k), TimeMode.None(),
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

  /** Each shard's final tracked set: its max-`ver` emission (a shard's
    * state only changes — and only emits — when it receives rows). */
  def finalSketch(emissions: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("shard")
    emissions.withColumn("__maxv", max("ver").over(w))
      .filter(col("ver") === col("__maxv"))
      .drop("__maxv")
  }
}
