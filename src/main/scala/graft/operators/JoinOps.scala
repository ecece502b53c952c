package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables.ld

/** Temporal join operators Spark has no native form of — AS-OF join and
  * interval/range join — built as compositions of existing relational
  * operators (SURVEY.md §4.2 preference (a): no custom plan node needed),
  * each with a single-shuffle scale story.
  *
  * The reference (a per-record NiFi codec, ProtobufDecoder.java) has no
  * join surface at all; these extend the CDC engine's query layer for the
  * event/dimension correlation a change-log consumer runs downstream.
  */
object JoinOps {

  /** AS-OF join: for each left row, the single right row with the same key
    * and the greatest `rightTs` ≤ `leftTs` (ties on `rightTs` broken by the
    * greatest `tiebreak`). Unmatched left rows keep NULL right columns —
    * i.e. DuckDB's `ASOF LEFT JOIN` with a deterministic tie rule.
    *
    * Implementation: union-tag + one running-window pass, NOT a join —
    * both sides are tagged and unioned, then ONE window
    * `last(right_payload, ignoreNulls)` over
    * (partitionBy key, orderBy ts, src, tiebreak, rows unbounded→current)
    * carries the latest right payload forward into each left row. Right
    * rows sort BEFORE left rows at an equal timestamp (src 0 < 1), so the
    * match is inclusive (rightTs == leftTs matches), and ascending
    * tiebreak makes `last` pick the max-tiebreak row among equal-ts rights.
    *
    * Scale: exactly ONE shuffle, on the join key — no row explosion, no
    * per-key driver loop, and the sort is Spark's normal spill-aware
    * window sort. At 100 TB the cost is that of a single groupBy on the
    * same key. A pathologically hot key serializes into one task's sorted
    * run (the ordering is inherently per-key sequential); for that regime,
    * band the timeline and run per-band with carried-forward boundary
    * state — the same two-pass trick Sessionize uses. NULL `leftTs` rows
    * sort first and therefore match nothing; NULL-key/NULL-ts right rows
    * are dropped (they can never be an as-of match).
    *
    * @param rightVals right columns to carry onto the matched left row
    *                  (flattened into the output under their own names —
    *                  rename beforehand on a collision with a left column)
    */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      tiebreak: String, rightVals: Seq[String]): DataFrame = {
    val payload = (tiebreak +: rightVals).distinct
    val payloadT = right.select(payload.map(col): _*).schema
    val rPrep = right
      .where(col(rightKey).isNotNull && col(rightTs).isNotNull)
      .select(
        col(rightKey).as("__k"),
        col(rightTs).as("__t"),
        lit(0).as("__src"),
        col(tiebreak).as("__tb"),
        struct(payload.map(col): _*).as("__r"))
    val lPrep = left
      .withColumn("__k", col(leftKey))
      .withColumn("__t", col(leftTs))
      .withColumn("__src", lit(1))
      .withColumn("__tb", lit(null).cast(right.schema(tiebreak).dataType))
      .withColumn("__r", lit(null).cast(payloadT))
    val w = Window.partitionBy("__k")
      .orderBy(col("__t").asc, col("__src").asc, col("__tb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lPrep.unionByName(rPrep, allowMissingColumns = true)
      .withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__src") === 1)
      .select(left.columns.map(col) ++ payload.map(v => col("__m")(v).as(v)): _*)
  }

  /** Range (proximity) join: every (left, right) pair whose event times lie
    * within `tolUs` microseconds of each other — both boundaries inclusive.
    * There is deliberately NO equi-key: this is the pure time-range case
    * Catalyst would plan as a nested-loop / cartesian join.
    *
    * Implementation: time bucketing turns the theta-join into an equi-join.
    * Left rows land in bucket floor(ts/tol); right rows are exploded into
    * the three buckets {b-1, b, b+1} any |Δts| ≤ tol partner can occupy;
    * the equi-join on the bucket id then only compares temporally-close
    * rows, with the exact |Δts| ≤ tol filter applied after. Each qualifying
    * pair is produced exactly once (the left row's bucket is unique, and a
    * right row visits each of its three buckets once).
    *
    * Scale: one shuffle, on the bucket id; per-task work is
    * O(bucket-pair density), never O(n²) globally. Bucket population
    * follows the event-rate distribution — a burst second is a hot bucket;
    * salt the bucket (split left occupants, replicate right occupants per
    * salt) if a single bucket's pair count outgrows a task, exactly the
    * SkewOps salting recipe. */
  def rangeJoin(left: DataFrame, right: DataFrame,
      leftTsUs: String, rightTsUs: String, tolUs: Long): DataFrame = {
    require(tolUs > 0, s"tolUs must be positive, got $tolUs")
    val l = left.withColumn("__b", floor(col(leftTsUs) / tolUs))
    val r = right
      .withColumn("__b", explode(array(
        floor(col(rightTsUs) / tolUs) - 1,
        floor(col(rightTsUs) / tolUs),
        floor(col(rightTsUs) / tolUs) + 1)))
    l.join(r, Seq("__b"))
      .where(abs(col(leftTsUs) - col(rightTsUs)) <= tolUs)
      .drop("__b")
  }

  /** q100's engine, exposed unsorted so JoinOpsSpec can assert the
    * executed plan has ZERO shuffle exchanges and Explain can dump the
    * reviewable join subtree (the gate's final orderBy adds the one
    * presentation-only range exchange). Writes both sides bucketed, then
    * joins them through the catalog so the scan carries the bucket spec. */
  def bucketedSmbJoin(s: SparkSession, d: String): DataFrame = {
    val root = Gate.workDir("q100")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val ev = ld(s, d, "events").filter(col("value").isNotNull)
    def half(par: Int, cnt: String, sm: String) = ev
      .filter(pmod(col("event_id"), lit(2)) === par)
      .groupBy("user_id")
      .agg(count(lit(1)).as(cnt),
        sum(col("value").cast("decimal(22,6)")).as("d"))
      .select(col("user_id"), col(cnt), col("d").cast("double").as(sm))
    for (t <- Seq("graft_q100_a", "graft_q100_b"))
      s.sql(s"DROP TABLE IF EXISTS $t")
    half(0, "cnt_a", "sum_a").write.mode("overwrite").format("parquet")
      .bucketBy(8, "user_id").sortBy("user_id")
      .option("path", s"$root/a").saveAsTable("graft_q100_a")
    half(1, "cnt_b", "sum_b").write.mode("overwrite").format("parquet")
      .bucketBy(8, "user_id").sortBy("user_id")
      .option("path", s"$root/b").saveAsTable("graft_q100_b")
    s.table("graft_q100_a").hint("merge")
      .join(s.table("graft_q100_b"), Seq("user_id"))
      .select(col("user_id"), col("cnt_a"), col("sum_a"),
        col("cnt_b"), col("sum_b"))
  }

  val queries: Seq[OpQuery] = Seq(

    // AS-OF join gate: each event (with a deterministic as-of timestamp
    // derived into the order-history range) picks up the latest order of
    // its user at or before that instant. The oracle is DuckDB's native
    // ASOF LEFT JOIN over a tie-deduped right side (arg_max per
    // (custkey, orderdate) — the operator's max-tiebreak rule).
    OpQuery("q52_asof_join",
      (s, d) => {
        val ev = ld(s, d, "events").select(
          col("event_id"), col("user_id"),
          expr("timestamp'1995-01-01 00:00:00' + make_interval(0, 0, 0, CAST(event_id % 2400 AS INT), 0, 0, 0)")
            .as("as_of_ts"))
        val ord = ld(s, d, "orders")
        asofJoin(ev, ord, "user_id", "o_custkey", "as_of_ts", "o_orderdate",
            "o_orderkey", Seq("o_orderkey", "o_totalprice"))
          .select(col("event_id"), col("user_id"),
            unix_micros(col("as_of_ts")).as("asof_us"),
            col("o_orderkey"), col("o_totalprice"))
          .orderBy("event_id")
      },
      Some("""WITH ev AS (
          SELECT event_id, user_id,
            TIMESTAMP '1995-01-01' + (event_id % 2400) * INTERVAL 1 DAY AS as_of_ts
          FROM events
        ), r AS (
          SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
                 arg_max(o_totalprice, o_orderkey) AS o_totalprice
          FROM orders GROUP BY o_custkey, o_orderdate
        )
        SELECT ev.event_id, ev.user_id, epoch_us(ev.as_of_ts) AS asof_us,
               r.o_orderkey, r.o_totalprice
        FROM ev ASOF LEFT JOIN r
          ON ev.user_id = r.o_custkey AND ev.as_of_ts >= r.o_orderdate
        ORDER BY event_id""")),

    // Streaming temporal-enrichment gate: the SAME as-of semantics as q52,
    // but the fact side arrives as a STREAM in two waves with a checkpoint
    // resume between them — each microbatch is enriched in foreachBatch
    // (EnrichStream) and appended idempotently (per-batch overwrite dirs).
    // The oracle is q52's: DuckDB ASOF LEFT JOIN over ALL facts — a lost
    // microbatch, a duplicated replay, or a wave served against the wrong
    // dim state all break row counts or values.
    OpQuery("q63_stream_enrich",
      (s, d) => {
        val root = Gate.workDir("q63")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val streamDir = s"$root/stream"; val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
        val ev = ld(s, d, "events").select(
          col("event_id"), col("user_id"),
          expr("timestamp'1995-01-01 00:00:00' + make_interval(0, 0, 0, CAST(event_id % 2400 AS INT), 0, 0, 0)")
            .as("as_of_ts"))
        val ord = ld(s, d, "orders")
        val factSchema = ev.schema
        def wave(pred: org.apache.spark.sql.Column): Unit = {
          ev.filter(pred).repartition(3).write.mode("append").parquet(streamDir)
          graft.streaming.EnrichStream.runWave(s, streamDir, factSchema, ord,
            outDir, ckpt, "user_id", "o_custkey", "as_of_ts", "o_orderdate",
            "o_orderkey", Seq("o_orderkey", "o_totalprice"))
        }
        wave(col("event_id") % 2 === 0)
        wave(col("event_id") % 2 === 1) // resumes from the same checkpoint
        s.read.parquet(outDir)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("as_of_ts")).as("asof_us"),
            col("o_orderkey"), col("o_totalprice"))
          .orderBy("event_id")
      },
      Some("""WITH ev AS (
          SELECT event_id, user_id,
            TIMESTAMP '1995-01-01' + (event_id % 2400) * INTERVAL 1 DAY AS as_of_ts
          FROM events
        ), r AS (
          SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
                 arg_max(o_totalprice, o_orderkey) AS o_totalprice
          FROM orders GROUP BY o_custkey, o_orderdate
        )
        SELECT ev.event_id, ev.user_id, epoch_us(ev.as_of_ts) AS asof_us,
               r.o_orderkey, r.o_totalprice
        FROM ev ASOF LEFT JOIN r
          ON ev.user_id = r.o_custkey AND ev.as_of_ts >= r.o_orderdate
        ORDER BY event_id""")),

    // Range-join gate: all events within ±30 s of any purchase event
    // (excluding the purchase itself) — the no-equi-key proximity case.
    OpQuery("q54_range_join",
      (s, d) => {
        val ev = ld(s, d, "events")
          .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"))
        val markers = ld(s, d, "events")
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("marker_id"),
            unix_micros(col("ts").cast("timestamp")).as("mts_us"))
        rangeJoin(ev, markers, "ts_us", "mts_us", tolUs = 30L * 1000000L)
          .where(col("event_id") =!= col("marker_id"))
          .select(col("marker_id"), col("event_id"),
            (col("ts_us") - col("mts_us")).as("diff_us"))
          .orderBy("marker_id", "event_id")
      },
      Some("""WITH m AS (
          SELECT event_id AS marker_id, ts AS mts FROM events
          WHERE event_type = 'purchase')
        SELECT m.marker_id, e.event_id,
               epoch_us(e.ts) - epoch_us(m.mts) AS diff_us
        FROM events e JOIN m
          ON e.ts BETWEEN m.mts - INTERVAL 30 SECOND
                      AND m.mts + INTERVAL 30 SECOND
        WHERE e.event_id <> m.marker_id
        ORDER BY m.marker_id, e.event_id""")),

    // STREAM-STREAM interval join under the hard gate: the events table is
    // hash-split into two streams (even/odd event ids) that arrive in 3
    // shared time-banded waves; each wave is a fresh AvailableNow query off
    // one checkpoint (2 full stop/restarts), so pairs whose two sides land
    // in different waves can only appear if the buffered join state
    // survived recovery. The oracle is the plain batch interval join —
    // dropped state, duplicated emission, or a watermark eating a
    // matchable row all break equality.
    OpQuery("q77_stream_stream_join",
      (s, d) => {
        val root = Gate.workDir("q77")
        val ev = ld(s, d, "events")
        val left = ev.filter(pmod(col("event_id"), lit(2)) === 0).select(
          col("user_id"), col("event_id").as("l_event_id"),
          col("ts").cast("timestamp").as("l_ts"), col("event_type").as("l_type"))
        val right = ev.filter(pmod(col("event_id"), lit(2)) === 1).select(
          col("user_id").as("user_id"), col("event_id").as("r_event_id"),
          col("ts").cast("timestamp").as("r_ts"), col("event_type").as("r_type"))
        graft.streaming.StreamJoin.intervalJoinStreamToCompletion(
            s, left, right, root, chunks = 3,
            key = "user_id", lTime = "l_ts", rTime = "r_ts",
            tolSeconds = 6L * 3600)
          .select(col("user_id"), col("l_event_id"), col("r_event_id"),
            unix_micros(col("l_ts")).as("l_ts_us"),
            unix_micros(col("r_ts")).as("r_ts_us"),
            col("l_type"), col("r_type"))
          .orderBy("l_event_id", "r_event_id")
      },
      Some("""WITH l AS (SELECT user_id, event_id AS l_event_id, epoch_us(ts) AS l_ts_us,
                 event_type AS l_type FROM events WHERE event_id % 2 = 0),
             r AS (SELECT user_id, event_id AS r_event_id, epoch_us(ts) AS r_ts_us,
                 event_type AS r_type FROM events WHERE event_id % 2 = 1)
        SELECT l.user_id, l_event_id, r_event_id, l_ts_us, r_ts_us, l_type, r_type
        FROM l JOIN r ON l.user_id = r.user_id
          AND r_ts_us >= l_ts_us AND r_ts_us <= l_ts_us + 6::BIGINT*3600*1000000
        ORDER BY l_event_id, r_event_id""")),

    // CO-LOCATED (bucketed) join — the shuffle-free big⋈big strategy the
    // prompt's scale checklist names next to broadcast and salting. Both
    // sides are written `bucketBy(8, user_id).sortBy(user_id)` into the
    // session catalog, so the sort-merge join consumes each table's
    // bucketing as its distribution: the physical plan has ZERO
    // ShuffleExchange nodes (asserted in JoinOpsSpec and surfaced in
    // PLANS.md) — at 100 TB this is the difference between re-shuffling
    // two huge fact tables per query and paying the shuffle ONCE at write
    // time, amortized over every subsequent co-located join. The merge
    // hint keeps AQE from substituting a broadcast at toy scale (which
    // would hide exactly the property under test).
    OpQuery("q100_bucketed_smb_join",
      (s, d) => bucketedSmbJoin(s, d).orderBy("user_id"),
      Some("""WITH a AS (
          SELECT user_id, count(*) AS cnt_a,
                 CAST(sum(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS sum_a
          FROM events WHERE value IS NOT NULL AND event_id % 2 = 0 GROUP BY 1),
        b AS (
          SELECT user_id, count(*) AS cnt_b,
                 CAST(sum(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS sum_b
          FROM events WHERE value IS NOT NULL AND event_id % 2 = 1 GROUP BY 1)
        SELECT user_id, cnt_a, sum_a, cnt_b, sum_b
        FROM a JOIN b USING (user_id) ORDER BY user_id""")),

    // STREAM-STREAM LEFT-OUTER join under the hard gate — the outer
    // variant is the one streaming operator whose OUTPUT is
    // watermark-driven, not just its state: a view with no purchase in
    // the next 30 minutes may only emit its null row once the watermark
    // PROVES no match can still arrive. The harness appends 3 time-banded
    // waves (fresh AvailableNow query per wave off one checkpoint — state
    // survives 3 restarts) plus one future-timestamped sentinel wave that
    // pushes both watermarks past the last real horizon (without it the
    // final band's unmatched rows sit in state forever — the classic
    // stream-outer-join pitfall). Hard-asserted: null rows appear in
    // INTERMEDIATE waves (watermark-driven, not an end-of-stream flush),
    // the sentinel flushes the rest, and the total equals the plain batch
    // left join — a premature null row (emitted while its match was still
    // admissible) or a lost/duplicated emission breaks oracle equality.
    OpQuery("q145_stream_left_outer_join",
      (s, d) => {
        val root = Gate.workDir("q145")
        val ev = ld(s, d, "events")
        val left = ev.filter(col("event_type") === "view").select(
          col("user_id"), col("event_id").as("l_event_id"),
          col("ts").cast("timestamp").as("l_ts"))
        val right = ev.filter(col("event_type") === "purchase").select(
          col("user_id"), col("event_id").as("r_event_id"),
          col("ts").cast("timestamp").as("r_ts"))
        val (out, nullCounts) = graft.streaming.StreamJoin.leftOuterStreamToCompletion(
          s, left, right, root, chunks = 3, key = "user_id",
          lTime = "l_ts", rTime = "r_ts", tolSeconds = 1800L)
        require(nullCounts.init.last > 0,
          "null emissions must be watermark-driven (appear before the sentinel wave)")
        require(nullCounts.last > nullCounts.init.last,
          "the sentinel wave must flush the final horizon")
        CdcQueries.putMetric("q145", "nulls_pre_sentinel", nullCounts.init.last.toDouble)
        CdcQueries.putMetric("q145", "nulls_final", nullCounts.last.toDouble)
        val res = out.select(col("user_id"), col("l_event_id"), col("r_event_id"),
          unix_micros(col("l_ts")).as("l_ts_us"),
          unix_micros(col("r_ts")).as("r_ts_us"))
        require(res.filter(col("r_event_id").isNull).limit(1).count() > 0 &&
          res.filter(col("r_event_id").isNotNull).limit(1).count() > 0,
          "gate is vacuous without both matched and unmatched views")
        res.orderBy("l_event_id", "r_event_id")
      },
      Some("""WITH l AS (SELECT user_id, event_id AS l_event_id, epoch_us(ts) AS l_ts_us
                 FROM events WHERE event_type = 'view'),
             r AS (SELECT user_id, event_id AS r_event_id, epoch_us(ts) AS r_ts_us
                 FROM events WHERE event_type = 'purchase')
        SELECT l.user_id, l_event_id, r_event_id, l_ts_us, r_ts_us
        FROM l LEFT JOIN r ON l.user_id = r.user_id
          AND r_ts_us >= l_ts_us AND r_ts_us <= l_ts_us + 1800::BIGINT*1000000
        ORDER BY l_event_id, r_event_id"""))
  )
}
