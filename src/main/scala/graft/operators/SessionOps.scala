package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Tables.ld

/** Sessionization queries over the events table (gap = 12 hours — chosen so
  * the synthetic corpus yields ~3 events/session; the operator is
  * gap-parameterized).
  *
  * q33 is the DECLARATIVE shape: Spark's native `session_window` — the same
  * plan sessionizes a stream under a watermark (graft.streaming.Sessionize;
  * batch ≡ stream equality is property-tested in SessionizeStreamSpec).
  * One shuffle on user_id, sort-merging sessions without materializing a
  * user's history — the shape that survives 100 TB event logs.
  *
  * q34 builds the per-session ordered event-type PATH (episode construction
  * for training data): lag/cumsum session ids, then an in-session sort via
  * array_sort over (ts, event_id, type) structs — session-bounded memory,
  * not user-bounded. The oracle reproduces the identical session split and
  * tie-break order.
  */
object SessionOps {

  val GapHours = 12
  private val gapUs: Long = GapHours * 3600L * 1000000L

  // new session iff gap STRICTLY > 12h — EXACTLY session_window's merge
  // rule, which is INCLUSIVE at the boundary: an event at last_ts + gap
  // still merges (pinned by SessionizeStreamSpec's exact-boundary test —
  // a `>=` here silently diverges from the native operator at the
  // one-microsecond boundary)
  private val nsDuck =
    s"""CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
       | OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL $GapHours HOUR
       | THEN 1 ELSE 0 END""".stripMargin.replace("\n", " ")

  private val sidDuckCtes =
    s"""o AS (SELECT user_id, event_id, ts, value, event_type, $nsDuck AS ns FROM events),
       |s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |  ROWS UNBOUNDED PRECEDING) AS sid FROM o)""".stripMargin.replace("\n", " ")

  val queries: Seq[OpQuery] = Seq(

    OpQuery("q33_sessionize",
      (s, d) => {
        val ev = ld(s, d, "events")
          .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("value"))
        graft.streaming.Sessionize.sessions(ev, s"$GapHours hours")
          .orderBy("user_id", "session_start_us")
      },
      Some(s"""WITH $sidDuckCtes
        SELECT user_id, min(epoch_us(ts)) AS session_start_us,
          max(epoch_us(ts)) AS session_end_us, count(*) AS n_events,
          CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_us""")),

    OpQuery("q43_sessionize_stream",
      // q33's plan run as a STREAM to completion under the hard gate:
      // the events table arrives in 3 contiguous time-banded waves through
      // a file source with a 0-second watermark; each wave is a fresh
      // AvailableNow query off one checkpoint (2 watermark/state
      // recoveries); a far-future flush event per user closes the trailing
      // sessions. The emitted sessions must equal q33's BATCH oracle —
      // stream ≡ batch for sessionization under the same gate q40 gives
      // streaming dedup.
      (s, d) => {
        val root = Gate.workDir("q43")
        val ev = ld(s, d, "events")
          .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("value"))
        graft.streaming.Sessionize
          .sessionsStreamToCompletion(s, ev, root, chunks = 3, gap = s"$GapHours hours")
          .orderBy("user_id", "session_start_us")
      },
      Some(s"""WITH $sidDuckCtes
        SELECT user_id, min(epoch_us(ts)) AS session_start_us,
          max(epoch_us(ts)) AS session_end_us, count(*) AS n_events,
          CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_us""")),

    OpQuery("q34_session_paths",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ld(s, d, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("event_type"))
          .withColumn("ns",
            when(lag(col("ts_us"), 1).over(w).isNull ||
              col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1).otherwise(0))
          .withColumn("sid", sum(col("ns")).over(wCum))
          .groupBy("user_id", "sid")
          .agg(
            min(col("ts_us")).as("session_start_us"),
            count(lit(1)).as("n_events"),
            concat_ws(",", transform(
              array_sort(collect_list(struct(col("ts_us"), col("event_id"), col("event_type")))),
              x => x.getField("event_type"))).as("path"))
          .select("user_id", "session_start_us", "n_events", "path")
          .orderBy("user_id", "session_start_us")
      },
      Some(s"""WITH $sidDuckCtes
        SELECT user_id, min(epoch_us(ts)) AS session_start_us, count(*) AS n_events,
          string_agg(event_type, ',' ORDER BY ts, event_id) AS path
        FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_us""")),

    OpQuery("q39_tumbling_window",
      // fixed (tumbling) event-time windows via the native window()
      // aggregate — the same plan runs over a stream under a watermark
      // (SessionizeStreamSpec's tumbling test). Spark aligns windows to the
      // epoch in the session timezone (UTC), [start, end): the oracle
      // reproduces the boundary with integer floor arithmetic on micros.
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        ld(s, d, "events")
          .select(col("ts").cast("timestamp").as("ts"), col("event_type"), col("value"))
          .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
          .select(unix_micros(col("w.start")).as("window_start_us"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy("window_start_us", "event_type")
      },
      Some("""SELECT (epoch_us(ts) // 21600000000) * 21600000000 AS window_start_us,
          event_type, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY window_start_us, event_type"""))
      ,

    OpQuery("q124_late_backfill",
      // LATE-DATA BACKFILL REPAIR under the hard gate: q39's tumbling
      // aggregate runs as a watermarked STREAM over 5 arrival waves where
      // every 97th event arrives two waves late — far beyond the 1-hour
      // watermark, so Spark drops it from the emitted windows (the gate
      // hard-asserts the stream really was wrong). The streamed windows
      // load into an IceLite serving table; a batch reconciliation then
      // finds the late-touched windows from the log's own (event time,
      // arrival band) metadata, re-aggregates ONLY those windows, and
      // MERGEs the rows that differ. The repaired table must equal the
      // plain full aggregate — the oracle is exactly q39's SQL, reached
      // through stream + drop + detect + repair instead of one batch scan.
      (s, d) => {
        import graft.streaming.LateRepair
        import graft.lake.{Dml, IceLite}
        val clock = new CdcQueries.PhaseClock("q124")
        val root = Gate.workDir("q124")
        val tableDir = s"$root/table"
        val ev = ld(s, d, "events")
          .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
            col("event_type"), col("value"))
        val (streamed, stats) = clock("stream") {
          val r = LateRepair.runStreamWithLateArrivals(
            s, ev, root, chunks = 5, windowDur = "6 hours", delay = "1 hour",
            latePeriod = 97)
          (r._1.localCheckpoint(), r._2)
        }
        require(stats.lateArrivals > 0,
          s"gate is vacuous: no late arrivals (latePeriod too large for this sf?)")
        CdcQueries.putMetric("q124", "late_arrivals", stats.lateArrivals.toDouble)
        CdcQueries.putMetric("q124", "dropped_by_watermark", stats.droppedByWatermark.toDouble)
        def fid(id: Int) = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("graft.fieldId", id.toLong).build()
        clock("load") {
          IceLite.create(tableDir, IceLite.withCdcCols(Vector(
            IceLite.ColDef(1, "window_start_us", "BIGINT"),
            IceLite.ColDef(2, "event_type", "STRING"),
            IceLite.ColDef(3, "n", "BIGINT"),
            IceLite.ColDef(4, "sum_value", "DOUBLE"))),
            Vector("window_start_us", "event_type"), buckets = 8)
          graft.lake.Merge.mergeEpoch(s, tableDir, streamed.select(
            col("window_start_us").as("window_start_us", fid(1)),
            col("event_type").as("event_type", fid(2)),
            col("n").as("n", fid(3)),
            col("sum_value").as("sum_value", fid(4)),
            lit(1L).as("__ld_seq"), lit("UPSERT").as("__ld_op")),
            "__ld_seq", "__ld_op", "stream-load-1")
        }
        val (nCorr, nWin) = clock("repair") {
          val feed = s.read.parquet(s"$root/feed")
          val late = LateRepair.lateWindows(feed, "6 hours", chunks = 5)
          val corr = LateRepair
            .corrections(feed, streamed, "6 hours", late).localCheckpoint()
          val n = corr.count()
          // the stream MUST have been wrong somewhere, and right almost
          // everywhere — otherwise this gate proves nothing about repair
          require(n > 0, "no corrections: the watermark dropped nothing?")
          val total = streamed.count()
          require(n < total,
            s"stream was wrong on $n of $total windows — late shift swamped it")
          Dml.mergeInto(s, tableDir, corr,
            matchedDelete = None,
            matchedSet = Seq("n" -> "s.n", "sum_value" -> "s.sum_value"),
            insertNotMatched = true,
            epochId = "late-repair-1")
          (n, total)
        }
        CdcQueries.putMetric("q124", "windows_corrected", nCorr.toDouble)
        CdcQueries.putMetric("q124", "windows_total", nWin.toDouble)
        IceLite.read(s, IceLite.load(tableDir))
          .select("window_start_us", "event_type", "n", "sum_value")
          .orderBy("window_start_us", "event_type")
      },
      Some("""SELECT (epoch_us(ts) // 21600000000) * 21600000000 AS window_start_us,
          event_type, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY window_start_us, event_type""")),

    // PEAK CONCURRENCY (sweep line): how many sessions are open at once —
    // the capacity-planning / load-curve operator. Intervals are the q33
    // sessions; endpoints become (+1 at start, -1 at end+1: inclusive
    // ends, so back-to-back sessions never overlap), and the running sum
    // is computed by TimeSeriesOps.sweepConcurrency — banded partial sums
    // + an O(bands) driver prefix, ONE shuffle, no global sort (the q94
    // prefix-sum shape; a plain `ORDER BY t` window would serialize the
    // sweep through one task at scale). The gate hard-asserts the sweep
    // closes at zero and the oracle recomputes the identical curve with a
    // genuine global window in DuckDB.
    OpQuery("q146_peak_concurrency",
      (s, d) => {
        val ev = ld(s, d, "events")
          .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("value"))
        val sess = graft.streaming.Sessionize.sessions(ev, s"$GapHours hours")
        val pts = sess.select(col("session_start_us").as("t"), lit(1L).as("delta"))
          .unionByName(sess.select((col("session_end_us") + 1).as("t"),
            lit(-1L).as("delta")))
        val conc = TimeSeriesOps.sweepConcurrency(pts, bands = 16)
        val rows = conc.orderBy(col("t").desc, col("delta").desc).limit(1).head()
        require(rows.getLong(2) == 0L, s"sweep must close at zero, got $rows")
        val peak = conc.agg(max(col("conc"))).head().getLong(0)
        require(peak > 1, s"gate is vacuous at peak $peak")
        CdcQueries.putMetric("q146", "peak_concurrency", peak.toDouble)
        conc.orderBy("t", "delta")
      },
      Some(s"""WITH $sidDuckCtes,
        sess AS (SELECT user_id, min(epoch_us(ts)) AS st, max(epoch_us(ts)) AS en
                 FROM s GROUP BY user_id, sid),
        pts AS (SELECT st AS t, CAST(1 AS BIGINT) AS delta FROM sess
                UNION ALL SELECT en + 1, CAST(-1 AS BIGINT) FROM sess),
        g AS (SELECT t, delta, CAST(sum(delta) AS BIGINT) AS d FROM pts GROUP BY 1, 2)
        SELECT t, delta, CAST(sum(d) OVER (ORDER BY t, delta
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
        FROM g ORDER BY t, delta""")),

    // AT-LEAST-ONCE DELIVERY DEDUP (native dropDuplicatesWithinWatermark)
    // under the hard gate: the events feed is re-delivered the way real
    // transports misbehave — every 3rd event arrives AGAIN one wave later
    // (same event time, later arrival: the cross-restart case — dropped
    // only if dedup state survived the stop/restart between waves), every
    // 9th arrives twice within its own wave (the same-microbatch case).
    // The stream's output must equal the exact batch distinct — a dropped
    // original, a surviving duplicate, or state lost at a restart all
    // break oracle equality. State is evicted by the watermark at scale
    // (O(delay horizon), not O(stream)); the harness delay covers the
    // whole span so the equality is exact.
    OpQuery("q149_stream_delivery_dedup",
      (s, d) => {
        val root = Gate.workDir("q149")
        val chunks = 3
        val ev = ld(s, d, "events").select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp").as("ts"), col("event_type"))
        val mm = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
        val (tmin, tmax) = (mm.getLong(0), mm.getLong(1))
        val span = math.max(1L, tmax - tmin + 1)
        val band = least(lit(chunks - 1),
          ((unix_micros(col("ts")) - tmin) * chunks / span).cast("int"))
        val originals = ev.withColumn("__band", band)
        val lateDups = ev.filter(pmod(col("event_id"), lit(3)) === 0)
          .withColumn("__band", least(lit(chunks - 1), band + 1))
        val sameWaveDups = ev.filter(pmod(col("event_id"), lit(9)) === 0)
          .withColumn("__band", band)
        val feed = originals.unionByName(lateDups).unionByName(sameWaveDups)
        val nDups = feed.count() - ev.count()
        require(nDups > 0, "gate is vacuous without duplicates")
        val out = graft.streaming.NativeDedup.dedupStreamToCompletion(
          s, feed, root, chunks, idCol = "event_id", tsCol = "ts", delay = "365 days")
        require(out.count() == ev.count(),
          s"every duplicate dropped, every original kept (${out.count()} vs ${ev.count()})")
        CdcQueries.putMetric("q149", "duplicates_fed", nDups.toDouble)
        out.select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
        FROM events ORDER BY event_id""")),

    // ARBITRARY STATEFUL PROCESSING (Spark 4 transformWithState + RocksDB
    // state store) under the hard gate: per-user LIFETIME running totals —
    // one tiny typed ValueState per key (O(keys), never O(events)) —
    // emitted per event across 3 banded waves, each a fresh AvailableNow
    // query off one checkpoint (2 full stop/restarts: totals spanning
    // waves prove the RocksDB state survived recovery). The stream must
    // equal the batch window fold exactly; DECIMAL sums keep the
    // cross-engine compare bit-exact (q01 rule).
    OpQuery("q152_stateful_totals",
      (s, d) => {
        val root = Gate.workDir("q152")
        val out = graft.streaming.StatefulTotals.runningTotalsToCompletion(
          s, ld(s, d, "events"), root, chunks = 3)
        out.select(col("user_id"), col("event_id"), col("n"),
          col("run_sum").cast("double").as("run_sum"))
          .orderBy("event_id")
      },
      Some("""SELECT user_id, event_id,
          CAST(count(*) OVER w AS BIGINT) AS n,
          CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS run_sum
        FROM events WHERE value IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
        ORDER BY event_id""")),

    // EVENT-TIME RESEQUENCER under the hard gate: the feed arrives OUT OF
    // ORDER (every 5th event slips one wave late; intra-wave order is
    // whatever the shuffle produced) across 3 banded waves + 2 sentinel
    // pushes, each a fresh AvailableNow query off one checkpoint — buffered
    // rows, per-key emission counters, and armed event-time timers all
    // survive full stop/restarts. The operator may only release a row once
    // the watermark proves its position final; the stream's emitted
    // (ts_us, event_id) sequence must equal the batch row_number over the
    // full input — a row released early (misordered), held forever
    // (timer loss), dropped, or double-emitted all break oracle equality.
    OpQuery("q156_event_resequencer",
      (s, d) => {
        val root = Gate.workDir("q156")
        val ev = ld(s, d, "events")
        val out = graft.streaming.Resequence.resequenceToCompletion(
          s, ev, root, chunks = 3)
        require(out.filter(col("user_id") ===
          graft.streaming.Resequence.SentinelKey).limit(1).count() == 0,
          "sentinel rows must not leak into the output")
        val (nOut, nIn) = (out.count(), ev.count())
        require(nOut == nIn, s"every event exactly once ($nOut vs $nIn)")
        out.select("user_id", "event_id", "ts_us", "emit_seq")
          .orderBy("event_id")
      },
      Some("""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
          CAST(row_number() OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts), event_id) AS BIGINT) AS emit_seq
        FROM events ORDER BY event_id""")),

    // STREAMING DRIFT MONITOR under the hard gate: wave 0 establishes the
    // reference histogram (persisted side state), waves 1-2 are scored
    // against it inside foreachBatch — each wave a fresh AvailableNow
    // query off one checkpoint (full stop/restarts; the reference must
    // survive them outside the checkpoint). The oracle re-derives the
    // exact integer-div wave assignment, every per-wave histogram, and
    // the fixed-order statistic chain in SQL — a batch scored against the
    // wrong reference, a lost reference after restart, or any float
    // looseness in the online statistic all hash-diverge.
    OpQuery("q158_drift_monitor",
      (s, d) => {
        val root = Gate.workDir("q158")
        val out = graft.streaming.DriftMonitor.monitorToCompletion(
          s, ld(s, d, "events"), root, chunks = 3,
          "cast(floor(value) as bigint)", bins = 16, width = 32)
        require(out.select("wave").distinct().count() == 2,
          "exactly waves 1 and 2 must be scored")
        require(out.filter(col("drift_stat") > 0).limit(1).count() > 0,
          "gate is vacuous with zero measured drift")
        out.orderBy("wave", "bin")
      },
      Some {
        val terms = (0 until 16)
          .map(b => s"max(CASE WHEN bin = $b THEN term END)").mkString(" + ")
        s"""WITH base AS (SELECT epoch_us(ts) AS tu,
              CAST(floor(value) AS BIGINT) AS v
            FROM events WHERE value IS NOT NULL),
          mm AS (SELECT min(tu) AS tmin, max(tu) - min(tu) + 1 AS span FROM base),
          w AS (SELECT least(2, CAST(((tu - tmin) * 3) // span AS INT)) AS wave,
                 least(15, greatest(0, CAST((v // 32) AS INT))) AS bin
                FROM base, mm),
          h AS (SELECT wave, bin, count(*) AS c FROM w GROUP BY 1, 2),
          nw AS (SELECT wave, count(*) AS n FROM w GROUP BY 1),
          spine AS (SELECT wv.wave, b.bin
                    FROM (SELECT DISTINCT wave FROM w WHERE wave > 0) wv,
                         (SELECT CAST(range AS INT) AS bin FROM range(16)) b),
          j AS (SELECT s.wave, s.bin,
                  CAST(coalesce(hr.c, 0) AS BIGINT) AS c_ref,
                  CAST(coalesce(hn.c, 0) AS BIGINT) AS c_new
                FROM spine s
                LEFT JOIN h hr ON hr.wave = 0 AND hr.bin = s.bin
                LEFT JOIN h hn ON hn.wave = s.wave AND hn.bin = s.bin),
          t AS (SELECT j.wave, j.bin, j.c_ref, j.c_new,
                 CASE WHEN j.c_ref + j.c_new > 0 THEN
                   ((CAST(j.c_ref AS DOUBLE) / CAST(n0.n AS DOUBLE))
                     - (CAST(j.c_new AS DOUBLE) / CAST(nx.n AS DOUBLE)))
                   * ((CAST(j.c_ref AS DOUBLE) / CAST(n0.n AS DOUBLE))
                     - (CAST(j.c_new AS DOUBLE) / CAST(nx.n AS DOUBLE)))
                   / ((CAST(j.c_ref AS DOUBLE) + CAST(j.c_new AS DOUBLE))
                     / (CAST(n0.n AS DOUBLE) + CAST(nx.n AS DOUBLE)))
                 ELSE 0.0 END AS term
                FROM j
                JOIN nw nx ON nx.wave = j.wave
                JOIN nw n0 ON n0.wave = 0),
          stat AS (SELECT wave, $terms AS drift_stat FROM t GROUP BY wave)
          SELECT CAST(t.wave AS BIGINT) AS wave, t.bin, t.c_ref, t.c_new,
                 stat.drift_stat
          FROM t JOIN stat USING (wave) ORDER BY wave, bin"""
      })
  )
}
