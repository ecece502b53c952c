package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables.ld

/** SKETCHES — bounded-state cardinality estimation.
  *
  * [[kmvDistinct]] is the K-MINIMUM-VALUES estimator (Bar-Yossef et al.,
  * "Counting distinct elements in a data stream", RANDOM 2002): hash every
  * value onto a uniform 64-bit line, keep the k smallest distinct hashes
  * per group, and estimate |D| ≈ (k-1) / fraction-of-line below the k-th
  * minimum. Like HLL it is MERGEABLE (the union's k smallest hashes are a
  * subset of the sides' k smallest — partial aggregation and shuffle
  * carry O(k) per group, never O(distinct)), but unlike HLL the estimate
  * is a pure integer-order statistic over xxhash64 — bit-reproducible
  * across engines, which is what lets a DuckDB oracle re-derive it from
  * the dumped hashes (q82). Spark's production path for casual use is the
  * built-in `approx_count_distinct`; this operator exists for when the
  * sketch itself must be stored, merged across partitions/days, or
  * audited ("which hashes witnessed this count").
  *
  * Groups with fewer than k distinct values saturate the sketch; there the
  * estimate IS the exact distinct count (the sketch holds every hash). */
object SketchOps {

  /** Per-group KMV distinct estimate of `keyCol`, plus the exact count for
    * the error column. Output: (groupCol, est_distinct, exact_distinct,
    * kth_hash — NULL when saturated). */
  def kmvDistinct(df: DataFrame, keyCol: String, groupCol: String, k: Int): DataFrame = {
    val hashed = df.select(col(groupCol), col(keyCol)).distinct()
      .withColumn("__h", xxhash64(col(keyCol)))
    val w = Window.partitionBy(groupCol).orderBy("__h")
    hashed.withColumn("__rn", row_number().over(w))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("exact_distinct"),
        max(when(col("__rn") === k, col("__h"))).as("kth_hash"))
      .withColumn("est_distinct",
        when(col("kth_hash").isNull, col("exact_distinct").cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            ((col("kth_hash").cast("double") + lit(9.223372036854775808e18)) /
              lit(1.8446744073709551616e19))))
      .select(col(groupCol), col("est_distinct"), col("exact_distinct"), col("kth_hash"))
  }

  /** MISRA-GRIES HEAVY HITTERS — exact frequent keys in two bounded passes
    * (Misra & Gries, "Finding repeated elements", Sci. Comp. Prog. 1982).
    *
    * Pass 1 runs the k-counter summary per partition (`mapPartitions`, one
    * bounded hash map, never a shuffle). Soundness is the classic pair of
    * facts: a partition's summary retains every key with local frequency
    * > n_p/(k+1), and a key with GLOBAL frequency > N/(k+1) must exceed
    * that local bar in at least one partition (pigeonhole over the
    * partition sums) — so the union of the per-partition summaries is a
    * SUPERSET of the true heavy hitters regardless of how rows were
    * partitioned or ordered. Pass 2 exactly recounts only that candidate
    * set (a filtered aggregate) and keeps keys with `cnt · (k+1) > N` —
    * integer arithmetic, so the result is byte-deterministic and equal to
    * the plain `GROUP BY … HAVING` it replaces.
    *
    * Scale shape: driver state is ≤ k × partitions candidate strings —
    * bounded by the LAYOUT, never by key cardinality (a 100 TB log with
    * billions of distinct keys still collects ≤ k·P candidates); the
    * recount aggregates only rows whose key is in the candidate set. NULL
    * keys are excluded (a NULL is not a key identity).
    *
    * Returns (heavy hitters as (keyCol, cnt) — exact counts — and the
    * candidate-set size, the prune-evidence number). */
  def heavyHitters(df: DataFrame, keyCol: String, k: Int): (DataFrame, Int) = {
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val nonNull = df.filter(col(keyCol).isNotNull)
    val keys = nonNull.select(col(keyCol).cast("string")).as[String]
    val candidates = keys.mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { x =>
        counts.get(x) match {
          case Some(c) => counts.update(x, c + 1)
          case None if counts.size < k => counts.update(x, 1L)
          case None =>
            // decrement-all step: one unmatched arrival cancels one unit of
            // every tracked key (the new key itself is NOT inserted)
            val dead = List.newBuilder[String]
            counts.foreach { case (key, c) =>
              if (c == 1L) dead += key else counts.update(key, c - 1)
            }
            dead.result().foreach(counts.remove)
        }
      }
      counts.keysIterator
    }.distinct().collect()
    val n = nonNull.count()
    val hh = nonNull
      .filter(col(keyCol).cast("string").isInCollection(candidates.toSeq))
      .groupBy(keyCol).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (k + 1) > n)
    (hh, candidates.length)
  }

  /** KMV SET OPERATIONS (Beyer et al., "On synopses for distinct-value
    * estimation under multiset operations", SIGMOD 2007): estimate the
    * union size, intersection size and Jaccard of every PAIR of key sets
    * from their k-minimum-value sketches alone — the "how much do two
    * 100 TB tables overlap" question answered without ever joining them.
    *
    * Per side: the k smallest distinct xxhash64 values (the same mergeable
    * sketch as [[kmvDistinct]]). Per pair (a, b): the union's KMV is the k
    * smallest of the two sketches' union (exactly the sketch the union of
    * the two data sets would have produced — that is the KMV merge
    * property), `k_int` counts union-sketch members present in BOTH side
    * sketches, and
    *
    *   jaccard_est = k_int / k_eff,   est_intersection = jaccard_est · est_union
    *
    * Everything upstream of the two final double operations is an integer
    * order statistic over xxhash64, so a DuckDB oracle re-derives the whole
    * estimate from the dumped per-side hash sets bit-for-bit (the q82
    * determinism rule). When the union sketch is unsaturated (k_eff < k) it
    * holds EVERY hash of both sides and the "estimates" are exact.
    *
    * Exact union/intersection columns ride along as the honesty surface
    * (cheap here; at real scale they are the full joins this sketch
    * avoids). Output, one row per unordered pair (side_a < side_b):
    * (side_a, side_b, k_eff, k_int, kth_hash, est_union, est_intersection,
    * jaccard_est, exact_union, exact_intersection). */
  def kmvSetOps(df: DataFrame, keyCol: String, sideCol: String, k: Int): DataFrame = {
    val dist = df.select(col(sideCol).cast("string").as("side"), col(keyCol))
      .filter(col("side").isNotNull && col(keyCol).isNotNull)
      .distinct()
      .select(col("side"), xxhash64(col(keyCol)).as("h"))
      .distinct() // hash collisions inside one side collapse identically everywhere
    val wSide = Window.partitionBy("side").orderBy("h")
    val sketch = dist.withColumn("__rn", row_number().over(wSide))
      .filter(col("__rn") <= k).select("side", "h")
    val sides = sketch.select("side").distinct()
    val pairs = sides.as("a").crossJoin(sides.as("b"))
      .filter(col("a.side") < col("b.side"))
      .select(col("a.side").as("side_a"), col("b.side").as("side_b"))
    // union-of-sketches per pair, flagged with which side(s) contributed
    val contrib = pairs.join(sketch.as("s"),
        col("s.side") === col("side_a") || col("s.side") === col("side_b"))
      .groupBy("side_a", "side_b", "h")
      .agg(max(when(col("s.side") === col("side_a"), 1).otherwise(0)).as("in_a"),
        max(when(col("s.side") === col("side_b"), 1).otherwise(0)).as("in_b"))
    val wPair = Window.partitionBy("side_a", "side_b").orderBy("h")
    val unionSketch = contrib.withColumn("__rn", row_number().over(wPair))
      .filter(col("__rn") <= k)
    val est = unionSketch.groupBy("side_a", "side_b")
      .agg(count(lit(1)).as("k_eff"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L)).as("k_int"),
        max(when(col("__rn") === k, col("h"))).as("kth_hash"))
      .withColumn("est_union",
        when(col("kth_hash").isNull, col("k_eff").cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            ((col("kth_hash").cast("double") + lit(9.223372036854775808e18)) /
              lit(1.8446744073709551616e19))))
      .withColumn("jaccard_est",
        col("k_int").cast("double") / col("k_eff").cast("double"))
      .withColumn("est_intersection", col("jaccard_est") * col("est_union"))
    // honesty columns: exact |A ∪ B| and |A ∩ B| over the full key sets
    val flags = dist.groupBy("h").agg(collect_set("side").as("ss"))
    val exact = pairs.join(flags,
        array_contains(col("ss"), col("side_a")) ||
          array_contains(col("ss"), col("side_b")))
      .groupBy("side_a", "side_b")
      .agg(count(lit(1)).as("exact_union"),
        sum(when(array_contains(col("ss"), col("side_a")) &&
          array_contains(col("ss"), col("side_b")), 1L).otherwise(0L))
          .as("exact_intersection"))
    est.join(exact, Seq("side_a", "side_b"))
      .select(col("side_a"), col("side_b"), col("k_eff"), col("k_int"),
        col("kth_hash"), col("est_union"), col("est_intersection"),
        col("jaccard_est"), col("exact_union"), col("exact_intersection"))
  }

  /** SAMPLED QUANTILES — a mergeable quantile summary via deterministic
    * bottom-fraction hash sampling: a row joins the sample iff
    * hash(id) ≡ 0 (mod 1/p), so the sample of a UNION is the union of the
    * samples (partial aggregation / cross-day merging carries the p·n
    * sampled rows, nothing else), a re-run reproduces the identical
    * summary, and the estimate is pure rank selection on the sample — the
    * q58/q137 rule (smallest value at sorted position ≥ ceil(q·n)), never
    * interpolation, so the reported value is an ACTUAL data value and the
    * DuckDB oracle reproduces it bit-for-bit. Error is the classic
    * Bernoulli-sample order-statistic bound, O(1/√(p·n)) quantile rank
    * error — at 10^10 rows and p = 1/8 that is ~3·10^-5, while the state
    * any one merge carries shrinks 8×. Spark's production alternative is
    * `percentile_approx` (GK sketch); this operator exists for when the
    * summary must be stored, merged across partitions/days, and audited
    * against the exact answer — which rides along per group. */
  def sampledQuantiles(df: DataFrame, valueCol: String, groupCol: String,
      idCol: String, mod: Int): DataFrame = {
    require(mod >= 2, s"mod must be >= 2, got $mod")
    val spark = df.sparkSession
    graft.functions.Hash60.register(spark)
    val base = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol), col(valueCol).as("v"),
        expr(s"pmod(hash60(concat('sq:', CAST($idCol AS STRING))), $mod)").as("h"))
    def rankSel(in: DataFrame, tag: String): DataFrame = {
      val w = Window.partitionBy(groupCol).orderBy("v")
      in.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(groupCol)))
        .groupBy(groupCol)
        .agg(max("n").as(s"n_$tag"),
          min(when(col("rn") >= ceil(lit(0.5) * col("n")), col("v"))).as(s"p50_$tag"),
          min(when(col("rn") >= ceil(lit(0.9) * col("n")), col("v"))).as(s"p90_$tag"))
    }
    rankSel(base, "exact")
      .join(rankSel(base.filter(col("h") === 0), "est"), Seq(groupCol), "left")
      .select(col(groupCol), col("n_exact"), col("n_est").as("sample_n"),
        col("p50_exact"), col("p90_exact"), col("p50_est"), col("p90_est"))
  }

  val queries: Seq[OpQuery] = Seq(
    OpQuery("q82_kmv_distinct",
      // KMV CARDINALITY SKETCH under the hard gate: per-event-type distinct
      // users (k = 64) plus a global '__all__' row. The query dumps the
      // distinct (group, key, xxhash64) triples it hashed — xxhash64 is
      // property-tested against the public spec separately — and the
      // oracle re-derives the k-th order statistic AND the estimate
      // formula in SQL; the exact column keeps the estimator honest.
      (s, d) => {
        val ev = ld(s, d, "events")
        val root = Gate.workDir("q82")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        ev.select(col("event_type"), col("user_id")).distinct()
          .withColumn("h", xxhash64(col("user_id")))
          .write.mode("overwrite").parquet(s"$root/hashes")
        val byType = kmvDistinct(ev, "user_id", "event_type", k = 64)
        val global = kmvDistinct(
          ev.withColumn("g", lit("__all__")), "user_id", "g", k = 64)
          .withColumnRenamed("g", "event_type")
        byType.unionByName(global).orderBy("event_type")
      },
      Some(s"""WITH h AS (SELECT DISTINCT event_type, h
               FROM parquet_scan('${Gate.workDir("q82")}/hashes/*.parquet')),
        ha AS (SELECT event_type, h FROM h
               UNION ALL SELECT '__all__' AS event_type, h FROM (SELECT DISTINCT h FROM h) t),
        r AS (SELECT event_type, h,
              row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM ha),
        agg AS (SELECT event_type, count(*) AS exact_distinct,
                max(CASE WHEN rn = 64 THEN h END) AS kth_hash
                FROM r GROUP BY event_type)
        SELECT event_type,
               CASE WHEN kth_hash IS NULL THEN CAST(exact_distinct AS DOUBLE)
                    ELSE 63.0 / ((CAST(kth_hash AS DOUBLE) + 9.223372036854775808e18)
                                 / 1.8446744073709551616e19) END AS est_distinct,
               exact_distinct, kth_hash
        FROM agg ORDER BY event_type""")),

    OpQuery("q157_kmv_set_ops",
      // KMV SET OPERATIONS under the hard gate: union / intersection /
      // Jaccard of the per-event-type distinct-user sets, estimated from
      // the k=64 sketches alone (no join between the sides). The query
      // dumps the distinct (side, xxhash64(user)) rows; the oracle
      // re-derives the per-side sketches, the merged union sketch, the
      // order statistics AND both estimate formulas in SQL — a wrong merge
      // (union sketch not the k smallest of the union), a miscounted
      // k_int, or a drifted formula all hash-diverge. Exact union /
      // intersection columns ride along as the honesty surface.
      (s, d) => {
        val ev = ld(s, d, "events")
        val root = Gate.workDir("q157")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        ev.select(col("event_type").cast("string").as("side"), col("user_id"))
          .filter(col("side").isNotNull && col("user_id").isNotNull)
          .distinct()
          .select(col("side"), xxhash64(col("user_id")).as("h"))
          .distinct()
          .write.mode("overwrite").parquet(s"$root/hashes")
        kmvSetOps(ev, "user_id", "event_type", k = 64)
          .orderBy("side_a", "side_b")
      },
      Some(s"""WITH d AS (SELECT DISTINCT side, h
          FROM parquet_scan('${Gate.workDir("q157")}/hashes/*.parquet')),
        sk AS (SELECT side, h FROM (SELECT side, h,
                 row_number() OVER (PARTITION BY side ORDER BY h) AS rn FROM d)
               WHERE rn <= 64),
        sides AS (SELECT DISTINCT side FROM sk),
        pairs AS (SELECT a.side AS side_a, b.side AS side_b
                  FROM sides a, sides b WHERE a.side < b.side),
        contrib AS (SELECT p.side_a, p.side_b, s.h,
            max(CASE WHEN s.side = p.side_a THEN 1 ELSE 0 END) AS in_a,
            max(CASE WHEN s.side = p.side_b THEN 1 ELSE 0 END) AS in_b
          FROM pairs p JOIN sk s ON s.side = p.side_a OR s.side = p.side_b
          GROUP BY 1, 2, 3),
        u AS (SELECT *, row_number() OVER (PARTITION BY side_a, side_b ORDER BY h) AS rn
              FROM contrib),
        est AS (SELECT side_a, side_b, CAST(count(*) AS BIGINT) AS k_eff,
            CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS k_int,
            max(CASE WHEN rn = 64 THEN h END) AS kth_hash
          FROM u WHERE rn <= 64 GROUP BY 1, 2),
        fl AS (SELECT p.side_a, p.side_b, d.h,
            max(CASE WHEN d.side = p.side_a THEN 1 ELSE 0 END) AS ia,
            max(CASE WHEN d.side = p.side_b THEN 1 ELSE 0 END) AS ib
          FROM pairs p JOIN d ON d.side = p.side_a OR d.side = p.side_b
          GROUP BY 1, 2, 3),
        ex AS (SELECT side_a, side_b, CAST(count(*) AS BIGINT) AS exact_union,
            CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact_intersection
          FROM fl GROUP BY 1, 2)
        SELECT e.side_a, e.side_b, k_eff, k_int, kth_hash,
          CASE WHEN kth_hash IS NULL THEN CAST(k_eff AS DOUBLE)
               ELSE 63.0 / ((CAST(kth_hash AS DOUBLE) + 9.223372036854775808e18)
                            / 1.8446744073709551616e19) END AS est_union,
          (CAST(k_int AS DOUBLE) / CAST(k_eff AS DOUBLE)) *
            (CASE WHEN kth_hash IS NULL THEN CAST(k_eff AS DOUBLE)
                  ELSE 63.0 / ((CAST(kth_hash AS DOUBLE) + 9.223372036854775808e18)
                               / 1.8446744073709551616e19) END) AS est_intersection,
          CAST(k_int AS DOUBLE) / CAST(k_eff AS DOUBLE) AS jaccard_est,
          exact_union, exact_intersection
        FROM est e JOIN ex USING (side_a, side_b)
        ORDER BY side_a, side_b""")),

    // SAMPLED QUANTILES (q180): mergeable quantile summary from a
    // deterministic 1/8 bottom-hash sample, rank-selected per the q58
    // rule; the exact quantiles ride along as the honesty columns. The
    // oracle re-derives sample membership (same md5-based hash60), both
    // rank selections, and the counts — a drifted hash, a wrong ceil
    // boundary, or interpolation sneaking in all hash-diverge.
    OpQuery("q180_sampled_quantiles",
      (s, d) => sampledQuantiles(ld(s, d, "events"),
        valueCol = "value", groupCol = "event_type", idCol = "event_id", mod = 8)
        .orderBy("event_type"),
      Some("""WITH e AS (SELECT event_type, value AS v,
            CAST('0x' || substr(md5('sq:' || event_id), 1, 15) AS BIGINT) % 8 AS h
          FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        rx AS (SELECT event_type, v,
                 row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n FROM e),
        ex AS (SELECT event_type, max(n) AS n_exact,
                 min(CASE WHEN rn >= ceil(0.5 * n) THEN v END) AS p50_exact,
                 min(CASE WHEN rn >= ceil(0.9 * n) THEN v END) AS p90_exact
               FROM rx GROUP BY event_type),
        rs AS (SELECT event_type, v,
                 row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
               FROM e WHERE h = 0),
        es AS (SELECT event_type, max(n) AS sample_n,
                 min(CASE WHEN rn >= ceil(0.5 * n) THEN v END) AS p50_est,
                 min(CASE WHEN rn >= ceil(0.9 * n) THEN v END) AS p90_est
               FROM rs GROUP BY event_type)
        SELECT ex.event_type, n_exact, sample_n, p50_exact, p90_exact, p50_est, p90_est
        FROM ex LEFT JOIN es ON ex.event_type = es.event_type
        ORDER BY ex.event_type"""))
  ,

    OpQuery("q206_stream_kmv",
      // STREAMING CARDINALITY MONITOR under the hard gate — q82's KMV
      // sketch kept continuously: per-group k=64 minimum xxhash64 values
      // in RocksDB state (transformWithState), fed the event stream in 3
      // waves with a full query stop/restart at each boundary. KMV is an
      // ORDER STATISTIC, so unlike the MG sketch (q202) the streamed
      // result needs no recount to be exact about its contract: arrival
      // order, batching, duplication and restarts are all invisible — the
      // final sketch, kth_hash and estimate are BIT-EQUAL to the batch
      // sketch over the same rows, which is what the oracle re-derives
      // from the dumped distinct (group, hash) pairs. A synthetic
      // '__rare__' group stays unsaturated so BOTH estimator branches
      // (exact readout / k-th-minimum formula) are exercised
      // (hard-asserted).
      (s, d) => {
        import graft.streaming.KmvStream
        val root = Gate.workDir("q206")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val ev = ld(s, d, "events")
        val keyed0 = ev.select(col("event_type").as("grp"), col("user_id"), col("event_id"))
          .unionByName(ev.filter(col("user_id") % 97 === 0)
            .select(lit("__rare__").as("grp"), col("user_id"), col("event_id")))
          .withColumn("h", xxhash64(col("user_id")))
        keyed0.select("grp", "h").distinct()
          .write.mode("overwrite").parquet(s"$root/hashes")
        val keyed = keyed0.withColumn("band", (col("event_id") % 3).cast("int"))
        val emissions = KmvStream.sketchToCompletion(s, keyed, s"$root/kmv",
          chunks = 3, k = 64)
        val out = KmvStream.finalSketch(emissions).localCheckpoint()
        require(out.filter(col("kth_hash").isNull).limit(1).count() > 0,
          "gate must exercise the unsaturated (exact) branch")
        require(out.filter(col("kth_hash").isNotNull).limit(1).count() > 0,
          "gate must exercise the saturated (k-th-minimum estimate) branch")
        out.orderBy("grp")
      },
      Some(s"""WITH h AS (SELECT DISTINCT grp, h
               FROM parquet_scan('${Gate.workDir("q206")}/hashes/*.parquet')),
        r AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn FROM h),
        agg AS (SELECT grp, count(*) AS cd,
                max(CASE WHEN rn = 64 THEN h END) AS kth_hash
                FROM r GROUP BY grp)
        SELECT grp,
               CASE WHEN kth_hash IS NULL THEN CAST(cd AS DOUBLE)
                    ELSE 63.0 / ((CAST(kth_hash AS DOUBLE) + 9.223372036854775808e18)
                                 / 1.8446744073709551616e19) END AS est_distinct,
               kth_hash, CAST(LEAST(cd, 64) AS INT) AS n_sketch
        FROM agg ORDER BY grp"""))
  ,

    OpQuery("q210_stream_topk",
      // CONTINUOUS TOP-K LEADERBOARD under the hard gate — the third
      // mergeable-state streaming shape beside q202 (sketch + recount)
      // and q206 (order statistic): per event type, the 5 highest-value
      // events, state TRUNCATED to k rows per group in RocksDB
      // (transformWithState), fed in 3 waves with a full stop/restart at
      // each boundary. Top-k is union-truncate mergeable (the top-k of a
      // union is among the sides' top-k), so the final streamed
      // leaderboard equals the batch window top-k EXACTLY — arrival
      // order, wave cuts and restarts invisible; ties impossible by the
      // (value DESC, id ASC) total order.
      (s, d) => {
        import graft.streaming.TopKStream
        val root = Gate.workDir("q210")
        val keyed = ld(s, d, "events")
          .filter(col("value").isNotNull)
          .select(col("event_type").as("grp"), col("event_id").as("id"),
            col("value"))
          .withColumn("band", (col("id") % 3).cast("int"))
        val out = TopKStream.finalTopK(
          TopKStream.topKToCompletion(s, keyed, s"$root/topk", chunks = 3, k = 5))
        out.orderBy("grp", "rank")
      },
      Some("""SELECT event_type AS grp, CAST(rn AS INT) AS rank,
               event_id AS id, value
        FROM (SELECT event_type, event_id, value,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY value DESC, event_id) AS rn
              FROM events WHERE value IS NOT NULL) t
        WHERE rn <= 5 ORDER BY grp, rank"""))
  )
}
