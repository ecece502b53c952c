package graft.operators

import org.apache.spark.sql.functions._
import Tables.ld

/** Corpus sampling for training-data pipelines — DETERMINISTIC, hash-based
  * (never `rand()`): a document's membership depends only on its id, so a
  * re-run, a resumed job, or a different cluster produces the identical
  * sample (and an UPSTREAM change can't silently reshuffle it). The
  * per-stratum rate is the standard language-rebalancing move: downsample
  * the dominant language, keep the tail.
  *
  * Scale shape: a single narrow filter over the scan — no shuffle, no
  * sort; the per-row cost is one md5 (the shared hash60, codegen'd). At
  * 100 TB this is the cheapest possible pass, and the stratum rates can be
  * tuned without re-reading anything but the id + lang columns. */
object SamplingOps {

  /** BOTTOM-K PER-GROUP SAMPLE — uniform sampling without replacement of
    * exactly min(k, |group|) rows per group: the k rows whose
    * deterministic hash60('bk:' + id) is smallest. Mergeable (the k
    * smallest of a union are among each side's k smallest — the KMV
    * argument applied to rows), so per-partition/per-day samples
    * union-and-truncate into the global sample without re-reading data.
    * The row_number filter compiles to Spark's WindowGroupLimit, which
    * runs in PARTIAL mode before the shuffle — each map task forwards at
    * most k rows per group, so the shuffle carries O(k·tasks·groups),
    * never the table. Ties are impossible in practice (60-bit hash) but
    * the order is (h, id) so even a collision is deterministic.
    * Output: the group column, rn (1-based sample position), and `cols`. */
  def bottomKSample(df: org.apache.spark.sql.DataFrame, groupCol: String,
      idCol: String, k: Int, cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    graft.functions.Hash60.register(df.sparkSession)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy("h", idCol)
    df.filter(col(groupCol).isNotNull)
      .withColumn("h", expr(s"hash60(concat('bk:', CAST($idCol AS STRING)))"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select((Seq(groupCol, "rn") ++ cols).map(col): _*)
  }

  // per-mille keep-rates by language: en is dominant in the corpus (~45%),
  // so it is downsampled hardest
  private val rates = Seq("en" -> 100, "zh" -> 400, "es" -> 400, "de" -> 400)
  private val defaultRate = 600

  private[operators] val rateSql =
    "CASE " + rates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ") +
      s" ELSE $defaultRate END"

  /** Per-mille mixing weights by language — >1000 means UPSAMPLING
    * (repetition): the standard rebalance toward under-represented
    * domains when composing a training mix. */
  private val mixWeights =
    Seq("en" -> 300, "de" -> 1500, "fr" -> 2200, "zh" -> 700)
  private val mixDefault = 1000
  private[operators] val mixWeightSql =
    "CASE " + mixWeights.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ") +
      s" ELSE $mixDefault END"

  val queries: Seq[OpQuery] = Seq(
    OpQuery("q31_stratified_sample",
      (s, d) => {
        graft.functions.Hash60.register(s)
        ld(s, d, "documents")
          .withColumn("h", expr("pmod(hash60(concat('sample:', CAST(doc_id AS STRING))), 1000)"))
          .withColumn("keep_rate", expr(rateSql))
          .filter(col("h") < col("keep_rate"))
          .select(col("doc_id"), col("lang"), col("h"), col("keep_rate"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, lang, h, keep_rate FROM (
        SELECT doc_id, lang,
          CAST('0x' || substr(md5('sample:' || doc_id), 1, 15) AS BIGINT) % 1000 AS h,
          $rateSql AS keep_rate
        FROM documents) t
        WHERE h < keep_rate ORDER BY doc_id""")),

    OpQuery("q95_domain_mixing",
      // DOMAIN MIXING with repetition ("epochs") — the full training-mix
      // move, not just downsampling: a per-domain weight w (per-mille)
      // expands every doc into floor(w/1000) whole copies plus one more
      // with probability (w mod 1000)/1000, decided by the shared
      // deterministic hash. fr docs (w=2200) appear 2-3x, de (w=1500)
      // 1-2x, en (w=300) is downsampled to ~30%. The oracle re-derives
      // the exact copy multiset per doc from the same md5-based hash and
      // a LATERAL generate_series.
      (s, d) => {
        graft.functions.Hash60.register(s)
        ld(s, d, "documents")
          .withColumn("w", expr(mixWeightSql))
          .withColumn("h", expr("pmod(hash60(concat('mix:', CAST(doc_id AS STRING))), 1000)"))
          .withColumn("n_copies",
            (col("w") / 1000).cast("long") +
              when(col("h") < col("w") % 1000, 1L).otherwise(0L))
          .filter(col("n_copies") > 0)
          .select(col("doc_id"), col("lang"), col("n_copies"),
            explode(sequence(lit(0L), col("n_copies") - 1)).as("copy"))
          .orderBy("doc_id", "copy")
      },
      Some(s"""WITH t AS (
          SELECT doc_id, lang, $mixWeightSql AS w,
            CAST('0x' || substr(md5('mix:' || doc_id), 1, 15) AS BIGINT) % 1000 AS h
          FROM documents),
        n AS (SELECT doc_id, lang,
                CAST(w // 1000 + CASE WHEN h < w % 1000 THEN 1 ELSE 0 END AS BIGINT) AS n_copies
              FROM t)
        SELECT doc_id, lang, n_copies, gs.c AS copy
        FROM n, LATERAL (SELECT unnest(generate_series(0, n_copies - 1)) AS c) gs
        WHERE n_copies > 0 ORDER BY doc_id, copy""")),

    OpQuery("q103_deterministic_shuffle",
      // REPRODUCIBLE GLOBAL SHUFFLE into training shards — the ordering
      // move every corpus build needs before sequence packing: the corpus
      // is dealt into 16 shards by a seeded hash and ordered WITHIN each
      // shard by the same hash, so the result is a deterministic
      // permutation (re-running with the same seed reproduces every
      // shard's exact order; changing the seed reshuffles). The
      // scale-honest shape: NO global row_number — shard assignment is a
      // narrow map and the position window is per-shard (16 parallel
      // sorts of corpus/16 each), the same reason q94's packing banded
      // its prefix sum. hash60 on (seed, doc_id) keeps it cross-engine.
      (s, d) => {
        graft.functions.Hash60.register(s)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("h", "doc_id")
        ld(s, d, "documents")
          .withColumn("h", expr("hash60(concat('shuffle-epoch7:', CAST(doc_id AS STRING)))"))
          .withColumn("shard", pmod(col("h"), lit(16)))
          .withColumn("pos", row_number().over(w).cast("long") - 1)
          .select(col("doc_id"), col("shard"), col("pos"))
          .orderBy("shard", "pos")
      },
      Some("""SELECT doc_id, shard, pos FROM (
          SELECT doc_id, h % 16 AS shard,
            row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) - 1 AS pos
          FROM (SELECT doc_id,
            CAST('0x' || substr(md5('shuffle-epoch7:' || doc_id), 1, 15) AS BIGINT) AS h
            FROM documents) t) s
        ORDER BY shard, pos""")),

    // BOTTOM-K PER-GROUP SAMPLE (q182): a uniform random sample WITHOUT
    // replacement of exactly k rows per group — the k rows whose
    // deterministic hash is smallest. Bottom-k by a uniform hash IS
    // uniform SWOR, and it is MERGEABLE: the k smallest of a union are
    // among the sides' k smallest, so per-day/per-partition samples
    // union-and-truncate into the global sample without revisiting data
    // (the KMV argument, applied to rows). The rank filter compiles to
    // Spark's WindowGroupLimit: each map task forwards at most k rows per
    // group BEFORE the shuffle (asserted in PLANS.md), so at 10^10 rows
    // the shuffle carries O(k · tasks · groups), never the table. The
    // oracle re-derives membership from the same md5-based hash60 — a
    // drifted hash, an off-by-one rank, or a broken tie-break all
    // hash-diverge.
    OpQuery("q182_bottomk_sample",
      (s, d) => bottomKSample(ld(s, d, "events"), groupCol = "event_type",
        idCol = "event_id", k = 25, cols = Seq("event_id", "user_id", "value"))
        .orderBy("event_type", "rn"),
      Some("""SELECT event_type, rn, event_id, user_id, value FROM (
          SELECT event_type, event_id, user_id, value,
            row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) AS rn
          FROM (SELECT *,
            CAST('0x' || substr(md5('bk:' || event_id), 1, 15) AS BIGINT) AS h
            FROM events WHERE event_type IS NOT NULL) t) s
        WHERE rn <= 25 ORDER BY event_type, rn""")),

    OpQuery("q194_mixture_apportionment",
      // TOKEN-BUDGET APPORTIONMENT for a training mix: given per-source
      // token masses, split a fixed token budget across sources with
      // α = 0.5 temperature flattening (weight ∝ floor(sqrt(tokens)) —
      // the standard move that keeps small sources from vanishing; isqrt
      // keeps it integer-exact) using LARGEST-REMAINDER apportionment:
      // quota = floor(budget·w/W), the leftover seats go to the largest
      // remainders (ties by source name) — allocations sum EXACTLY to the
      // budget, no float drift, reproducible on any engine. The heavy
      // input is one hash aggregate over the scan (per-source token
      // sums); the apportionment itself is O(sources) window arithmetic.
      (s, d) => apportionTokens(ld(s, d, "documents"), budget = 1000000L)
        .orderBy("source"),
      Some(s"""WITH toks AS (
          SELECT source, CAST(sum(len(${TextOps.wordsDuck})) AS BIGINT) AS tokens
          FROM documents GROUP BY source),
        wts AS (SELECT source, tokens,
            CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS w FROM toks),
        tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM wts),
        q AS (SELECT source, tokens, w,
            (1000000 * w) // tw AS quota, (1000000 * w) % tw AS rem
          FROM wts, tot),
        r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rr,
            (SELECT 1000000 - sum(quota) FROM q) AS leftover FROM q)
        SELECT source, tokens, w,
          quota + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS alloc
        FROM r ORDER BY source"""))
  ,

    OpQuery("q200_weighted_sample",
      // WEIGHTED SAMPLE WITHOUT REPLACEMENT per group — PRIORITY SAMPLING
      // (Duffield, Lund & Thorup, "Priority sampling for estimation of
      // arbitrary subset sums", JACM 2007): each row draws priority
      // q_i = w_i / u_i from a deterministic uniform u_i; the k largest
      // priorities per group are the sample — heavier rows (longer
      // documents) proportionally likelier, yet fully reproducible.
      // u_i = (hash60 + 1) / 2^60 cancels to q_i ∝ w_i / (h_i + 1), a
      // SINGLE ieee division of two exact integers — identical on any
      // engine, no transcendental-function or fold-order hazard (the
      // exponential-rank u^(1/w) formulation would need pow(), whose
      // cross-engine bit-equality is not contractual). Like q182 the
      // rank filter compiles to WindowGroupLimit: map tasks forward at
      // most k rows per group BEFORE the shuffle, so at 10^10 rows the
      // shuffle carries O(k · tasks · groups). Mergeable the same way:
      // the top-k of a union are among the sides' top-k (union-truncate).
      (s, d) => weightedPrioritySample(ld(s, d, "documents"),
        groupCol = "source", idCol = "doc_id", weightCol = "n_chars", k = 15,
        cols = Seq("doc_id", "lang", "n_chars")),
      Some("""SELECT source, rn, priority, doc_id, lang, n_chars FROM (
          SELECT source, doc_id, lang, n_chars, priority,
            row_number() OVER (PARTITION BY source ORDER BY priority DESC, doc_id) AS rn
          FROM (SELECT *,
            CAST(n_chars AS DOUBLE) /
              CAST(CAST('0x' || substr(md5('ws:' || doc_id), 1, 15) AS BIGINT) + 1 AS DOUBLE)
              AS priority
            FROM documents
            WHERE source IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0) t) s
        WHERE rn <= 15 ORDER BY source, rn"""))
  ,

    OpQuery("q203_mixture_sample",
      // MIXTURE MATERIALIZATION — the step after q194 decides the budget
      // split: actually PICK the documents. Per source, docs are laid out
      // in deterministic-random order (hash60, the q31 rule) and the
      // greedy prefix is kept while the tokens BEFORE a doc are under the
      // source's allocation (first-fit: the boundary doc may overflow
      // once — allocations are token targets, docs are atomic). One
      // window cumsum per source (single shuffle on source; per-source
      // ordering is the q94 single-stream shape — the banded two-phase
      // prefix-sum there is the 10^10-row path). The apportionment is the
      // SAME shared definition q194 gates alone, so the split and the
      // materialized corpus cannot disagree. Hard assert: the budget
      // actually binds (some source truncates) — otherwise the gate is a
      // no-op filter.
      (s, d) => {
        val docs = ld(s, d, "documents")
        val alloc = apportionTokens(docs, budget = 8000L).select("source", "alloc")
        graft.functions.Hash60.register(s)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("h", "doc_id")
        val cand = docs
          .withColumn("n_tok", size(expr(TextOps.wordsSpark)).cast("long"))
          .withColumn("h", expr("hash60(concat('mx:', CAST(doc_id AS STRING)))"))
          .withColumn("cum_before", coalesce(sum("n_tok").over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
            lit(0L)))
        val kept = cand.join(broadcast(alloc), Seq("source"))
          .filter(col("cum_before") < col("alloc"))
          .select("source", "doc_id", "n_tok", "cum_before")
          .orderBy("source", "doc_id")
          .localCheckpoint()
        require(kept.count() < docs.count(),
          "budget did not bind anywhere — mixture gate is vacuous")
        kept
      },
      Some(s"""WITH toks AS (
          SELECT source, CAST(sum(len(${TextOps.wordsDuck})) AS BIGINT) AS tokens
          FROM documents GROUP BY source),
        wts AS (SELECT source, tokens,
            CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS w FROM toks),
        tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM wts),
        q AS (SELECT source, tokens, w,
            (8000 * w) // tw AS quota, (8000 * w) % tw AS rem
          FROM wts, tot),
        r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rr,
            (SELECT 8000 - sum(quota) FROM q) AS leftover FROM q),
        alloc AS (SELECT source,
            quota + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS alloc FROM r),
        d2 AS (SELECT source, doc_id,
            CAST(len(${TextOps.wordsDuck}) AS BIGINT) AS n_tok,
            CAST('0x' || substr(md5('mx:' || doc_id), 1, 15) AS BIGINT) AS h
          FROM documents),
        c AS (SELECT *, CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source
            ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS cum_before FROM d2)
        SELECT c.source, doc_id, n_tok, cum_before
        FROM c JOIN alloc a ON c.source = a.source
        WHERE cum_before < a.alloc ORDER BY c.source, doc_id"""))
  )

  /** The q194 apportionment as a shared definition (q194 gates it alone;
    * q203 composes it with the priority-order budget fill): per-source
    * token masses → α = 0.5 temperature weights (integer isqrt) →
    * largest-remainder split of `budget`, allocations summing EXACTLY to
    * the budget (require()d). Returns (source, tokens, w, alloc). */
  def apportionTokens(docs: org.apache.spark.sql.DataFrame,
      budget: Long): org.apache.spark.sql.DataFrame = {
    val toks = docs
      .withColumn("n_tok", size(expr(TextOps.wordsSpark)).cast("long"))
      .groupBy("source").agg(sum("n_tok").as("tokens"))
      .withColumn("w", floor(sqrt(col("tokens").cast("double"))).cast("long"))
    val tot = toks.agg(sum("w")).head().getLong(0)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source"))
    val out = toks
      .withColumn("quota", expr(s"($budget * w) div $tot"))
      .withColumn("rem", expr(s"($budget * w) % $tot"))
      .withColumn("rr", row_number().over(w).cast("long"))
    val leftover = budget - out.agg(sum("quota")).head().getLong(0)
    val alloc = out
      .withColumn("extra", (col("rr") <= leftover).cast("long"))
      .select(col("source"), col("tokens"), col("w"),
        (col("quota") + col("extra")).as("alloc"))
    require(alloc.agg(sum("alloc")).head().getLong(0) == budget,
      "largest-remainder allocations must sum exactly to the budget")
    alloc
  }

  /** Priority sampling (Duffield et al. 2007): k rows per group, inclusion
    * likelihood increasing in `weightCol`, deterministic via the md5-derived
    * hash60 uniform. priority = w / (h + 1): one exact-integer-to-double
    * cast each and ONE ieee division — bit-reproducible cross-engine.
    * Rows with NULL or non-positive weight are excluded (they could never
    * be sampled under w = 0 anyway; refusing keeps the contract sharp). */
  def weightedPrioritySample(df: org.apache.spark.sql.DataFrame, groupCol: String,
      idCol: String, weightCol: String, k: Int,
      cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    graft.functions.Hash60.register(df.sparkSession)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("priority").desc, col(idCol))
    df.filter(col(groupCol).isNotNull && col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("priority",
        col(weightCol).cast("double") /
          (expr(s"hash60(concat('ws:', CAST($idCol AS STRING)))") + lit(1L)).cast("double"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select((Seq(groupCol, "rn", "priority") ++ cols).map(col): _*)
  }
}
