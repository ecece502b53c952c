package graft.operators

import org.apache.spark.sql.functions._
import Tables.ld

/** The CURATION PIPELINE — the end product a training-data engine exists
  * for, composed from the gated building blocks and gated end-to-end
  * itself (q44):
  *
  *   documents → QUALITY filter (q14's score) → REPETITION filter (q45's
  *   Gopher-style signals) → NEAR-DUP dedup (keep only canonical docs,
  *   q32's keep-first policy over the LSH-verified pairs) → deterministic
  *   STRATIFIED sample (q31's hash rates) → MATERIALIZE into hash-sharded
  *   parquet (the training-shard layout).
  *
  * Every stage reuses the exact shared definitions its standalone gate
  * uses (tokenizer, hash60, vpairs CTEs, rate table), so the composed
  * oracle is the composition of the standalone oracles — any drift in a
  * stage breaks both its own gate and this one.
  *
  * Scale shape: quality + sampling are narrow filters over the scan; dedup
  * is the q18 pair stage (one corpus signature pass, band equi-joins); the
  * shard write is one hash repartition. Nothing here is new machinery —
  * that is the point: the pipeline a user actually runs is a composition
  * of operators that are each individually scale-audited. */
object CurationOps {

  import TextOps.{wordsSpark, wordsDuck}

  val Shards = 8

  val queries: Seq[OpQuery] = Seq(
    OpQuery("q44_curation_pipeline",
      (s, d) => {
        graft.functions.Hash60.register(s)
        val root = Gate.workDir("q44")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        // 1. quality gate (q14's score, kept docs only)
        val quality = ld(s, d, "documents")
          .withColumn("ws", expr(wordsSpark))
          .withColumn("n_words", size(col("ws")).cast("long"))
          .withColumn("mean_wlen",
            expr("aggregate(ws, 0L, (acc, w) -> acc + length(w))").cast("double") /
              col("n_words").cast("double"))
          .filter(col("n_words") >= 20 && col("n_words") <= 2000 &&
            col("mean_wlen") >= 2.0 && col("mean_wlen") <= 12.0)
          .select("doc_id", "lang", "n_words")
        // 1b. repetition gate (q45's signals, shared typed pass)
        val nonRepetitive = TextOps.repetitionStats(s, ld(s, d, "documents"))
          .filter(!col("is_repetitive")).select("doc_id")
        val clean = quality.join(nonRepetitive, Seq("doc_id"))
        // 2. near-dup dedup: drop every NON-canonical doc (q32 keep-first)
        val dupOf = DedupOps.lshVerifiedPairs(s, d)
          .groupBy(col("b").as("doc_id")).agg(min(col("a")).as("canon"))
        val deduped = clean.join(dupOf, Seq("doc_id"), "left")
          .filter(col("canon").isNull).drop("canon")
        // 3. deterministic stratified sample (q31's rates)
        val sampled = deduped
          .withColumn("h", expr("pmod(hash60(concat('sample:', CAST(doc_id AS STRING))), 1000)"))
          .withColumn("keep_rate", expr(SamplingOps.rateSql))
          .filter(col("h") < col("keep_rate"))
        // 4. materialize the training shards (hash-sharded parquet) and
        // return the READ-BACK — the gate checks what was actually written
        val shards = sampled
          .withColumn("shard", expr(s"pmod(hash60(concat('shard:', CAST(doc_id AS STRING))), $Shards)"))
          .select("doc_id", "lang", "n_words", "shard")
        shards.repartition(col("shard"))
          .write.partitionBy("shard").mode("overwrite").parquet(s"$root/shards")
        s.read.parquet(s"$root/shards")
          .select(col("doc_id"), col("lang"), col("n_words"),
            col("shard").cast("long").as("shard"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${DedupOps.pairsDuckCtes},
        quality AS (
          SELECT doc_id, lang, n_words FROM (
            SELECT doc_id, lang, CAST(len(ws) AS BIGINT) AS n_words,
              CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)
                / CAST(len(ws) AS DOUBLE) AS mean_wlen
            FROM (SELECT doc_id, lang, $wordsDuck AS ws FROM documents) t) q
          WHERE n_words >= 20 AND n_words <= 2000
            AND mean_wlen >= 2.0 AND mean_wlen <= 12.0),
        rep AS (${TextOps.repetitionDuckSelect}),
        clean AS (
          SELECT q.doc_id, q.lang, q.n_words FROM quality q
          JOIN rep r USING (doc_id) WHERE NOT r.is_repetitive),
        dup_of AS (SELECT b AS doc_id, min(a) AS canon FROM vpairs GROUP BY b),
        deduped AS (
          SELECT q.doc_id, q.lang, q.n_words FROM clean q
          LEFT JOIN dup_of m USING (doc_id) WHERE m.canon IS NULL),
        sel AS (
          SELECT doc_id, lang, n_words,
            CAST('0x' || substr(md5('sample:' || doc_id), 1, 15) AS BIGINT) % 1000 AS h,
            ${SamplingOps.rateSql} AS keep_rate
          FROM deduped)
        SELECT doc_id, lang, n_words,
          CAST('0x' || substr(md5('shard:' || doc_id), 1, 15) AS BIGINT) % $Shards AS shard
        FROM sel WHERE h < keep_rate ORDER BY doc_id""")),

    OpQuery("q94_sequence_packing",
      (s, d) => packSequences(s, ld(s, d, "documents"), budget = 512L, buckets = 8)
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, n_tok, start_tok, start_tok // 512 AS chunk_id FROM (
          SELECT doc_id, n_tok,
            CAST(COALESCE(sum(n_tok) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
          FROM (SELECT doc_id, len($wordsDuck) AS n_tok FROM documents) t) u
        ORDER BY doc_id""")),

    OpQuery("q135_canonical_by_quality",
      // GROUP-REPRESENTATIVE SELECTION: within each transitive near-dup
      // component (q35's connected components over the LSH-verified
      // pairs), keep the LONGEST document (integer n_words; ties →
      // smallest doc_id) — the "keep the richest copy" curation rule,
      // rather than q32's keep-first. Pure integer ordering keys, one
      // bounded window per component. Oracle recomputes components with
      // the recursive-CTE closure and applies the same window rule.
      (s, d) => {
        val labeled = componentLabeled(s, d)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("component").orderBy(col("n_words").desc, col("doc_id"))
        val canon = labeled.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("component"), col("doc_id").as("canonical_id"))
        labeled.join(canon, Seq("component"))
          .select(col("doc_id"), col("component"), col("n_words"),
            col("canonical_id"), (col("doc_id") === col("canonical_id")).as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $componentDuckCtes,
        canon AS (SELECT component, doc_id AS canonical_id FROM (
            SELECT component, doc_id, row_number() OVER (PARTITION BY component
              ORDER BY n_words DESC, doc_id) AS rn FROM labeled) r
          WHERE rn = 1)
        SELECT l.doc_id, l.component, l.n_words, c.canonical_id,
               l.doc_id = c.canonical_id AS keep
        FROM labeled l JOIN canon c USING (component)
        ORDER BY l.doc_id""")),

    OpQuery("q136_leakfree_split",
      // LEAKAGE-FREE TRAIN/VAL/TEST SPLIT: the split is a deterministic
      // function of the DUP COMPONENT, not the document — near-duplicate
      // documents can never straddle the train/eval boundary (the
      // contamination channel q53 detects after the fact, closed at
      // assignment time). The mix is engine-portable integer arithmetic;
      // the gate hard-asserts no component spans two splits.
      (s, d) => {
        val labeled = componentLabeled(s, d)
        val out = labeled
          .withColumn("split_id",
            ((col("component") % 99991L) * 31L + 7L) % 10L)
          .withColumn("split",
            when(col("split_id") <= 7, "train")
              .when(col("split_id") === 8, "val").otherwise("test"))
          .select(col("doc_id"), col("component"), col("split"))
        require(out.groupBy("component")
          .agg(countDistinct(col("split")).as("ns"))
          .filter(col("ns") > 1).limit(1).count() == 0,
          "leakage: a dup component spans two splits")
        out.orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $componentDuckCtes
        SELECT doc_id, component,
          CASE WHEN ((component % 99991) * 31 + 7) % 10 <= 7 THEN 'train'
               WHEN ((component % 99991) * 31 + 7) % 10 = 8 THEN 'val'
               ELSE 'test' END AS split
        FROM labeled ORDER BY doc_id""")),

    OpQuery("q190_curation_provenance",
      // RECORD-LEVEL PROVENANCE for the q44 pipeline: one row PER INPUT
      // DOCUMENT saying what the pipeline did to it — the audit artifact a
      // data-governance review (or a "why was my page removed" ticket)
      // needs, and the inverse view of q44 (which only materializes
      // survivors). verdict = the FIRST stage that dropped the doc, in
      // pipeline order (quality → repetition → near-dup → sample), with
      // the evidence column that stage's decision used: dup_of carries the
      // canonical the doc lost to, shard carries the training shard a kept
      // doc landed in. Every stage predicate is the SAME shared definition
      // its standalone gate uses (q14 words, q45 repetition, q18 vpairs,
      // q31 rates), so q44 ∘ this gate stay consistent by construction:
      // the kept rows here ARE q44's output.
      //
      // Scale shape: the expensive input (vpairs) is the q18 pair stage,
      // already audited; everything else is narrow per-row arithmetic plus
      // two broadcast-size joins. At 100 TB the provenance ledger costs
      // one extra projection over work the pipeline already does.
      (s, d) => provenance(s, d)
        .select(col("doc_id"), col("verdict"),
          when(col("verdict") === "dropped_dup", col("canon")).as("dup_of"),
          when(col("verdict") === "kept",
            expr(s"pmod(hash60(concat('shard:', CAST(doc_id AS STRING))), $Shards)"))
            .as("shard"))
        .orderBy("doc_id"),
      Some(s"""WITH $provenanceDuckCtes
        SELECT doc_id, verdict,
          CASE WHEN verdict = 'dropped_dup' THEN canon END AS dup_of,
          CASE WHEN verdict = 'kept' THEN
            CAST('0x' || substr(md5('shard:' || doc_id), 1, 15) AS BIGINT) % $Shards
          END AS shard
        FROM verdicts ORDER BY doc_id""")),

    OpQuery("q197_dataset_card",
      // DATASET CARD / DATASHEET: the release artifact a curated-corpus
      // consumer reads first — the full curation FUNNEL by language: for
      // every (lang, verdict) cell, how many documents and how many tokens
      // flowed there. Built on the SAME per-document verdict frame as the
      // q190 ledger (one definition, two grains), so card, ledger, and the
      // shipped q44 corpus can never disagree. The card also makes
      // composition bias visible: the kept row per language IS the
      // post-curation language mix a model trains on.
      //
      // Scale shape: the aggregate adds one tiny shuffle (langs × 5
      // verdicts cells) on top of work the pipeline already does.
      (s, d) => provenance(s, d)
        .groupBy("lang", "verdict")
        .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_tokens"))
        .orderBy("lang", "verdict"),
      Some(s"""WITH $provenanceDuckCtes
        SELECT lang, verdict, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n_words) AS BIGINT) AS n_tokens
        FROM verdicts GROUP BY lang, verdict ORDER BY lang, verdict"""))
  )

  /** The per-document pipeline verdict frame shared by q190 (the ledger)
    * and q197 (the dataset card): (doc_id, lang, n_words, verdict, canon)
    * with verdict = the FIRST stage of quality → repetition → near-dup →
    * sample that dropped the doc, else 'kept'. Every predicate is the
    * SAME shared definition its standalone gate uses. */
  private def provenance(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    graft.functions.Hash60.register(s)
    val docs = ld(s, d, "documents")
    val quality = docs
      .withColumn("ws", expr(wordsSpark))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("mean_wlen",
        expr("aggregate(ws, 0L, (acc, w) -> acc + length(w))").cast("double") /
          col("n_words").cast("double"))
      .select(col("doc_id"), col("lang"), col("n_words"),
        coalesce(col("n_words") >= 20 && col("n_words") <= 2000 &&
          col("mean_wlen") >= 2.0 && col("mean_wlen") <= 12.0,
          lit(false)).as("quality_ok"))
    val rep = TextOps.repetitionStats(s, docs)
      .select(col("doc_id"), col("is_repetitive"))
    val dupOf = DedupOps.lshVerifiedPairs(s, d)
      .groupBy(col("b").as("doc_id")).agg(min(col("a")).as("canon"))
    quality.join(rep, Seq("doc_id"))
      .join(dupOf, Seq("doc_id"), "left")
      .withColumn("h",
        expr("pmod(hash60(concat('sample:', CAST(doc_id AS STRING))), 1000)"))
      .withColumn("keep_rate", expr(SamplingOps.rateSql))
      .withColumn("verdict",
        when(not(col("quality_ok")), "dropped_quality")
          .when(col("is_repetitive"), "dropped_repetition")
          .when(col("canon").isNotNull, "dropped_dup")
          .when(col("h") >= col("keep_rate"), "dropped_sample")
          .otherwise("kept"))
      .select("doc_id", "lang", "n_words", "verdict", "canon")
  }

  /** The DuckDB CTE chain ending in `verdicts (doc_id, lang, n_words,
    * verdict, canon)` — the oracle twin of [[provenance]]. */
  private lazy val provenanceDuckCtes: String =
    s"""${DedupOps.pairsDuckCtes},
       |pq AS (SELECT doc_id, lang, CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)
       |      / CAST(len(ws) AS DOUBLE) AS mean_wlen
       |  FROM (SELECT doc_id, lang, $wordsDuck AS ws FROM documents) t),
       |pquality AS (SELECT doc_id, lang, n_words,
       |    coalesce(n_words >= 20 AND n_words <= 2000
       |      AND mean_wlen >= 2.0 AND mean_wlen <= 12.0, FALSE) AS quality_ok
       |  FROM pq),
       |prep AS (${TextOps.repetitionDuckSelect}),
       |pdup AS (SELECT b AS doc_id, min(a) AS canon FROM vpairs GROUP BY b),
       |pv AS (SELECT pquality.doc_id, lang, pquality.n_words, quality_ok,
       |    r.is_repetitive, m.canon,
       |    CAST('0x' || substr(md5('sample:' || pquality.doc_id), 1, 15) AS BIGINT) % 1000 AS h,
       |    ${SamplingOps.rateSql} AS keep_rate
       |  FROM pquality JOIN prep r USING (doc_id) LEFT JOIN pdup m USING (doc_id)),
       |verdicts AS (SELECT doc_id, lang, n_words, canon,
       |    CASE WHEN NOT quality_ok THEN 'dropped_quality'
       |         WHEN is_repetitive THEN 'dropped_repetition'
       |         WHEN canon IS NOT NULL THEN 'dropped_dup'
       |         WHEN h >= keep_rate THEN 'dropped_sample'
       |         ELSE 'kept' END AS verdict
       |  FROM pv)""".stripMargin

  /** (doc_id, n_words, component): every document labeled with its
    * transitive near-dup component (singletons label themselves) — the
    * shared input of the q135/q136 curation rules. */
  private def componentLabeled(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val comp = DedupOps.connectedComponents(
      DedupOps.lshVerifiedPairs(s, d).select("a", "b"))
    ld(s, d, "documents")
      .select(col("doc_id"), size(expr(wordsSpark)).cast("long").as("n_words"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("label"), col("doc_id")).as("component"))
  }

  /** The DuckDB CTE chain ending in `labeled (doc_id, n_words, component)`
    * — q35's recursive reachability closure plus the n_words projection. */
  private lazy val componentDuckCtes: String =
    s"""${DedupOps.pairsDuckCtes},
       |edges AS (SELECT a AS src, b AS dst FROM vpairs
       |          UNION SELECT b, a FROM vpairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
       |comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
       |nw AS (SELECT doc_id, CAST(len($wordsDuck) AS BIGINT) AS n_words FROM documents),
       |labeled AS (SELECT nw.doc_id, nw.n_words,
       |  coalesce(c.component, nw.doc_id) AS component
       |  FROM nw LEFT JOIN comp c USING (doc_id))""".stripMargin

  /** SEQUENCE PACKING for LLM training: lay the corpus out on one global
    * token axis (docs in deterministic doc_id order, concatenated) and cut
    * it into fixed-`budget` training sequences; each doc is assigned the
    * chunk its first token lands in. Deterministic: re-runs, resumes, and
    * different cluster sizes produce the identical packing.
    *
    * Scale shape — a distributed PREFIX SUM, not a global window: a global
    * `sum() OVER (ORDER BY doc_id)` would single-partition 100 TB. Instead
    * docs are bucketed by explicit doc_id range (a pure function of the id,
    * not a sampled RangePartitioner, so every pass sees the same buckets),
    * per-bucket token totals (`buckets` longs) come back to the driver for
    * the bucket-offset scan, and the running sum is a per-bucket window —
    * each window partition is corpus/buckets rows, sized to the executor.
    * The bucket offsets re-enter the plan as a broadcast join. */
  def packSequences(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame, budget: Long,
      buckets: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    require(budget > 0 && buckets > 0)
    val toks = docs
      .withColumn("n_tok", size(expr(TextOps.wordsSpark)).cast("long"))
      .select("doc_id", "n_tok")
    val maxId = toks.agg(max("doc_id")).head().getLong(0)
    val per = maxId / buckets + 1 // ceil over a dense-ish id space
    val bucketed = toks.withColumn("bucket", (col("doc_id") / per).cast("long"))
    // phase 1: per-bucket totals — `buckets` rows to the driver, never data
    val sums = bucketed.groupBy("bucket").agg(sum("n_tok").as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val offsets = (0L until buckets.toLong).scanLeft(0L) {
      case (acc, b) => acc + sums.getOrElse(b, 0L)
    }.init
    val offDf = s.createDataset(offsets.zipWithIndex.map {
      case (off, b) => (b.toLong, off)
    }).toDF("bucket", "bucket_off")
    // phase 2: per-bucket running sum + the broadcast bucket offset
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    bucketed.join(broadcast(offDf), Seq("bucket"))
      .withColumn("start_tok",
        coalesce(sum("n_tok").over(w), lit(0L)) + col("bucket_off"))
      .withColumn("chunk_id", expr(s"start_tok div $budget"))
      .select("doc_id", "n_tok", "start_tok", "chunk_id")
  }
}
