package graft.operators

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables.ld

/** INVERTED TEXT INDEX — keyword search served off a token-partitioned
  * postings store instead of a corpus scan. Build tokenizes each document
  * once (the same `[a-z0-9]+` rule every text gate shares with the DuckDB
  * oracle), folds term frequencies with a partial-agg shuffle, and writes
  * postings hash-partitioned by token into the [[BatchStore]] layout
  * (`postings/batch=N/tbucket=K/`). A multi-term AND query then derives its
  * buckets HOST-SIDE from the query terms (xxhash64 ≡ Spark's, so the same
  * term always lands in the same directory) and reads ONLY those
  * directories: cost is O(the query terms' posting lists), independent of
  * corpus size — the property that makes keyword search serveable over a
  * 100 TB document set where any scan-shaped plan is off the table.
  *
  * Incremental: each ingest batch appends its own `batch=N` subtree
  * (idempotent overwrite per batch id — safe under foreachBatch replay);
  * readers union live batches; `compactBatches` bounds small-file and
  * directory accumulation offline with the crash-safe staged-swap protocol
  * shared with SigStore / EmbStore / IvfIndex.
  */
object TextIndex {

  /** Per-segment stat file inside each doclens batch dir (underscore:
    * Spark-invisible). */
  val StatsFile = "_STATS"

  /** Per-index metadata, persisted so readers and later appends agree on
    * the bucket count (changing it would re-home every term). */
  final case class Index(dir: String, buckets: Int) {
    def postingsDir: String = s"$dir/postings"
    def positionalDir: String = s"$dir/pos"
    def doclensDir: String = s"$dir/doclens"
    def delsDir: String = s"$dir/dels"

    private def bucketCol: Column =
      pmod(xxhash64(col("token")), lit(buckets)).cast("int")

    /** Host-side bucket of one query term — must agree with [[bucketCol]];
      * graft.functions.XxHash64Host calls Spark's own XXH64 kernel, and its
      * seed and `pmod` parity are property-tested against the xxhash64
      * expression. */
    def bucketOf(term: String): Int =
      java.lang.Math.floorMod(
        graft.functions.XxHash64Host.hashString(term, graft.functions.XxHash64Host.SparkSeed),
        buckets.toLong).toInt

    /** Append one document batch's postings (idempotent per batchId: the
      * batch dir is an overwrite, never a double append). Alongside the
      * posting lists the index keeps the ranking sidecars: per-doc token
      * lengths (`doclens/batch=N`) and, INSIDE each doclens batch dir, a
      * `_STATS` file (docs + tokens of that segment) — stats ride the
      * exact batch-dir liveness machinery (markers, sweep, crash-safe
      * swap), so they can never disagree with the data they describe.
      * A replayed batch id overwrites everything with identical content. */
    def append(docs: DataFrame, batchId: Long): Unit = {
      // postings and doclens target distinct dirs and share no state —
      // overlap the two committer-dominated writes (guide §2.6), same
      // pattern as DedupOps.SigStore.append
      val lens = docs.select(col("doc_id"),
        size(expr(TextOps.wordsSpark)).cast("long").as("len"))
      BatchStore.overlapWrites {
        // cluster by the partition column before the dynamic-partition
        // write: the upstream groupBy hash-partitions by (doc_id, token),
        // so every task would otherwise write a sliver file into every
        // tbucket dir (tasks × buckets small files per batch); clustered,
        // each tbucket is one file and the writes parallelize across
        // buckets (guide §6 output sizing)
        postings(docs).withColumn("tbucket", bucketCol)
          .repartition(col("tbucket"))
          .write.partitionBy("tbucket").mode("overwrite")
          .parquet(s"$postingsDir/batch=$batchId")
      }(writeDoclens(lens, s"$doclensDir/batch=$batchId"))
    }

    /** Write one doclens segment + its `_STATS` (underscore-prefixed:
      * invisible to Spark readers, visible to the host-side stat sum). */
    private def writeDoclens(lens: DataFrame, dest: String): Unit = {
      lens.write.mode("overwrite").parquet(dest)
      val agg = lens.agg(count(lit(1)), coalesce(sum(col("len")), lit(0L))).head()
      Files.write(Paths.get(dest, StatsFile),
        s"""{"nDocs":${agg.getLong(0)},"nTokens":${agg.getLong(1)}}""".getBytes("UTF-8"))
    }

    /** (total docs, total tokens) across LIVE doclens segments. Until a
      * compaction applies tombstones, deleted docs still count — the same
      * contract as Lucene's docFreq over un-merged segments. */
    def corpusStats: (Long, Long) = {
      val re = """"nDocs"\s*:\s*(\d+)\s*,\s*"nTokens"\s*:\s*(\d+)""".r
      BatchStore.liveBatchDirs(doclensDir)
        .map(_.resolve(StatsFile))
        .filter(Files.exists(_))
        .map(p => new String(Files.readAllBytes(p), "UTF-8"))
        .map(s => re.findFirstMatchIn(s)
          .map(m => (m.group(1).toLong, m.group(2).toLong))
          .getOrElse(throw new IllegalStateException(s"corrupt stats: $s")))
        .foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
    }

    /** Tombstone a set of already-ingested documents (delete-by-id).
      * Search excludes them IMMEDIATELY via an anti-join against the
      * (bounded) tombstone set; the next compaction drops their rows
      * PHYSICALLY from every side and clears the applied tombstones —
      * Lucene's deletes-apply-at-merge lifecycle.
      *
      * Tombstones are GENERATIONAL: a tombstone written at `batchId` masks
      * only rows ingested in EARLIER batches (`batch < batchId`), so a
      * document UPDATE is delete-at-M + re-append-at-M'>M (Lucene's
      * delete-then-add), and the re-added version is immediately visible.
      * Batch ids across appends and deletes share one monotone axis — the
      * same contract BatchStore already imposes on compaction ids. */
    def delete(docIds: DataFrame, batchId: Long): Unit =
      docIds.select(col("doc_id").cast("long"))
        .write.mode("overwrite").parquet(s"$delsDir/batch=$batchId")

    /** The live tombstone set with its generation: (doc_id, del_max = the
      * newest tombstone batch per doc — later tombstones subsume earlier
      * ones). None when the feature is unused (searches then skip the
      * anti-join entirely). */
    def deletedDocs(spark: SparkSession): Option[DataFrame] = {
      val live = BatchStore.liveBatchDirs(delsDir)
      if (live.isEmpty) None
      else Some(spark.read.option("basePath", delsDir)
        .parquet(live.map(_.toString): _*)
        .groupBy("doc_id")
        .agg(max(col("batch").cast("long")).as("del_max")))
    }

    /** Mask tombstoned rows. `df` must come off a basePath read of a data
      * side, so it carries the `batch` partition column the generation
      * rule compares against. */
    private def minusDeleted(spark: SparkSession, df: DataFrame): DataFrame =
      deletedDocs(spark) match {
        case Some(dels) =>
          df.join(dels,
            df("doc_id") === dels("doc_id") &&
              df("batch").cast("long") < dels("del_max"),
            "left_anti")
        case None => df
      }

    /** The `tbucket=K` directories (across live batches) a term set reads —
      * exposed so tests can audit structural pruning. */
    def prunedPaths(terms: Seq[String]): Seq[String] =
      BatchStore.prunedPaths(postingsDir, "tbucket", terms.map(bucketOf).toSet)

    /** Every `tbucket=K` directory currently live (audit helper). */
    def allPaths: Seq[String] =
      BatchStore.prunedPaths(postingsDir, "tbucket", (0 until buckets).toSet)

    /** Documents containing ALL `terms`, scored by total term frequency.
      * Reads only the terms' bucket directories (host-side listing), then
      * one small aggregation keyed by doc_id over the matching postings.
      * Returns (doc_id, score). */
    def searchAll(spark: SparkSession, terms: Seq[String]): DataFrame = {
      val ts = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
      require(ts.nonEmpty, "searchAll needs at least one term")
      val paths = prunedPaths(ts)
      if (paths.isEmpty)
        return spark.range(0).select(col("id").as("doc_id"), col("id").as("score"))
      minusDeleted(spark, spark.read.option("basePath", postingsDir).parquet(paths: _*)
        .filter(col("token").isin(ts: _*)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nt"), sum("tf").as("score"))
        // tf rows are unique per (doc_id, token), so nt == distinct terms
        .filter(col("nt") === ts.size)
        .select(col("doc_id"), col("score"))
    }

    /** Append one document batch's POSITIONAL postings (doc_id, token,
      * positions[]) — same bucket rule, separate subtree, so an index can
      * carry either or both posting kinds. */
    def appendPositional(docs: DataFrame, batchId: Long): Unit =
      positionalPostings(docs).withColumn("tbucket", bucketCol)
        .repartition(col("tbucket")) // one file per tbucket (see append)
        .write.partitionBy("tbucket").mode("overwrite")
        .parquet(s"$positionalDir/batch=$batchId")

    /** The positional `tbucket=K` dirs a phrase's distinct terms read. */
    def prunedPositionalPaths(terms: Seq[String]): Seq[String] =
      BatchStore.prunedPaths(positionalDir, "tbucket", terms.map(bucketOf).toSet)

    def allPositionalPaths: Seq[String] =
      BatchStore.prunedPaths(positionalDir, "tbucket", (0 until buckets).toSet)

    /** Exact phrase occurrences per document, served off the positional
      * store. Reads ONLY the distinct phrase terms' bucket directories,
      * then anchors each (token, pos) row at every phrase offset the token
      * fills (`anchor = pos - offset`): a phrase occurrence at `a` is an
      * anchor where all `phrase.length` offsets are present — repeated
      * terms in the phrase work because each occurrence row fans out to
      * every offset that term occupies. Returns (doc_id, n_occ).
      *
      * Plan shape: pruned scan → two narrow explodes → hash-agg keyed
      * (doc_id, anchor) → hash-agg keyed doc_id: one shuffle family on
      * doc_id, cost O(the terms' posting lists) regardless of corpus. */
    def phraseSearch(spark: SparkSession, phrase: Seq[String]): DataFrame = {
      val ph = phrase.map(_.toLowerCase(java.util.Locale.ROOT))
      require(ph.nonEmpty, "phraseSearch needs a non-empty phrase")
      val terms = ph.distinct
      val offsets: Map[String, Seq[Int]] =
        ph.zipWithIndex.groupBy(_._1).map { case (t, os) => t -> os.map(_._2) }
      val paths = prunedPositionalPaths(terms)
      if (paths.isEmpty)
        return spark.range(0).select(col("id").as("doc_id"), col("id").as("n_occ"))
      minusDeleted(spark, spark.read.option("basePath", positionalDir).parquet(paths: _*)
        .filter(col("token").isin(terms: _*)))
        .select(col("doc_id"), col("token"), explode(col("positions")).as("pos"))
        .select(col("doc_id"), col("pos"),
          explode(element_at(typedLit(offsets), col("token"))).as("off"))
        .groupBy(col("doc_id"), (col("pos") - col("off")).as("anchor"))
        .agg(countDistinct(col("off")).as("nf"))
        .filter(col("nf") === ph.size)
        .groupBy("doc_id").agg(count(lit(1)).as("n_occ"))
    }

    /** Top-k RANKED retrieval (BM25 with k1=1.2, b=0.75 and the RATIONAL
      * idf `(N-df+0.5)/(df+0.5)` — no logarithm: a log idf would hostage
      * the cross-engine gate to libm rounding, the q97 lesson). Clearing
      * the fractions (avgdl = T/N) gives one integer numerator/denominator
      * per (doc, term):
      *
      *   num = (2N - 2df + 1) · 44 · tf · T
      *   den = (2df + 1) · (20·tf·T + 6·T + 18·len·N)
      *
      * score_t = num/den evaluated as ONE exactly-rounded IEEE division
      * (long→double conversion is exactly rounded too), and the per-doc
      * score sums the per-term doubles in FIXED query order — every step
      * bit-reproducible in any IEEE engine. Overflow guard: the factors
      * must fit a signed 64-bit product; `tfCap` bounds the worst case and
      * is checked against the index's own corpus stats.
      *
      * Serving shape: postings read is bucket-pruned to the query terms;
      * df comes from the same pruned read (it IS the posting-list length);
      * doclens is a per-doc scalar sidecar joined on doc_id (bucketable by
      * doc at real scale); N and T are host-side segment-stat sums. Top-k
      * via one bounded sort, ties broken by doc_id. */
    def rankedSearch(spark: SparkSession, terms: Seq[String], k: Int): DataFrame = {
      val ts = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
      require(ts.nonEmpty, "rankedSearch needs at least one term")
      val (nDocs, nTokens) = corpusStats
      require(nDocs > 0, "rankedSearch on an empty index")
      val paths = prunedPaths(ts)
      if (paths.isEmpty)
        return spark.range(0).select(col("id").as("doc_id"),
          col("id").cast("double").as("score"))
      val posts = minusDeleted(spark,
        spark.read.option("basePath", postingsDir).parquet(paths: _*)
          .filter(col("token").isin(ts: _*)))
        .select("doc_id", "token", "tf")
      val dfreq = posts.groupBy("token").agg(count(lit(1)).as("df"))
      val lens = spark.read.option("basePath", doclensDir)
        .parquet(BatchStore.liveBatchDirs(doclensDir).map(_.toString): _*)
        .select("doc_id", "len")
      // overflow guard against the ACTUAL maxima in play — not a
      // hypothetical cap: Spark's non-ANSI Long arithmetic wraps silently,
      // so a doc repeating a term (or a doc length) beyond the 64-bit
      // product bound would produce garbage scores with no error. Two
      // narrow aggs over the already-pruned inputs, refusing loudly.
      val mm = posts.agg(max(col("tf")).cast("long"))
        .crossJoin(lens.agg(max(col("len")).cast("long"))).head()
      if (!mm.isNullAt(0)) {
        val (maxTf, maxLen) = (mm.getLong(0), if (mm.isNullAt(1)) 0L else mm.getLong(1))
        require(BigInt(2 * nDocs + 1) * 44 * maxTf * nTokens < BigInt(Long.MaxValue) &&
          BigInt(2 * nDocs + 1) * (20 * maxTf * BigInt(nTokens) + 6 * nTokens +
            18 * BigInt(maxLen) * nDocs) < BigInt(Long.MaxValue),
          s"corpus too large for 64-bit exact BM25 " +
            s"(nDocs=$nDocs nTokens=$nTokens maxTf=$maxTf maxLen=$maxLen)")
      }
      val num = (lit(2L * nDocs + 1) - lit(2L) * col("df")) *
        lit(44L) * col("tf") * lit(nTokens)
      val den = (lit(2L) * col("df") + lit(1L)) *
        (lit(20L) * col("tf") * lit(nTokens) + lit(6L * nTokens) +
          lit(18L * nDocs) * col("len"))
      val perTerm = posts
        .join(broadcast(dfreq), Seq("token"))
        .join(lens, Seq("doc_id"))
        .withColumn("s", num.cast("double") / den.cast("double"))
      val pivoted = perTerm.groupBy("doc_id")
        .agg(ts.zipWithIndex.map { case (t, i) =>
          max(when(col("token") === t, col("s"))).as(s"s_$i")
        }.head, ts.zipWithIndex.tail.map { case (t, i) =>
          max(when(col("token") === t, col("s"))).as(s"s_$i")
        }: _*)
      val score = ts.indices.map(i => coalesce(col(s"s_$i"), lit(0.0)))
        .reduceLeft(_ + _)
      pivoted.select(col("doc_id"), score.as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(k)
    }

    /** Offline maintenance: consolidate every present side's live
      * `batch=N` dirs into one (bucket partitioning preserved — pruning
      * semantics unchanged) via the shared crash-safe staged-swap, and
      * APPLY tombstones physically: each data side drops deleted docs'
      * rows during consolidation, segment stats are recomputed for the
      * surviving rows (the `_STATS` file travels inside the staged dir),
      * and the dels side consolidates to the empty set. A crash between
      * side moves is harmless: already-moved sides carry a batch id above
      * every tombstone's (so lingering tombstones mask nothing they'd
      * already filtered), not-yet-moved sides still anti-join at read.
      * Returns total batch dirs collapsed. */
    def compactBatches(spark: SparkSession, intoBatchId: Long,
        crashPoint: String => Unit = _ => ()): Int = {
      def live(root: String): DataFrame =
        spark.read.option("basePath", root)
          .parquet(BatchStore.liveBatchDirs(root).map(_.toString): _*)
      def retained(root: String, cols: Seq[String]): DataFrame =
        minusDeleted(spark, live(root)).select(cols.map(col): _*)
      def bucketed(root: String, cols: Seq[String]): String => Unit = { stage =>
        retained(root, cols).repartition(col("tbucket")) // one file/bucket
          .write.partitionBy("tbucket").parquet(stage)
      }
      val hasDels = BatchStore.listBatchDirs(delsDir).nonEmpty
      val sides = Seq(
        postingsDir -> bucketed(postingsDir, Seq("doc_id", "token", "tf", "tbucket")),
        positionalDir -> bucketed(positionalDir, Seq("doc_id", "token", "positions", "tbucket")),
        doclensDir -> { stage: String =>
          writeDoclens(retained(doclensDir, Seq("doc_id", "len")), stage)
        }
      ).filter { case (root, _) => BatchStore.listBatchDirs(root).nonEmpty } ++
        (if (hasDels) Seq(delsDir -> { stage: String =>
          // all tombstones are applied above → consolidate to empty
          live(delsDir).select("doc_id").limit(0).write.parquet(stage)
        }) else Seq.empty)
      if (sides.isEmpty) 0
      // pending tombstones are work even when every side has ≤ 1 batch
      else BatchStore.compact(dir, sides, intoBatchId, crashPoint, force = hasDels)
    }
  }

  /** (doc_id, token, tf) — tokenize once, fold term frequency with a
    * partial-agg shuffle. The shared tokenizer rule keeps Spark and the
    * DuckDB oracle identical (TextOps.wordsSpark / wordsDuck). */
  def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(expr(TextOps.wordsSpark)).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))

  /** (doc_id, token, positions[]) — posexplode keeps the 0-based word
    * offset so phrase adjacency survives the per-term grouping. */
  def positionalPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(expr(TextOps.wordsSpark)).as(Seq("pos", "token")))
      .groupBy("doc_id", "token")
      .agg(sort_array(collect_list(col("pos"))).as("positions"))

  def create(dir: String, buckets: Int = 32): Index = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val meta = d.resolve("index.json")
    require(!Files.exists(meta), s"index already exists at $dir")
    Files.write(meta, s"""{"buckets":$buckets}""".getBytes("UTF-8"))
    Index(dir, buckets)
  }

  def loadIndex(dir: String): Index = {
    val meta = Paths.get(dir, "index.json")
    require(Files.exists(meta), s"no index at $dir")
    val s = new String(Files.readAllBytes(meta), "UTF-8")
    val b = """"buckets"\s*:\s*(\d+)""".r.findFirstMatchIn(s)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(s"corrupt index meta: $s"))
    Index(dir, b)
  }

  private val q125Terms = Seq("dup", "merge", "window")
  // one phrase with a repeated term (offset fan-out) + one plain bigram
  private val q126Phrases = Seq(Seq("batch", "batch"), Seq("stream", "spark"))
  private val q131Terms = Seq("spark", "join")
  private val q142Terms = Seq("struct", "impl", "rev")

  private def q126OracleArm(ph: Seq[String]): String = {
    val k = ph.size
    s"""SELECT '${ph.mkString(" ")}' AS phrase, doc_id FROM toks,
        LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - ${k - 1}, 0))) AS i)
        WHERE array_to_string(ws[i:i+${k - 1}], ' ') = '${ph.mkString(" ")}'"""
  }

  val queries: Seq[OpQuery] = Seq(
    OpQuery("q125_inverted_index",
      // KEYWORD SEARCH OFF THE INDEX under the hard gate: the postings
      // store is built INCREMENTALLY (two document waves, separate
      // batches), compacted through the crash-safe swap, and the AND query
      // answers from only the query terms' bucket directories — the gate
      // hard-asserts the structural pruning (paths read << paths live) and
      // that pre- and post-compaction answers are identical. The oracle
      // recomputes the same search by brute force over the raw documents
      // table, so a posting lost anywhere (tokenize, append, compact,
      // prune) breaks equality.
      (s, d) => {
        val root = Gate.workDir("q125")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val docs = ld(s, d, "documents")
        val idx = create(root, buckets = 32)
        idx.append(docs.filter(col("doc_id") % 4 =!= 0), batchId = 1L)
        idx.append(docs.filter(col("doc_id") % 4 === 0), batchId = 2L)
        val before = idx.searchAll(s, q125Terms)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
        require(before.nonEmpty, "gate is vacuous: no documents match the query")
        val pruned = idx.prunedPaths(q125Terms).size
        val all = idx.allPaths.size
        require(pruned < all,
          s"no structural pruning: read $pruned of $all bucket dirs")
        CdcQueries.putMetric("q125", "dirs_read", pruned.toDouble)
        CdcQueries.putMetric("q125", "dirs_live", all.toDouble)
        // 2 postings batches + 2 doclens batches collapse in one swap
        require(idx.compactBatches(s, intoBatchId = 1000L) == 4,
          "compaction must collapse both live batches on both sides")
        val after = idx.searchAll(s, q125Terms)
        require(after.collect().map(r => (r.getLong(0), r.getLong(1)))
          .sortBy(_._1).toSeq == before,
          "post-compaction search must equal pre-compaction")
        after.orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score FROM (
          SELECT doc_id, token, count(*) AS tf FROM (
            SELECT doc_id, unnest(${TextOps.wordsDuck}) AS token FROM documents) t
          WHERE token IN (${q125Terms.map(t => s"'$t'").mkString(", ")})
          GROUP BY 1, 2) tf
        GROUP BY doc_id HAVING count(DISTINCT token) = ${q125Terms.size}
        ORDER BY doc_id""")),

    OpQuery("q126_phrase_search",
      // EXACT PHRASE SEARCH off the positional postings store: the index
      // keeps (doc, token, positions[]) bucket-partitioned by token; a
      // phrase query reads only its distinct terms' bucket dirs and counts
      // anchors where every phrase offset is filled — including a phrase
      // with a REPEATED term, which exercises the offset fan-out. The
      // oracle recounts occurrences by brute-force n-gram equality over
      // the raw documents, so any lost/shifted position breaks equality.
      (s, d) => {
        val root = Gate.workDir("q126")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val docs = ld(s, d, "documents")
        val idx = create(root, buckets = 32)
        idx.appendPositional(docs.filter(col("doc_id") % 3 =!= 0), batchId = 1L)
        idx.appendPositional(docs.filter(col("doc_id") % 3 === 0), batchId = 2L)
        val all = idx.allPositionalPaths.size
        val parts = q126Phrases.map { ph =>
          val pruned = idx.prunedPositionalPaths(ph.distinct).size
          require(pruned < all,
            s"no structural pruning for $ph: read $pruned of $all bucket dirs")
          idx.phraseSearch(s, ph).withColumn("phrase", lit(ph.mkString(" ")))
        }
        val out = parts.reduce(_ unionByName _)
          .select("phrase", "doc_id", "n_occ")
        require(out.limit(1).count() > 0, "gate is vacuous: no phrase hits")
        out.orderBy("phrase", "doc_id")
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, ${TextOps.wordsDuck} AS ws FROM documents)
        SELECT phrase, doc_id, CAST(count(*) AS BIGINT) AS n_occ FROM (
          ${q126Phrases.map(q126OracleArm).mkString("\n          UNION ALL\n          ")}) u
        GROUP BY 1, 2 ORDER BY phrase, doc_id""")),

    OpQuery("q130_bm25_topk",
      // RANKED RETRIEVAL off the index: BM25 (k1=1.2, b=0.75, RATIONAL
      // idf — no log, the q97 float rule) scored entirely from index
      // sidecars (pruned postings for tf+df, doclens for length norm,
      // host-side segment stats for N and T). Every arithmetic step is
      // either exact 64-bit integer or one exactly-rounded IEEE op, and
      // the per-doc sum runs in fixed query order, so the oracle — which
      // recomputes the identical formula from the raw corpus — must match
      // the doubles bit for bit.
      (s, d) => {
        val root = Gate.workDir("q130")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val docs = ld(s, d, "documents")
        val idx = create(root, buckets = 32)
        idx.append(docs.filter(col("doc_id") % 2 === 0), batchId = 1L)
        idx.append(docs.filter(col("doc_id") % 2 =!= 0), batchId = 2L)
        val pruned = idx.prunedPaths(q125Terms).size
        require(pruned < idx.allPaths.size,
          s"no structural pruning: read $pruned of ${idx.allPaths.size}")
        val out = idx.rankedSearch(s, q125Terms, k = 20)
        require(out.count() == 20, "gate needs a full top-20")
        out
      },
      Some(s"""WITH tf AS (
          SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM (
            SELECT doc_id, unnest(${TextOps.wordsDuck}) AS token FROM documents) t
          WHERE token IN (${q125Terms.map(t => s"'$t'").mkString(", ")})
          GROUP BY 1, 2),
        lens AS (SELECT doc_id,
            CAST(len(${TextOps.wordsDuck}) AS BIGINT) AS len FROM documents),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n,
            (SELECT CAST(sum(len) AS BIGINT) FROM lens) AS tt FROM documents),
        dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        scored AS (SELECT tf.doc_id, tf.token,
            CAST((2*st.n - 2*dfreq.df + 1) * 44 * tf.tf * st.tt AS DOUBLE) /
            CAST((2*dfreq.df + 1) * (20*tf.tf*st.tt + 6*st.tt + 18*st.n*lens.len)
                 AS DOUBLE) AS s
          FROM tf JOIN dfreq USING (token) JOIN lens USING (doc_id), st),
        piv AS (SELECT doc_id,
            ${q125Terms.zipWithIndex.map { case (t, i) =>
              s"max(CASE WHEN token='$t' THEN s END) AS s_$i" }.mkString(",\n            ")}
          FROM scored GROUP BY doc_id)
        SELECT doc_id,
          ${q125Terms.indices.map(i => s"coalesce(s_$i, 0.0)").mkString(" + ")} AS score
        FROM piv ORDER BY score DESC, doc_id LIMIT 20""")),

    OpQuery("q131_streaming_index",
      // STREAMING INDEX MAINTENANCE: the corpus arrives in 4 waves through
      // a Structured Streaming query (foreachBatch appends, idempotent per
      // microbatch id), with ONE mid-corpus stop during which an OFFLINE
      // compaction consolidates the store, then a checkpoint resume —
      // post-resume microbatches keep SMALLER ids than the consolidated
      // dir and must stay live (the exact-id marker contract). The search
      // result off the streamed+compacted+resumed index must equal the
      // brute-force corpus oracle; segment stats must equal the corpus
      // count (proves the ranking sidecars streamed too).
      (s, d) => {
        val root = Gate.workDir("q131")
        val docs = ld(s, d, "documents")
        val idx = graft.streaming.TextIndexStream
          .indexCorpusInChunks(s, docs, root, chunks = 4)
        require(idx.corpusStats._1 == docs.count(),
          "streamed segment stats must equal the corpus count")
        val out = idx.searchAll(s, q131Terms)
        require(out.limit(1).count() > 0, "gate is vacuous: no hits")
        out.orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score FROM (
          SELECT doc_id, token, count(*) AS tf FROM (
            SELECT doc_id, unnest(${TextOps.wordsDuck}) AS token FROM documents) t
          WHERE token IN (${q131Terms.map(t => s"'$t'").mkString(", ")})
          GROUP BY 1, 2) tf
        GROUP BY doc_id HAVING count(DISTINCT token) = ${q131Terms.size}
        ORDER BY doc_id""")),

    OpQuery("q140_index_delete",
      // DOCUMENT DELETION LIFECYCLE: tombstone a doc set (delete-by-id),
      // search must exclude it IMMEDIATELY (anti-join against the bounded
      // tombstone set); compaction then drops the rows PHYSICALLY from
      // every side, recomputes segment stats for the survivors, and clears
      // the applied tombstones — Lucene's deletes-apply-at-merge, gated:
      // pre- and post-compaction answers equal, the consolidated postings
      // carry NO deleted row, and post-compaction stats equal the
      // surviving doc count. Oracle: brute force over documents MINUS the
      // deleted set.
      (s, d) => {
        val root = Gate.workDir("q140")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val docs = ld(s, d, "documents")
        val idx = create(root, buckets = 32)
        idx.append(docs.filter(col("doc_id") % 2 === 0), batchId = 1L)
        idx.append(docs.filter(col("doc_id") % 2 =!= 0), batchId = 2L)
        idx.delete(docs.filter(col("doc_id") % 7 === 3).select("doc_id"), batchId = 10L)
        def res() = idx.searchAll(s, q131Terms)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
        val before = res()
        require(before.nonEmpty, "gate is vacuous")
        require(idx.compactBatches(s, intoBatchId = 1000L) == 5,
          "2 postings + 2 doclens + 1 dels batch dirs must collapse")
        require(res() == before, "physical delete must equal tombstone view")
        require(s.read.option("basePath", idx.postingsDir)
          .parquet(BatchStore.liveBatchDirs(idx.postingsDir).map(_.toString): _*)
          .filter(col("doc_id") % 7 === 3).limit(1).count() == 0,
          "consolidated postings must carry no deleted row")
        require(idx.corpusStats._1 ==
          docs.filter(col("doc_id") % 7 =!= 3).count(),
          "post-compaction stats must count only survivors")
        idx.searchAll(s, q131Terms).orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score FROM (
          SELECT doc_id, token, count(*) AS tf FROM (
            SELECT doc_id, unnest(${TextOps.wordsDuck}) AS token
            FROM documents WHERE doc_id % 7 <> 3) t
          WHERE token IN (${q131Terms.map(t => s"'$t'").mkString(", ")})
          GROUP BY 1, 2) tf
        GROUP BY doc_id HAVING count(DISTINCT token) = ${q131Terms.size}
        ORDER BY doc_id""")),

    OpQuery("q142_cdc_index_sync",
      // SEARCH INDEX KEPT IN SYNC BY THE CDC FEED: replay a 3-epoch change
      // log into the lake table, build the inverted index from the snapshot
      // after epoch 0, then drive the index from IceLite.changes for epochs
      // 1..2 — each feed epoch tombstones its touched keys (generational:
      // a tombstone masks only EARLIER batches) and re-appends the live
      // versions, so an UPDATE is Lucene's delete-then-add and a DELETE is
      // a bare tombstone. Search over the synced index must equal the
      // oracle's brute-force search over the LWW fold of the decoded log
      // (i.e. over the final table state the feed mirrors); compaction then
      // applies tombstones physically and the answer must not move, and the
      // consolidated postings must hold EXACTLY one 'rev' row per live key
      // (every generated content version carries one trailing 'rev' token),
      // proving no stale version survived and no live one was lost. The
      // scale contract this gates: per-epoch index maintenance cost is
      // O(the epoch's feed), never O(corpus) — the same incremental shape
      // as the MERGE it mirrors.
      (s, _) => {
        val g = Gate(s, "q142")
        g.genLog(4000, epochs = 3)
        g.dumpDecoded(epochs = 3)
        graft.cdc.Replay.replayLog(s, g.log, g.table, buckets = 8)
        def asDocs(df: DataFrame): DataFrame =
          df.select(xxhash64(col("repo"), col("path")).as("doc_id"),
            col("content").as("text"))
        val idx = create(s"${g.root}/idx", buckets = 32)
        // initial build from the snapshot after epoch 0 (v0 is the create)
        idx.append(asDocs(graft.lake.IceLite.read(s,
          graft.lake.IceLite.loadVersion(g.table, 1))), batchId = 1L)
        (2 to 3).foreach { v =>
          val feed = graft.lake.IceLite.changes(s, g.table, v - 1, v)
          idx.delete(feed.select(
            xxhash64(col("repo"), col("path")).as("doc_id")), batchId = 100L * v)
          idx.append(asDocs(feed.filter(
            !coalesce(col(graft.lake.IceLite.DelCol.name), lit(false)))),
            batchId = 100L * v + 1)
        }
        val pruned = idx.prunedPaths(q142Terms).size
        require(pruned < idx.allPaths.size,
          s"no structural pruning: read $pruned of ${idx.allPaths.size}")
        CdcQueries.putMetric("q142", "dirs_read", pruned.toDouble)
        CdcQueries.putMetric("q142", "dirs_live", idx.allPaths.size.toDouble)
        def res() = idx.searchAll(s, q142Terms)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
        val before = res()
        require(before.nonEmpty, "gate is vacuous: no hits")
        require(idx.compactBatches(s, intoBatchId = 10000L) > 0,
          "compaction must collapse the synced batches")
        require(res() == before,
          "post-compaction search must equal the tombstone view")
        val finalState = graft.lake.IceLite.read(s, graft.lake.IceLite.load(g.table))
        val liveKeys = finalState.count()
        val revRows = s.read.option("basePath", idx.postingsDir)
          .parquet(BatchStore.liveBatchDirs(idx.postingsDir).map(_.toString): _*)
          .filter(col("token") === "rev").count()
        require(revRows == liveKeys,
          s"stale or missing postings: $revRows 'rev' rows for $liveKeys live keys")
        idx.searchAll(s, q142Terms)
          .join(finalState.select(
            xxhash64(col("repo"), col("path")).as("doc_id"),
            col("repo"), col("path")), Seq("doc_id"))
          .select("repo", "path", "score")
          .orderBy("repo", "path")
      },
      Some(s"""WITH state AS (
          SELECT repo, path, content FROM (
            SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
            FROM parquet_scan('${Gate.workDir("q142")}/decoded/*.parquet')) t
          WHERE rn = 1 AND op <> 'DELETE'),
        tf AS (
          SELECT repo, path, token, count(*) AS tf FROM (
            SELECT repo, path,
              unnest(regexp_extract_all(lower(content), '[a-z0-9]+')) AS token
            FROM state) u
          WHERE token IN (${q142Terms.map(t => s"'$t'").mkString(", ")})
          GROUP BY 1, 2, 3)
        SELECT repo, path, CAST(sum(tf) AS BIGINT) AS score FROM tf
        GROUP BY 1, 2 HAVING count(DISTINCT token) = ${q142Terms.size}
        ORDER BY repo, path"""))
  )
}
