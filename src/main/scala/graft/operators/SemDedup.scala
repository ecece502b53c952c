package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables.ld

/** SEMANTIC DEDUPLICATION (SemDeDup, Abbas et al., arXiv:2303.09540 —
  * public method): cluster the embedding corpus with a trained k-means
  * quantizer, then compare pairs ONLY WITHIN a cluster — a vector is a
  * semantic duplicate iff some lower-id member of its own cell sits at
  * cosine ≥ τ. The keep-lowest-id rule makes the survivor set a pure
  * function of the corpus (no iteration order, no randomness), so a DuckDB
  * oracle can re-derive every verdict from the dumped centroids.
  *
  * Why this shape at 100 TB: all-pairs cosine over N vectors is O(N²) and
  * unshardable; SemDeDup's observation is that semantic duplicates share a
  * cluster under any reasonable coarse quantizer, so clustering first cuts
  * the candidate space to Σ|cell|² — with K cells of even size that is
  * N²/K comparisons, and each cell's pairing is an INDEPENDENT task that
  * fits one executor (the paper sizes cells to fit a GPU; we size them by
  * `cellCap`). The quantizer is the SAME trained k-means the IVF ANN index
  * uses (one maintenance asset serves both retrieval and dedup), the
  * assignment pass is one typed map over the scan, and the pairing stage
  * shuffles each vector exactly once (repartition by cell). Recall caveat,
  * stated honestly: pairs that straddle a cell boundary are missed —
  * that is SemDeDup's documented tradeoff, tunable via K (coarser cells =
  * fewer splits, bigger tasks).
  *
  * Exactness: the within-cell cosine is the SAME sequential double fold as
  * every other similarity gate (element order 0..63, dot and norms
  * accumulated separately, one final divide), so the emitted `dup_cos` is
  * bit-identical to the oracle's `list_reduce` fold; the cell assignment
  * re-derives in SQL from the dumped centroids exactly as q36's oracle
  * does. A drifted centroid dump, a wrong argmax tie-break, or a pairing
  * loop that compares across cells all hash-diverge. */
object SemDedup {

  /** Cosine threshold for "semantically duplicate" — matched to the q20
    * near-dup regime this corpus exhibits (natural pairs at cos 0.35–0.55). */
  val Tau = 0.35

  /** Upper bound on one cell's membership for the in-memory pairing task;
    * a cell above the cap means the quantizer is too coarse for the corpus
    * — re-train with more cells (the error message says so). */
  val CellCap = 65536

  /** The same sequential double fold as SimilarityOps.sparkCosSql /
    * duckCosSql: dot and the two norms each accumulate left-to-right over
    * elements 0..n-1 in doubles, then one divide — bit-identical across
    * Spark, this loop, and DuckDB's list_reduce. */
  private def cosFold(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Per-vector semantic-dedup verdicts over a built cell-partitioned
    * index: (vec_id, cell, dup_of, dup_cos) where dup_of is the SMALLEST
    * same-cell vec_id at cosine ≥ τ (NULL ⇒ this vector survives dedup).
    * One shuffle (groupByKey on cell), each cell paired in one tight
    * in-memory loop — the SemDeDup execution shape. */
  def verdicts(s: SparkSession, idx: SimilarityOps.IvfIndex,
      tau: Double = Tau): DataFrame = {
    import s.implicits._
    val rows = idx.data(s)
      .select(col("cell").cast("long"), col("cand"), col("vb"))
      .as[(Long, Long, Seq[Float])]
    rows.groupByKey(_._1).flatMapGroups { (cell, it) =>
      val members = it.map { case (_, id, emb) => (id, emb.toArray) }
        .toArray.sortBy(_._1)
      require(members.length <= CellCap,
        s"cell $cell has ${members.length} members (> $CellCap): " +
          "quantizer too coarse for this corpus — re-train with more cells")
      members.iterator.zipWithIndex.map { case ((id, emb), j) =>
        // members are id-sorted, so the first qualifying i < j IS the
        // smallest dup_of — the scan can stop at the first hit
        var dupOf = -1L; var dupCos = 0.0
        var i = 0
        while (i < j && dupOf < 0) {
          val c = cosFold(members(i)._2, emb)
          if (c >= tau) { dupOf = members(i)._1; dupCos = c }
          i += 1
        }
        (id, cell,
          if (dupOf < 0) None else Some(dupOf),
          if (dupOf < 0) None else Some(dupCos))
      }
    }.toDF("vec_id", "cell", "dup_of", "dup_cos")
  }

  /** Incremental verdicts for ONE ingest batch — the steady-state shape:
    * a daily crawl wave is appended to the index ([[SimilarityOps.IvfIndex
    * .appendBatch]], fixed trained centroids, no retrain) and ONLY the new
    * vectors are judged, against all same-cell members with lower ids
    * (earlier batches included). The read is structurally pruned to the
    * cells the batch touches: touched cells are listed from the batch's
    * own `cell=K` directories (driver-side, no data read), and the member
    * scan goes through [[SimilarityOps.IvfIndex.prunedPaths]] — per-wave
    * cost is O(touched cells' members), never O(corpus). With id-monotone
    * ingest (new vectors get higher ids than every earlier batch, the
    * natural CDC order) the incremental verdicts EQUAL the batch recompute
    * restricted to the new ids — pinned by SemDedupSpec and the q192
    * oracle. Tombstoned vectors are out of scope here (dedup runs at
    * ingest, before deletes): mask first via compactBatches if needed. */
  def verdictsForBatch(s: SparkSession, idx: SimilarityOps.IvfIndex,
      batchId: Long, tau: Double = Tau): DataFrame = {
    import s.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val batchDir = Paths.get(s"${idx.dataDir}/batch=$batchId")
    require(Files.isDirectory(batchDir), s"no such batch: $batchId")
    val touched: Set[Long] = Files.list(batchDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("cell="))
      .map(_.stripPrefix("cell=").toLong).toSet
    val rows = s.read.option("basePath", idx.dataDir)
      .parquet(idx.prunedPaths(touched): _*)
      .select(col("cell").cast("long"), col("cand"), col("vb"),
        (col("batch").cast("long") === batchId).as("is_new"))
      .as[(Long, Long, Seq[Float], Boolean)]
    rows.groupByKey(_._1).flatMapGroups { (cell, it) =>
      val members = it.map { case (_, id, emb, isNew) => (id, emb.toArray, isNew) }
        .toArray.sortBy(_._1)
      require(members.length <= CellCap,
        s"cell $cell has ${members.length} members (> $CellCap): " +
          "quantizer too coarse for this corpus — re-train with more cells")
      members.iterator.zipWithIndex.collect { case ((id, emb, true), j) =>
        var dupOf = -1L; var dupCos = 0.0
        var i = 0
        while (i < j && dupOf < 0) {
          val c = cosFold(members(i)._2, emb)
          if (c >= tau) { dupOf = members(i)._1; dupCos = c }
          i += 1
        }
        (id, cell,
          if (dupOf < 0) None else Some(dupOf),
          if (dupOf < 0) None else Some(dupCos))
      }
    }.toDF("vec_id", "cell", "dup_of", "dup_cos")
  }

  /** Oracle: re-derive cell assignment from the dumped centroids (the q36
    * pattern), pair within cells with the shared cosine fold, arg-min the
    * qualifying lower ids. `newFilter` restricts the JUDGED side (the
    * incremental gate judges only the appended wave; lower-id candidates
    * stay unrestricted). */
  private def semdedupOracleSql(tag: String, newFilter: String = "TRUE"): String = {
    val duckCos = SimilarityOps.duckCosSql
    s"""WITH cents AS (
          SELECT cid, cv FROM parquet_scan('${Gate.workDir(tag)}/cents/*.parquet')),
        asg AS (
          SELECT vec_id, embedding, cid,
            row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
          FROM (SELECT e.vec_id, e.embedding, c.cid, $duckCos AS ccos
            FROM (SELECT vec_id, embedding, embedding AS va FROM embeddings) e
            CROSS JOIN (SELECT cid, cv, cv AS vb FROM cents) c) t),
        cells AS (SELECT vec_id, embedding, cid AS cell FROM asg WHERE rn = 1),
        pairs AS (
          SELECT r.vec_id AS vid, l.vec_id AS dup_of, $duckCos AS dup_cos
          FROM (SELECT vec_id, cell, embedding AS va FROM cells) l
          JOIN (SELECT vec_id, cell, embedding AS vb FROM cells) r
            ON l.cell = r.cell AND l.vec_id < r.vec_id),
        dups AS (SELECT vid, dup_of, dup_cos FROM (
            SELECT vid, dup_of, dup_cos,
              row_number() OVER (PARTITION BY vid ORDER BY dup_of) AS rn
            FROM pairs WHERE dup_cos >= $Tau) t WHERE rn = 1)
        SELECT c.vec_id, c.cell, d.dup_of, d.dup_cos
        FROM cells c LEFT JOIN dups d ON c.vec_id = d.vid
        WHERE ($newFilter)
        ORDER BY c.vec_id"""
  }

  val queries: Seq[OpQuery] = Seq(
    OpQuery("q188_semantic_dedup",
      // SemDeDup under the hard gate: train a 16-cell quantizer (coarse on
      // purpose — dedup wants few boundary splits, unlike ANN's 128 serving
      // cells), build the cell-partitioned index, pair within cells. The
      // oracle re-derives assignment AND every pairwise verdict from the
      // dumped centroids. Train/build/dedup are phase-attributed; train +
      // build amortize across every downstream consumer of the index.
      (s, d) => {
        val clock = new CdcQueries.PhaseClock("q188")
        val root = Gate.workDir("q188")
        val e = ld(s, d, "embeddings")
        val cents = clock("train") {
          SimilarityOps.trainCentroids(s, e, k = 16, iters = 5)
        }
        val idx = clock("build") {
          SimilarityOps.buildIvfIndexWith(s, e, root, cents)
        }
        val out = clock("dedup") { verdicts(s, idx).localCheckpoint() }
        require(out.filter(col("dup_of").isNotNull).limit(1).count() > 0,
          "gate is vacuous unless the corpus holds same-cell semantic dups")
        out.orderBy("vec_id")
      },
      Some(semdedupOracleSql("q188"))),

    OpQuery("q192_semantic_dedup_incremental",
      // INCREMENTAL SemDeDup under the hard gate — the ingest-time shape:
      // the quantizer trains on the FIRST wave only (ids < 300), the
      // second wave appends to the same index (fixed centroids, no
      // retrain, the q55 contract) and ONLY the new wave is judged,
      // through the cell-pruned member read. Waves split by id, so the
      // incremental verdicts must equal the full batch recompute
      // restricted to the new ids — which is exactly what the oracle
      // derives from the dumped wave-1 centroids over the FULL corpus.
      (s, d) => {
        val clock = new CdcQueries.PhaseClock("q192")
        val root = Gate.workDir("q192")
        val e = ld(s, d, "embeddings")
        val wave1 = e.filter(col("vec_id") < 300)
        val wave2 = e.filter(col("vec_id") >= 300)
        val cents = clock("train") {
          SimilarityOps.trainCentroids(s, wave1, k = 16, iters = 5)
        }
        val idx = clock("build") {
          SimilarityOps.buildIvfIndexWith(s, wave1, root, cents)
        }
        clock("append") { idx.appendBatch(s, wave2, batchId = 1L) }
        val out = clock("dedup_new_wave") {
          verdictsForBatch(s, idx, batchId = 1L).localCheckpoint()
        }
        require(out.filter(col("dup_of").isNotNull).limit(1).count() > 0,
          "gate is vacuous unless the new wave holds same-cell dups")
        out.orderBy("vec_id")
      },
      Some(semdedupOracleSql("q192", newFilter = "c.vec_id >= 300"))))
}
