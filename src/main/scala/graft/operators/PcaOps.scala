package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables.ld

/** PCA for embedding columns — the dimensionality-reduction / whitening
  * step a training-data pipeline runs before clustering, dedup, or index
  * build (e.g. compressing 64-d vectors to their top principal components
  * for a cheaper ANN tier, or inspecting corpus structure).
  *
  * Split exactly like the IVF quantizer (q36): TRAINING is driver-side
  * over a bounded deterministic stride sample (O(sample · d²) flops — at
  * any corpus size the covariance accumulation and the Jacobi eigensolve
  * never touch Spark), and the corpus-wide PROJECTION is one narrow
  * codegen'd pass with the components broadcast — no shuffle, no UDF.
  * The trained model is dumped to parquet so the oracle can re-derive
  * every projection from the artifact (the q36 dumped-centroids pattern):
  * proj(v, c) = Σ_d v_d · comp_cd  −  μ·comp_c, computed as the identical
  * sequential left fold in both engines (the duckCos double rule).
  */
object PcaOps {

  /** Trained model: row-major components (each an eigenvector of the
    * sample covariance), their eigenvalues (descending), the sample mean,
    * and bias(c) = μ·comp_c (the centering constant the projection
    * subtracts — precomputed so the serving pass never needs μ). */
  final case class Model(mu: Array[Double], comps: Array[Array[Double]],
      eigvals: Array[Double], bias: Array[Double])

  /** Deterministic PCA train: stride-sample ≤ sampleCap vectors (sorted by
    * vec_id — layout-independent), exact mean + covariance in fixed order,
    * cyclic Jacobi eigensolve (deterministic rotation order), top
    * `nComp` eigenvectors sign-fixed so each component's
    * largest-|coordinate| entry is positive. */
  def trainPca(s: SparkSession, e: DataFrame, nComp: Int,
      sampleCap: Int = 2048): Model = {
    import s.implicits._
    val typed = e.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
    val n = typed.count()
    val stride = math.max(1L, n / sampleCap)
    val sample = typed.filter(t => t._1 % stride == 0).collect().sortBy(_._1)
      .map { case (_, emb) => emb.iterator.map(_.toDouble).toArray }
    require(sample.nonEmpty, "empty corpus")
    val d = sample.head.length
    require(nComp >= 1 && nComp <= d, s"nComp must be in [1, $d]")
    val m = sample.length
    val mu = new Array[Double](d)
    sample.foreach { v => var i = 0; while (i < d) { mu(i) += v(i); i += 1 } }
    locally { var i = 0; while (i < d) { mu(i) /= m; i += 1 } }
    // covariance (population normalization — the eigenvector set is
    // identical either way; fixed accumulation order over the sorted sample)
    val c = Array.fill(d)(new Array[Double](d))
    sample.foreach { v =>
      var i = 0
      while (i < d) {
        val di = v(i) - mu(i)
        var j = i
        while (j < d) { c(i)(j) += di * (v(j) - mu(j)); j += 1 }
        i += 1
      }
    }
    locally { var i = 0
      while (i < d) {
        var j = i
        while (j < d) { c(i)(j) /= m; c(j)(i) = c(i)(j); j += 1 }
        i += 1
      } }
    val (vals, vecs) = jacobiEigen(c)
    // order eigenpairs by eigenvalue descending, ties by index — stable
    val order = vals.indices.sortBy(i => (-vals(i), i)).take(nComp)
    val comps = order.map { oi =>
      val v = Array.tabulate(d)(r => vecs(r)(oi))
      // sign convention: largest-|entry| coordinate positive (first on tie)
      var best = 0
      var i = 1
      while (i < d) { if (math.abs(v(i)) > math.abs(v(best))) best = i; i += 1 }
      if (v(best) < 0) { var j = 0; while (j < d) { v(j) = -v(j); j += 1 } }
      v
    }.toArray
    val eigvals = order.map(vals).toArray
    val bias = comps.map { v =>
      var acc = 0.0; var i = 0
      while (i < d) { acc += mu(i) * v(i); i += 1 }
      acc
    }
    val model = Model(mu, comps, eigvals, bias)
    validate(c, model)
    model
  }

  /** Hard invariants of a well-formed eigensolve — orthonormal components,
    * descending non-negative eigenvalues, small eigen-residual. Called at
    * train time so a drifted solver fails loudly, never silently skews
    * every downstream projection. */
  private def validate(cov: Array[Array[Double]], mm: Model): Unit = {
    val d = mm.mu.length
    for (a <- mm.comps.indices; b <- a until mm.comps.length) {
      var dot = 0.0; var i = 0
      while (i < d) { dot += mm.comps(a)(i) * mm.comps(b)(i); i += 1 }
      val want = if (a == b) 1.0 else 0.0
      require(math.abs(dot - want) < 1e-9,
        s"components not orthonormal: <v$a, v$b> = $dot")
    }
    for (a <- 1 until mm.eigvals.length)
      require(mm.eigvals(a - 1) >= mm.eigvals(a) - 1e-12,
        s"eigenvalues not descending: ${mm.eigvals.mkString(",")}")
    for (a <- mm.comps.indices) {
      var worst = 0.0
      var r = 0
      while (r < d) {
        var acc = 0.0; var i = 0
        while (i < d) { acc += cov(r)(i) * mm.comps(a)(i); i += 1 }
        worst = math.max(worst, math.abs(acc - mm.eigvals(a) * mm.comps(a)(r)))
        r += 1
      }
      require(worst < 1e-8 * math.max(1.0, math.abs(mm.eigvals(a))),
        s"eigen residual $worst for component $a (λ = ${mm.eigvals(a)})")
    }
  }

  /** Cyclic Jacobi eigensolve for a symmetric matrix: sweep the strict
    * upper triangle in row-major order, rotating away each off-diagonal
    * element; deterministic (fixed rotation order, fixed sweep count
    * with an early-out on convergence). Returns (eigenvalues, column
    * eigenvectors). */
  private[operators] def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offNorm(a)
    while (sweep < 64 && off > 1e-14) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val cth = 1.0 / math.sqrt(t * t + 1.0)
            val sth = t * cth
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = cth * aip - sth * aiq
              a(i)(q) = sth * aip + cth * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = cth * api - sth * aqi
              a(q)(i) = sth * api + cth * aqi
              i += 1
            }
            i = 0
            while (i < d) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = cth * vip - sth * viq
              v(i)(q) = sth * vip + cth * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offNorm(a)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  private def offNorm(a: Array[Array[Double]]): Double = {
    var s = 0.0
    for (i <- a.indices; j <- a.indices if i != j) s = math.max(s, math.abs(a(i)(j)))
    s
  }

  /** Dump the model as the oracle-readable artifact: one row per component
    * (c, cv: array<double>, bias, eigval). */
  def dumpModel(s: SparkSession, m: Model, path: String): Unit = {
    import s.implicits._
    m.comps.indices.map(i => (i.toLong, m.comps(i).toSeq, m.bias(i), m.eigvals(i)))
      .toDF("c", "cv", "bias", "eigval")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Corpus-wide projection: components broadcast (a tiny frame), one
    * narrow pass, the dot product as the SEQUENTIAL left fold both
    * engines replay identically. Output one row per (vec_id, c). */
  def project(s: SparkSession, e: DataFrame, modelDf: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding").as("va"))
      .crossJoin(broadcast(modelDf.select(col("c"), col("cv").as("vb"), col("bias"))))
      .select(col("vec_id"), col("c"),
        (expr("aggregate(zip_with(va, vb, (x, y) -> CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
          - col("bias")).as("proj"))

  val queries: Seq[OpQuery] = Seq(

    OpQuery("q201_pca_project",
      // PCA under the hard gate: train top-4 components driver-side over
      // the stride sample (orthonormality, eigenvalue ordering and the
      // eigen residual are hard-asserted at train time), dump the model,
      // project the WHOLE corpus through the broadcast components. The
      // oracle re-derives every projection in SQL from the dumped
      // artifact via the identical sequential fold — a drifted component,
      // a lost sign convention, a wrong bias, or a reassociated sum all
      // hash-diverge.
      (s, d) => {
        val root = Gate.workDir("q201")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val e = ld(s, d, "embeddings")
        val m = trainPca(s, e, nComp = 4)
        // the top component must actually dominate: explained variance is
        // meaningful, not a degenerate flat spectrum
        require(m.eigvals.head > 0, s"degenerate spectrum: ${m.eigvals.mkString(",")}")
        dumpModel(s, m, s"$root/comps")
        project(s, e, s.read.parquet(s"$root/comps"))
          .orderBy("vec_id", "c")
      },
      Some(s"""SELECT e.vec_id, m.c,
          list_reduce(list_transform(list_zip(e.embedding, m.cv),
            p -> CAST(p[1] AS DOUBLE) * p[2]), (a, b) -> a + b) - m.bias AS proj
        FROM embeddings e
        CROSS JOIN parquet_scan('${Gate.workDir("q201")}/comps/*.parquet') m
        ORDER BY e.vec_id, m.c"""))
  ,

    OpQuery("q204_ann_pca_topk",
      // PCA-PREFILTER ANN — the dimensionality-reduction tier of the ANN
      // family (q26/q27/q36/q161/q174/q175): shortlist by L2 distance in
      // the top-16 principal subspace (16 doubles/vector instead of 64 —
      // the prefilter scan reads 4× less), exact cosine re-rank of the
      // 10% shortlist (the q27 shape). The DUMPED model carries the
      // eigenvalues, so the tier is self-diagnosing: this corpus's
      // spectrum is nearly FLAT (top-16 ≈ 0.38 of variance), which caps
      // the prefilter's recall ≈ 0.56 — measured in Bench ann_recall
      // beside the quantization tiers that don't depend on spectrum
      // decay. On a real embedding corpus (decaying spectrum) the same
      // operator improves with no code change; the eigenvalue dump is
      // the number that tells an operator which regime they are in.
      // The oracle re-derives projection, pivot, every dist2, both rank
      // stages and the exact cosine from the dumped components — all
      // fixed-order double arithmetic shared with DuckDB.
      (s, d) => {
        val clock = new CdcQueries.PhaseClock("q204")
        val root = Gate.workDir("q204")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val e = ld(s, d, "embeddings")
        val m = 16
        val model = clock("train") { trainPca(s, e, nComp = m) }
        dumpModel(s, model, s"$root/comps")
        val modelDf = s.read.parquet(s"$root/comps")
        clock("probe") {
          // shortlist = a 10% CORPUS FRACTION (min 50), not a fixed count —
          // a fixed shortlist silently shrinks as a fraction when the
          // corpus grows and recall dilutes with scale (the q161 lesson);
          // the oracle derives the same bound from count(*)
          val shortN = math.max(50L, e.count() / 10L)
          val pw = projWide(s, e, modelDf, m)
          val qw = pw.filter(col("vec_id") < 5)
            .select(col("vec_id").as("qid") +:
              (0 until m).map(c => col(s"p$c").as(s"q$c")): _*)
          val dist2 = (0 until m)
            .map(c => (col(s"q$c") - col(s"p$c")) * (col(s"q$c") - col(s"p$c")))
            .reduce(_ + _)
          val w1 = org.apache.spark.sql.expressions.Window
            .partitionBy("qid").orderBy(col("dist2"), col("cand"))
          val short = broadcast(qw).join(pw.withColumnRenamed("vec_id", "cand"),
              col("qid") =!= col("cand"))
            .withColumn("dist2", dist2)
            .withColumn("r1", row_number().over(w1))
            .filter(col("r1") <= shortN)
            .select("qid", "cand")
          val w2 = org.apache.spark.sql.expressions.Window
            .partitionBy("qid").orderBy(col("cos").desc, col("cand"))
          short
            .join(broadcast(e.select(col("vec_id").as("qid"), col("embedding").as("va"))), Seq("qid"))
            .join(e.select(col("vec_id").as("cand"), col("embedding").as("vb")), Seq("cand"))
            .withColumn("cos", expr(SimilarityOps.sparkCos))
            .withColumn("rank", row_number().over(w2))
            .filter(col("rank") <= 10)
            .select("qid", "rank", "cand", "cos")
            .orderBy("qid", "rank")
            .localCheckpoint()
        }
      },
      Some(pcaAnnOracleSql("q204", m = 16)))
  )

  /** Wide projections (vec_id, p0..p{m-1}) — the long form pivoted; one
    * value per (vec_id, c), so max(when) is exact. */
  def projWide(s: SparkSession, e: DataFrame, modelDf: DataFrame, m: Int): DataFrame = {
    val aggs = (0 until m).map(c =>
      max(when(col("c") === c, col("proj"))).as(s"p$c"))
    project(s, e, modelDf).groupBy("vec_id").agg(aggs.head, aggs.tail: _*)
  }

  private def pcaAnnOracleSql(tag: String, m: Int): String = {
    val pivots = (0 until m)
      .map(c => s"MAX(CASE WHEN c = $c THEN proj END) AS p$c").mkString(", ")
    val dist2 = (0 until m)
      .map(c => s"(q.p$c - p.p$c) * (q.p$c - p.p$c)").mkString(" + ")
    s"""WITH mm AS (SELECT c, cv, bias FROM parquet_scan('${Gate.workDir(tag)}/comps/*.parquet')),
      pl AS (SELECT e.vec_id, mm.c,
          list_reduce(list_transform(list_zip(e.embedding, mm.cv),
            p -> CAST(p[1] AS DOUBLE) * p[2]), (a, b) -> a + b) - mm.bias AS proj
        FROM embeddings e CROSS JOIN mm),
      pw AS (SELECT vec_id, $pivots FROM pl GROUP BY vec_id),
      pairs AS (SELECT q.vec_id AS qid, p.vec_id AS cand, $dist2 AS dist2
        FROM pw q JOIN pw p ON q.vec_id < 5 AND q.vec_id <> p.vec_id),
      short AS (SELECT qid, cand FROM (
          SELECT qid, cand,
            row_number() OVER (PARTITION BY qid ORDER BY dist2, cand) AS r1
          FROM pairs) t
        WHERE r1 <= GREATEST(50, (SELECT count(*) // 10 FROM embeddings))),
      rr AS (SELECT qid, cand, ${SimilarityOps.duckCos} AS cos
        FROM short
        JOIN (SELECT vec_id, embedding AS va FROM embeddings) qq ON qq.vec_id = qid
        JOIN (SELECT vec_id, embedding AS vb FROM embeddings) cc ON cc.vec_id = cand)
      SELECT qid, rank, cand, cos FROM (
        SELECT qid, cand, cos,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS rank
        FROM rr) t
      WHERE rank <= 10 ORDER BY qid, rank"""
  }
}
