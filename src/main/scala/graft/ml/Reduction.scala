package graft.ml

import org.apache.spark.ml.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** M11/M12 with a real reducer (`utils.py:132-167` fit_transform_dask,
  * `tuners.py:149-252` tune_reduction_dask): PCA as the JVM twin of
  * the reference's sklearn reductions (SURVEY §2.11 — PCA is the one
  * with a first-class MLlib twin; Isomap/UMAP/LLE stay caller-supplied,
  * mirroring the reference's "any sklearn object").
  *
  * Fit runs on a bounded deterministic head sample (the reference fits
  * on `num_fit_rows`): one covariance aggregate, then a local
  * eigendecomposition of the d×d matrix. The transform is a plain
  * linear projection Column — the manual `num_splits` chunking
  * evaporates into Spark partitioning.
  */
object Reduction {

  /** A fitted PCA: `pc` is the d×k loading matrix (column i is
    * component i), `explainedVariance` the k leading eigenvalues over
    * the sum of ALL d eigenvalues — the same two fields, with the same
    * meaning, as MLlib's `PCAModel`. */
  case class PcaFit(pc: DenseMatrix, explainedVariance: DenseVector)

  /** Fit PCA(k) on the first `nFit` rows (ordered by `orderCol`), then
    * transform the WHOLE frame; appends `pc_0..pc_{k-1}`.
    *
    * The fit is ONE `var_samp`/`covar_samp` aggregate over the head
    * (the stable one-pass co-moment forms, not raw Gram sums) and a
    * commons-math3 `EigenDecomposition` of the d×d sample covariance,
    * eigenvalues descending. It replaces MLlib `PCA`, whose
    * VectorAssembler/RDD fit and breeze SVD cost several jobs and ~2 s
    * of cold start for an 8×8 matrix; `ReductionSpec` pins the result
    * against MLlib `PCA` (explained variance and loadings within 1e-9,
    * loadings up to sign). Each component's sign is fixed so its
    * largest-|loading| entry (first on ties) is positive. Like
    * `PCAModel.transform`, the projection `pc_i = Σ_j w_ji·x_j` does
    * not center.
    *
    * Invalid input stays loud, as with the VectorAssembler (handleInvalid
    * `error`) the MLlib fit used: a null or NaN feature in the head
    * sample fails the fit with an `IllegalArgumentException` naming the
    * column, and a null or NaN feature in any transformed row fails the
    * action that reads a `pc_i`. A constant (zero-variance) feature is
    * valid: it yields a zero eigenvalue, sorted last. */
  def pcaFitTransformOnHead(df: DataFrame, featCols: Seq[String], k: Int,
                            nFit: Int, orderCol: String): (DataFrame, PcaFit) = {
    val d = featCols.length
    require(k >= 1 && k <= d, s"PCA k=$k must be in [1, $d]")
    val x = featCols.map(c => col(c).cast("double"))
    val pairs = for (i <- 0 until d; j <- i until d) yield (i, j)
    val invalid = x.map(c => sum(when(c.isNull || isnan(c), 1L).otherwise(0L)))
    val stats = df.orderBy(col(orderCol)).limit(nFit).agg(
      count(lit(1)), (invalid ++ pairs.map { case (i, j) =>
        if (i == j) var_samp(x(i)) else covar_samp(x(i), x(j)) }): _*).head()
    featCols.indices.find(i => stats.getLong(1 + i) > 0).foreach { i =>
      throw new IllegalArgumentException(
        s"PCA fit sample has a null or NaN value in feature ${featCols(i)}")
    }
    require(stats.getLong(0) >= 2, s"PCA fit needs at least 2 rows, got ${stats.getLong(0)}")
    val cov = Array.ofDim[Double](d, d)
    pairs.zipWithIndex.foreach { case ((i, j), p) =>
      val v = stats.getDouble(1 + d + p)
      cov(i)(j) = v; cov(j)(i) = v
    }
    val eig = new org.apache.commons.math3.linear.EigenDecomposition(
      new org.apache.commons.math3.linear.Array2DRowRealMatrix(cov, false))
    // a covariance is PSD: a negative eigenvalue is rounding noise
    val lambda = eig.getRealEigenvalues.map(math.max(_, 0.0))
    val order = lambda.indices.sortBy(i => -lambda(i)).take(k)
    val total = lambda.sum
    val loadings = order.map { i =>
      val v = eig.getEigenvector(i).toArray
      val top = v.indices.maxBy(r => math.abs(v(r)))
      if (v(top) < 0) v.map(-_) else v
    }
    val fit = PcaFit(
      new DenseMatrix(d, k, loadings.flatten.toArray),
      new DenseVector(order.map(i => if (total > 0) lambda(i) / total else 0.0).toArray))
    val bad = x.map(c => c.isNull || isnan(c)).reduce(_ || _)
    val out = loadings.zipWithIndex.foldLeft(df) { case (acc, (w, i)) =>
      val proj = w.indices.map(j => x(j) * lit(w(j))).reduce(_ + _)
      acc.withColumn(s"pc_$i", when(bad,
        raise_error(lit("PCA transform: a feature is null or NaN"))).otherwise(proj))
    }
    (out, fit)
  }

  /** F8 — thin SVD of the deterministic head sample
    * (`Numerai_example_notebook.ipynb#cell-14,92`: `np.linalg.svd` on
    * a row sample, EDA-only in the reference). Spark-first shape: the
    * sample stays an RDD-backed RowMatrix and the decomposition runs
    * off its k×k Gramian (one distributed pass to form AᵀA, local
    * eigendecomposition of the tiny matrix) — the same bounded-sample
    * contract as [[pcaFitTransformOnHead]]. Returns the decomposition
    * (singular values + right singular vectors) and the sample row
    * count. */
  def svdOnHead(df: DataFrame, featCols: Seq[String], nFit: Int,
                orderCol: String):
      (org.apache.spark.mllib.linalg.SingularValueDecomposition[
         org.apache.spark.mllib.linalg.distributed.RowMatrix,
         org.apache.spark.mllib.linalg.Matrix], Long) = {
    val rows = df.orderBy(col(orderCol)).limit(nFit)
      .select(featCols.map(c => col(c).cast("double")): _*)
      .rdd.map(r => org.apache.spark.mllib.linalg.Vectors.dense(
        Array.tabulate(featCols.length)(i => r.getDouble(i))))
    val rm = new org.apache.spark.mllib.linalg.distributed.RowMatrix(rows)
    // rCond = 0: keep the full spectrum so Σσ² = ‖A‖²_F holds exactly
    // (the default 1e-9 relative cutoff could drop a near-null
    // direction and silently break the Frobenius identity)
    (rm.computeSVD(featCols.length, computeU = false, rCond = 0.0), rm.numRows())
  }

  /** M12 tune_reduction: scan component counts, score each reduced
    * representation with era-fold CV of the supplied fitter, return the
    * leaderboard best-first (`tuners.py:149-252`'s loop with Spark jobs
    * per candidate instead of scattered tasks).
    *
    * PCA components are NESTED (the first k eigenvectors of the
    * covariance do not depend on how many more are computed), so the
    * scan fits ONCE at max(ks) and each candidate k just reads the
    * first k projection columns — one fit and one data pass instead of
    * |ks| of each, the difference between a scan and |ks| scans at
    * 100 TB. The projected frame is persisted across the fold loops
    * and released on exit. */
  def tuneReduction(df: DataFrame, featCols: Seq[String], eraCol: String,
                    ks: Seq[Int], nFit: Int, orderCol: String, folds: Int,
                    fitterFor: Seq[String] => DataFrame => (DataFrame => DataFrame),
                    score: DataFrame => DataFrame,
                    metric: String = "spearman"): Seq[(Int, Double)] = {
    if (ks.isEmpty) return Seq.empty
    val (reduced, _) = pcaFitTransformOnHead(df, featCols, ks.max, nFit, orderCol)
    tuneOverKs(reduced, k => (0 until k).map(i => s"pc_$i"), ks, eraCol,
      folds, fitterFor, score, metric)
  }

  /** [[tuneOverKs]] for NESTED candidates scored by a fitter whose
    * per-feature statistics are SUBSET-INDEPENDENT (the additive
    * univariate-OLS family: each feature's beta/mean never depends on
    * which other features are in the model). Fits ONCE per fold over
    * `colsFor(max k)` and derives every candidate k's predictor from
    * that one fitted row, and folds every (k, fold) score into ONE
    * leaderboard action — the per-candidate form paid |ks| × folds
    * fit collects plus one collect per candidate (q_reduction_tune:
    * 42 Spark jobs for a sub-second query, mostly driver latency).
    * Values are identical by construction: each aggregate expression
    * accumulates independently of its siblings, the predictor folds
    * the same prefix literals in the same order, and the per-k mean
    * is over the same `folds` doubles (addition is commutative, and
    * the leaderboard sort is stable on the ks order, exactly like the
    * sequential loop). */
  def tuneOverKsSharedFit(reduced: DataFrame, colsFor: Int => Seq[String],
                          ks: Seq[Int], eraCol: String, folds: Int,
                          fitAllFor: Seq[String] => DataFrame => (Seq[String] => DataFrame => DataFrame),
                          score: DataFrame => DataFrame,
                          metric: String = "spearman"): Seq[(Int, Double)] = {
    if (ks.isEmpty) return Seq.empty
    val foldRel = graft.operators.Folds.foldAssignment(
      reduced.select(col(eraCol)).distinct(), eraCol, folds)
    val cached = reduced.join(broadcast(foldRel), eraCol).persist()
    try {
      val fitAll = fitAllFor(colsFor(ks.max))
      // one fit per fold (each collects its model row at the driver
      // edge); the fold fits are independent, so they overlap on a
      // pool exactly like kfoldScores' fold threads
      val pool = graft.Pools.newPool(folds)
      val predictors =
        try {
          val futs = (0 until folds).map { f =>
            pool.submit(new java.util.concurrent.Callable[Seq[String] => DataFrame => DataFrame] {
              def call(): Seq[String] => DataFrame => DataFrame =
                fitAll(cached.filter(col("fold") =!= f).drop("fold"))
            })
          }
          futs.map(f =>
            try f.get()
            catch { case e: java.util.concurrent.ExecutionException => throw e.getCause })
        } finally pool.shutdown()
      // candidates still score CONCURRENTLY (one action per k over the
      // shared persisted frame — a single all-k union action was
      // measured ~0.5 s slower at fixture scale than the overlapped
      // per-k actions, despite fewer jobs); the win kept here is the
      // 6 fit collects folded into `folds`
      val kPool = graft.Pools.newPool(ks.length)
      val scored =
        try {
          val futs = ks.map { k =>
            kPool.submit(new java.util.concurrent.Callable[(Int, Double)] {
              def call(): (Int, Double) = {
                val perFold = (0 until folds).map { f =>
                  val test = cached.filter(col("fold") === f).drop("fold")
                  score(predictors(f)(colsFor(k))(test))
                }.reduce(_ unionByName _)
                k -> perFold.agg(avg(col(metric))).head().getDouble(0)
              }
            })
          }
          futs.map(f =>
            try f.get()
            catch { case e: java.util.concurrent.ExecutionException => throw e.getCause })
        } finally kPool.shutdown()
      scored.sortBy(-_._2)
    } finally cached.unpersist()
  }

  /** The candidate-scan/CV/leaderboard loop of [[tuneReduction]],
    * decoupled from the PCA step: score `colsFor(k)` for each k by
    * era-fold CV of the supplied fitter, return the leaderboard
    * best-first. With an identity "reducer" (`colsFor = featCols.take`)
    * every stage is ANSI-recomputable, which is what lets
    * `q_reduction_tune_ols` put this exact loop under the DuckDB
    * oracle while `q_reduction_tune` runs it on the PCA projection
    * (the seeded-ANN-twin pattern). The frame is persisted across the
    * fold loops and released on exit. */
  def tuneOverKs(reduced: DataFrame, colsFor: Int => Seq[String],
                 ks: Seq[Int], eraCol: String, folds: Int,
                 fitterFor: Seq[String] => DataFrame => (DataFrame => DataFrame),
                 score: DataFrame => DataFrame,
                 metric: String = "spearman"): Seq[(Int, Double)] = {
    if (ks.isEmpty) return Seq.empty
    // the fold split is k-independent, so join it ONCE and share the
    // persisted fold-carrying frame across every candidate — the
    // per-candidate kfoldScores form re-derived the fold-assignment
    // aggregate and re-persisted an identical join plan per candidate
    // (one redundant pass per k, plus a CacheManager warn per extra)
    val foldRel = graft.operators.Folds.foldAssignment(
      reduced.select(col(eraCol)).distinct(), eraCol, folds)
    val cached = reduced.join(broadcast(foldRel), eraCol).persist()
    try {
      // candidates score CONCURRENTLY over the shared persisted frame
      // (each spawns its own per-fold fit threads inside kfoldScores);
      // futures join in ks order, so the leaderboard is identical to
      // the sequential scan
      val pool = graft.Pools.newPool(ks.length)
      val scored =
        try {
          val futs = ks.map { k =>
            pool.submit(new java.util.concurrent.Callable[(Int, Double)] {
              def call(): (Int, Double) = {
                val perFold = CrossVal.kfoldScoresPrejoined(cached, folds,
                  fitterFor(colsFor(k)), score)
                k -> perFold.agg(avg(col(metric))).head().getDouble(0)
              }
            })
          }
          futs.map(f =>
            try f.get()
            catch { case e: java.util.concurrent.ExecutionException => throw e.getCause })
        } finally pool.shutdown()
      scored.sortBy(-_._2)
    } finally cached.unpersist()
  }
}
