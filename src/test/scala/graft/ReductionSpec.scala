package graft

import org.apache.spark.ml.feature.{PCA, PCAModel, VectorAssembler}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{CrossVal, Progress, Reduction, Scoring}

/** M11/M12/A14: PCA fit-on-head + distributed transform, reduction
  * tuning loop, and the task-progress listener. */
class ReductionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val df = {
    val feats = (0 until 8).map(i => col("embedding").getItem(i).cast("double").as(s"e_$i"))
    Tables.embeddings(spark, TestSpark.sf).select(
      (col("vec_id") +: (col("vec_id") % 5).as("era")
        +: col("label").cast("double").as("target") +: feats): _*)
  }
  private val featCols = (0 until 8).map(i => s"e_$i")

  test("PCA fit-on-head transform appends k components, keeps all rows") {
    val (reduced, model) = Reduction.pcaFitTransformOnHead(
      df, featCols, k = 3, nFit = 200, orderCol = "vec_id")
    assert(reduced.count() == df.count())
    assert((0 until 3).forall(i => reduced.columns.contains(s"pc_$i")))
    assert(model.explainedVariance.size == 3)
    // deterministic across runs
    val (reduced2, _) = Reduction.pcaFitTransformOnHead(
      df, featCols, k = 3, nFit = 200, orderCol = "vec_id")
    assert(reduced.select("vec_id", "pc_0").except(
      reduced2.select("vec_id", "pc_0")).count() == 0)
  }

  // MLlib PCA, the fit pcaFitTransformOnHead replaced (reference code
  // only): VectorAssembler (handleInvalid "error") + PCA on the same head
  private def mllibPca(frame: DataFrame, feats: Seq[String], k: Int, nFit: Int,
                       orderCol: String): (PCAModel, DataFrame) = {
    val va = new VectorAssembler().setInputCols(feats.toArray).setOutputCol("graft_fv")
    val model = new PCA().setInputCol("graft_fv").setOutputCol("graft_pc").setK(k)
      .fit(va.transform(frame.orderBy(col(orderCol)).limit(nFit)))
    (model, model.transform(va.transform(frame))
      .select(col(orderCol), vector_to_array(col("graft_pc")).as("graft_ref")))
  }

  private def assertMatchesMllib(frame: DataFrame, feats: Seq[String], k: Int,
                                 nFit: Int, orderCol: String): Unit = {
    val (reduced, fit) = Reduction.pcaFitTransformOnHead(frame, feats, k, nFit, orderCol)
    val (ref, refOut) = mllibPca(frame, feats, k, nFit, orderCol)
    val d = feats.length
    assert(fit.pc.numRows == d && fit.pc.numCols == k)
    fit.explainedVariance.toArray.zip(ref.explainedVariance.toArray).foreach {
      case (a, b) => assert(math.abs(a - b) < 1e-9, s"explained variance $a vs $b")
    }
    // loadings agree up to one sign per component
    val sign = (0 until k).map { i =>
      if ((0 until d).map(j => fit.pc(j, i) * ref.pc(j, i)).sum < 0) -1.0 else 1.0
    }
    for (i <- 0 until k; j <- 0 until d)
      assert(math.abs(fit.pc(j, i) - sign(i) * ref.pc(j, i)) < 1e-9,
        s"loading ($j, $i): ${fit.pc(j, i)} vs ${sign(i) * ref.pc(j, i)}")
    val rows = reduced.join(refOut, orderCol)
      .select((0 until k).map(i => col(s"pc_$i")) :+ col("graft_ref"): _*).collect()
    assert(rows.length == frame.count())
    rows.foreach { r =>
      val refPc = r.getSeq[Double](k)
      (0 until k).foreach { i =>
        assert(math.abs(r.getDouble(i) - sign(i) * refPc(i)) < 1e-9,
          s"pc_$i: ${r.getDouble(i)} vs ${sign(i) * refPc(i)}")
      }
    }
  }

  test("PCA fit matches MLlib PCA: explained variance, loadings, projections") {
    assertMatchesMllib(df, featCols, k = 3, nFit = 200, orderCol = "vec_id")
    assertMatchesMllib(df, featCols, k = 8, nFit = 200, orderCol = "vec_id")
  }

  private lazy val small = (1 to 30).map { i =>
    (i.toLong, math.sin(i * 1.3), math.cos(i * 0.7) * 2.0 + 0.3 * math.sin(i * 1.3), 3.0)
  }.toDF("id", "f0", "f1", "f2")

  test("PCA fit on a constant column: zero eigenvalue last, no NaN, matches MLlib") {
    val feats = Seq("f0", "f1", "f2")
    val (reduced, fit) = Reduction.pcaFitTransformOnHead(small, feats, 3, 30, "id")
    val ev = fit.explainedVariance.toArray
    assert(ev.forall(v => !v.isNaN) && fit.pc.toArray.forall(v => !v.isNaN))
    assert(ev(0) >= ev(1) && ev(1) > 0.0 && ev(2) == 0.0)
    assert(math.abs(ev.sum - 1.0) < 1e-12)
    // the zero-variance direction is the constant column itself
    assert(math.abs(fit.pc(2, 2) - 1.0) < 1e-12 &&
      math.abs(fit.pc(0, 2)) < 1e-12 && math.abs(fit.pc(1, 2)) < 1e-12)
    assert(reduced.select("pc_2").collect().forall(r => math.abs(r.getDouble(0) - 3.0) < 1e-12))
    assertMatchesMllib(small, feats, 3, 30, "id")
  }

  test("PCA stays loud on a null or NaN feature, as the MLlib fit was") {
    val feats = Seq("f0", "f1", "f2")
    for (bad <- Seq(lit(null).cast("double"), lit(Double.NaN))) {
      // in the fit head: the fit itself fails, naming the column
      val inHead = small.withColumn("f1", when(col("id") === 3L, bad).otherwise(col("f1")))
      val e = intercept[IllegalArgumentException](
        Reduction.pcaFitTransformOnHead(inHead, feats, 2, 10, "id"))
      assert(e.getMessage.contains("f1"))
      intercept[Exception](mllibPca(inHead, feats, 2, 10, "id"))
      // outside the fit head: the transform's action fails
      val late = small.withColumn("f1", when(col("id") === 25L, bad).otherwise(col("f1")))
      val (reduced, _) = Reduction.pcaFitTransformOnHead(late, feats, 2, 10, "id")
      intercept[Exception](reduced.select("pc_0").collect())
      intercept[Exception](mllibPca(late, feats, 2, 10, "id")._2.collect())
    }
  }

  test("tuneReduction returns a best-first leaderboard over k") {
    def fitter(feats: Seq[String]): org.apache.spark.sql.DataFrame =>
        (org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      _ => test => test.withColumn("pred", feats.map(col).reduce(_ + _))
    val lb = Reduction.tuneReduction(df, featCols, "era", Seq(2, 4), nFit = 200,
      orderCol = "vec_id", folds = 2, fitterFor = fitter,
      score = sc => Scoring.scores(sc, col("era"), col("pred"), col("target"),
        9.0, col("vec_id")))
    assert(lb.size == 2)
    assert(lb.map(_._2) == lb.map(_._2).sorted.reverse)
  }

  test("shared-fit nested scan equals the per-candidate tuneOverKs loop") {
    // the r18 job-merge behind q_reduction_tune(_ols): one OLS
    // aggregate per fold + one leaderboard action must produce the
    // SAME leaderboard (values and order) as the per-(k, fold) loop
    import graft.queries.MlPack
    val score = (sc: org.apache.spark.sql.DataFrame) =>
      Scoring.scores(sc, col("era"), col("pred"), col("target"),
        9.0, col("vec_id"))
    val perCandidate = Reduction.tuneOverKs(df, k => featCols.take(k),
      Seq(2, 4, 6), "era", 2,
      pcs => MlPack.olsFitter(pcs, "target"), score)
    val shared = Reduction.tuneOverKsSharedFit(df, k => featCols.take(k),
      Seq(2, 4, 6), "era", 2,
      pcs => MlPack.olsFitterNested(pcs, "target"), score)
    assert(shared == perCandidate)
  }

  test("q_reduction_tune: one leaderboard row per k, finite scores, deterministic") {
    val lb = graft.queries.MlPack.qReductionTune(spark, TestSpark.sf).collect()
    assert(lb.length == 3) // ks = 2, 4, 6
    assert(lb.map(_.getLong(0)).toSet == Set(2L, 4L, 6L))
    assert(lb.forall(r => !r.isNullAt(1) && !r.getDouble(1).isNaN))
    val lb2 = graft.queries.MlPack.qReductionTune(spark, TestSpark.sf).collect()
    assert(lb.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      lb2.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("Progress listener counts finished tasks for a job") {
    // an independent tally of the same body: every completed stage's
    // task count, seen by a stage-completed listener
    val stageTasks = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stageTasks.addAndGet(e.stageInfo.numTasks); ()
      }
    }
    org.apache.spark.graftshim.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(stages)
    val (n, finished, failedN) =
      try Progress.tracked(spark) { df.count() }
      finally spark.sparkContext.removeSparkListener(stages)
    assert(n > 0 && finished > 0 && failedN == 0)
    // tracked drains the bus before reading, so no task end is missed
    assert(finished == stageTasks.get())
  }
}
