package graft

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
