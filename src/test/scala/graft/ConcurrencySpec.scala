package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the concurrency-determinism invariant in-tree (previously an
  * out-of-tree audit): the driver-side pools join futures in fixed
  * submission order, so the same computation at pool width 1 and at
  * full width must produce IDENTICAL results — not merely equivalent
  * ones. Runs the CrossVal fold pool, the LHS sample pool and the
  * Reduction candidate pool (the last two nest the fold pool) both
  * ways via the `graft.pool.size` lever and compares results exactly.
  */
class ConcurrencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def featureFrame: DataFrame = {
    val feats = (0 until 4).map(i =>
      col("embedding").getItem(i).cast("double").as(s"e_$i"))
    spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet").select(
      (col("vec_id") +: (col("vec_id") % 10).as("era")
        +: col("label").cast("double").as("target") +: feats): _*)
  }

  // deterministic fitter: grouped-mean predictor, one tiny agg per fit
  private def meanFitter(train: DataFrame): DataFrame => DataFrame = {
    val my = train.agg(avg(col("target"))).head().getDouble(0)
    test => test.withColumn("pred", lit(my))
  }

  private def scoreOf(scored: DataFrame): DataFrame =
    scored.agg(round(avg(col("pred")), 9).as("m"),
      round(avg(col("target")), 9).as("mt"), count(lit(1)).as("n"))

  private def withPoolSize[A](n: Int)(body: => A): A = {
    // restore, don't delete: a preset -Dgraft.pool.size (the operator
    // escape hatch) must survive the spec, and deleting it would also
    // let a preset width-1 make the full-width comparison vacuous
    val prev = sys.props.get("graft.pool.size")
    sys.props("graft.pool.size") = n.toString
    try body finally prev match {
      case Some(v) => sys.props("graft.pool.size") = v
      case None => sys.props -= "graft.pool.size"
    }
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("Pools.size clamps to [1, default] and defaults to full width") {
    assert(Pools.size(4) === 4)
    withPoolSize(1) { assert(Pools.size(4) === 1) }
    withPoolSize(99) { assert(Pools.size(4) === 4) }
    withPoolSize(-3) { assert(Pools.size(4) === 1) }
    sys.props("graft.pool.size") = "junk"
    try assert(Pools.size(4) === 4) finally sys.props -= "graft.pool.size"
  }

  test("CrossVal fold pool: width 1 and full width are byte-identical") {
    val ff = featureFrame
    def run(): Seq[String] = rowsOf(
      ml.CrossVal.kfoldScores(ff, "era", 3, meanFitter, scoreOf))
    val sequential = withPoolSize(1)(run())
    // explicit over-cap (clamped to full width) so a preset width-1
    // JVM property can't make this the same run twice
    val concurrent = withPoolSize(64)(run())
    assert(sequential === concurrent)
    assert(sequential.nonEmpty)
  }

  test("LHS sample pool (nesting the fold pool) with an RF evaluate: width 1 and full width agree") {
    val ff = featureFrame.persist()
    try {
      def run(): Seq[ml.Tuning.Trial] =
        ml.Tuning.lhsSearch(Seq(ml.Tuning.Param("trees", 2, 4, isInt = true),
          ml.Tuning.Param("depth", 2, 3, isInt = true)), n = 3, seed = 7) { c =>
          ml.CrossVal.kfoldScores(ff, "era", 2,
            ml.FeatureSelection.rfFitter((0 until 4).map(i => s"e_$i"), "target",
              c("trees").toInt, c("depth").toInt, 7L),
            sc => sc.agg(corr(col("pred"), col("target")).as("c")))
            .agg(avg(col("c"))).head().getDouble(0)
        }
      val sequential = withPoolSize(1)(run())
      val concurrent = withPoolSize(64)(run())
      assert(sequential === concurrent)
      assert(sequential.length === 3)
    } finally ff.unpersist()
  }

  test("Reduction candidate pool (nesting the fold pool): width 1 and full width agree") {
    val ff = featureFrame.persist()
    try {
      def run(): Seq[(Int, Double)] =
        ml.Reduction.tuneOverKs(ff, k => (0 until k).map(i => s"e_$i"),
          ks = Seq(2, 4), eraCol = "era", folds = 2,
          fitterFor = cols => queries.MlPack.olsFitter(cols, "target"),
          score = sc => sc.agg(
            round(corr(col("pred"), col("target")), 6).as("spearman")))
      val sequential = withPoolSize(1)(run())
      val concurrent = withPoolSize(64)(run())
      assert(sequential === concurrent)
      assert(sequential.map(_._1).toSet === Set(2, 4))
    } finally ff.unpersist()
  }
}
