package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.ml.{Clustering, CrossVal, FeatureSelection, Reduction, Scoring, Tuning}
import graft.operators.{EraRank, Folds, InfoTheory}
import graft.queries.{MlPack, SimilarityPack, TextPack}

/** Context handed to an op body: `span` times one phase of the op and
  * tags the Spark jobs it submits with the phase name. */
final class Ctx(spark: SparkSession, clock: Clock) {
  val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
  def span[A](name: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.PhaseKey)
    sc.setLocalProperty(Tracer.PhaseKey, name)
    val t0 = clock.nowMs
    try f
    finally {
      phases += ((name, t0, clock.nowMs))
      sc.setLocalProperty(Tracer.PhaseKey, prev)
    }
  }
}

/** Epoch milliseconds with sub-millisecond resolution, on the same
  * clock as Spark's listener event times. */
final class Clock {
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def nowMs: Double = ms0 + (System.nanoTime() - ns0) / 1e6
}

/** One operation of a workload. `body` returns the value the check
  * looks at. `kind` names the layer the op's time is billed to in the
  * traced run. A query op's body returns its DataFrame, which the
  * driver writes once per run (outside the timed span) for the DuckDB
  * comparison; other ops carry their own `check`. */
final case class Op(name: String, kind: String, body: Ctx => Any,
                    check: Any => Option[String] = _ => None,
                    writesOutput: Boolean = false)

trait Workload {
  /** Untimed part of set-up that belongs to the workload: read every
    * generated input once (schema memo, page cache). */
  def load(spark: SparkSession): Unit
  def pass(spark: SparkSession, p: Int): Seq[Op]
  /** Oracle SQL for the workload's own ops (on top of SparkEntry's). */
  def oracles: Map[String, String] = Map.empty
  /** Model fits and configs scored so far (ml.trials). */
  val trials = new java.util.concurrent.atomic.AtomicLong(0)
}

object Workloads {
  val Names = Seq("era_experiment", "pipeline_mix")

  def apply(name: String, dir: String, seed: Long): Workload =
    name match {
      case "era_experiment" => new EraExperiment(dir, seed)
      case "pipeline_mix" => new PipelineMix(dir, seed)
      case other => sys.error(s"unknown workload '$other' (one of ${Names.mkString(", ")})")
    }

  /** Relational ops, with their repeats per pass: a fixed skew over
    * CorePack's TPC-H shapes and a window query, EventsPack's as-of
    * join and its SCD2 table writer. */
  val Relational: Seq[String] = Seq(
    "q1_pricing_summary" -> 2, "q6_forecast_revenue" -> 2, "q_join_star" -> 1,
    "q_window_rank_era" -> 1, "q_asof_join" -> 2, "q_scd2" -> 1
  ).flatMap { case (q, n) => Seq.fill(n)(q) }

  /** StreamPack drain over the events table: a watermarked windowed
    * aggregate. */
  val Streams: Seq[String] = Seq("q_stream_tumbling")

  /** Readers of the silver tables (pair-table, kNN and IVF-PQ
    * consumers) and a single-kernel text op. */
  val Consumers: Seq[String] = Seq("q_ngram_jaccard", "q_knn_join", "q_ann_ivfpq_seeded",
    "q_fingerprint")

  /** The layer a query op's time is billed to in the traced run. */
  def kindOf(q: String): String = q match {
    case "q_asof_join" => "asof"
    case "q_fingerprint" => "kernel"
    case "q_ann_ivfpq_seeded" => "ann"
    case _ if q.startsWith("q_stream") => "stream"
    case _ if Consumers.contains(q) => "consumer"
    case _ => "query"
  }

  /** Builder call, then consumption through the noop sink. */
  def queryOp(spark: SparkSession, q: String, dir: String): Op = {
    val fn = SparkEntry.queries(q)
    Op(q, kindOf(q), ctx => {
      val df = ctx.span("build")(fn(spark, dir))
      ctx.span("exec")(df.write.mode("overwrite").format("noop").save())
      df
    }, writesOutput = true)
  }

  def readAll(spark: SparkSession, dir: String, tables: Seq[String]): Unit =
    tables.foreach(t => Tables.table(spark, dir, t).count())
}

/** The data-pipeline side of the repository in one closed loop: the
  * three silver-table builds of the curation pipeline over the salted
  * corpus blow-up (write path), then a seeded order of their consumers
  * (read path), the relational ops and the streaming drain. */
final class PipelineMix(dir: String, seed: Long) extends Workload {
  def load(spark: SparkSession): Unit =
    Workloads.readAll(spark, dir, Seq("customer", "orders", "lineitem", "events",
      "documents", "embeddings"))

  def pass(spark: SparkSession, p: Int): Seq[Op] = {
    // pass 1 builds the tables the consumers read; later passes build
    // under a fresh memo tag, so every pass pays the write path once
    val tag = if (p == 1) "" else s"_p$p"
    val builds = Seq(
      Op("silver_pairs", "silver", ctx => ctx.span("call")(
        TextPack.prepareShared(spark, dir, tag, concurrency = 4))),
      Op("silver_knn", "silver", ctx => ctx.span("call")(
        SimilarityPack.prepareSharedKnn(spark, dir, tag))),
      Op("silver_adc", "silver", ctx => ctx.span("call")(
        SimilarityPack.prepareSharedAdc(spark, dir, tag))))
    builds ++ new Random(seed * 1000003L + p)
      .shuffle(Workloads.Relational ++ Workloads.Streams ++ Workloads.Consumers)
      .map(Workloads.queryOp(spark, _, dir))
  }
}

/** The reference notebook's experiment on the seeded Numerai-shaped
  * frame: era-wise Spearman scoring, era k-fold with a within-era
  * permutation, cross-validation, LHS and Hyperband tuning, MDA feature
  * selection, reduction tuning and feature clustering over
  * variation-of-information distances. */
final class EraExperiment(dir: String, seed: Long) extends Workload {
  private val nFeat = 8
  private val feats = (0 until nFeat).map(i => s"feature_$i")
  private val clusterFeats = feats.take(5)
  private val weights = {
    val r = new Random(seed)
    feats.take(4).map(_ => math.rint((r.nextDouble() - 0.5) * 200) / 100)
  }
  @volatile private var distances: Array[Array[Double]] = _

  private def frame(s: SparkSession): DataFrame =
    Tables.table(s, dir, "numerai").select(
      (col("id") +: col("era").cast("long").as("era") +: feats.map(col) :+ col("target")): _*)

  private def predExpr: String =
    feats.take(4).zip(weights).map { case (f, w) => s"($w * $f)" }.mkString(" + ")

  private def score(sc: DataFrame): DataFrame =
    Scoring.scores(sc, col("era"), col("pred"), col("target"), 1.0, col("id"))

  private def counted(fit: DataFrame => (DataFrame => DataFrame)): DataFrame => (DataFrame => DataFrame) =
    train => { trials.incrementAndGet(); fit(train) }

  private def rf(trees: Int, depth: Int) =
    counted(FeatureSelection.rfFitter(feats, "target", trees, depth, seed))

  private def inUnit(x: Double): Boolean = x >= -1.0 && x <= 1.0
  private def fail(cond: Boolean, msg: => String): Option[String] =
    if (cond) None else Some(msg)

  def load(spark: SparkSession): Unit =
    Workloads.readAll(spark, dir, Seq("numerai"))

  override def oracles: Map[String, String] = Map("era_rank" ->
    s"""SELECT CAST(era AS BIGINT) AS era, round(corr(target, r), 6) AS spearman
       |FROM (SELECT era, target, CAST(row_number() OVER (PARTITION BY era ORDER BY pred, id) AS DOUBLE)
       |        / count(*) OVER (PARTITION BY era) AS r
       |      FROM (SELECT era, id, target, $predExpr AS pred FROM numerai))
       |GROUP BY era""".stripMargin)

  def pass(spark: SparkSession, p: Int): Seq[Op] = Seq(
    Op("era_rank", "rank", ctx => {
      val df = ctx.span("build")(EraRank.spearmanPerEra(
        frame(spark).withColumn("pred", expr(predExpr)),
        col("era"), col("pred"), col("target"), col("id")))
      ctx.span("exec")(df.collect())
      df
    }, writesOutput = true),

    Op("era_folds", "fold", ctx => ctx.span("call") {
      val f = frame(spark)
      val folds = Folds.eraKFoldRandom(f.select("era").distinct(), "era", 4, seed)
        .collect().map(r => (r.getAs[Any]("era").toString.toLong, r.getAs[Any]("fold").toString.toInt))
      val perm = Folds.permuteWithinEra(f, "target", "era", Seq("id"),
        xxhash64(col("id"), lit(seed)))
        .groupBy("era").agg(sum("target").as("s"), count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
      (folds, perm)
    }, check = {
      case (folds: Array[(Long, Int)] @unchecked, perm: Map[Long, (Double, Long)] @unchecked) =>
        val orig = frame(spark).groupBy("era").agg(sum("target"), count(lit(1)))
          .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
        fail(folds.map(_._1).sorted.toSeq == orig.keys.toSeq.sorted &&
          folds.forall { case (_, k) => k >= 0 && k < 4 } &&
          folds.map(_._2).distinct.length == 4,
          "fold assignment is not a disjoint cover of the eras")
          .orElse(fail(perm == orig, "within-era permutation changed an era's target multiset"))
      case other => Some(s"unexpected result $other")
    }),

    Op("era_cv", "cv", ctx => ctx.span("call")(
      CrossVal.kfoldScores(frame(spark), "era", 2, rf(5, 3), score, Some(seed))
        .collect().map(r => (r.getAs[Double]("spearman"), r.getAs[Double]("qme")))),
      check = {
        case rows: Array[(Double, Double)] @unchecked =>
          fail(rows.length == 2 && rows.forall { case (sp, q) => inUnit(sp) && q >= 0 && q <= 1 },
            s"cv scores out of range: ${rows.mkString(",")}")
        case other => Some(s"unexpected result $other")
      }),

    Op("era_lhs", "tune", ctx => ctx.span("call")(
      Tuning.lhsSearch(Seq(Tuning.Param("trees", 3, 8, isInt = true),
        Tuning.Param("depth", 2, 4, isInt = true)), n = 2, seed = seed) { c =>
        CrossVal.kfoldScores(frame(spark), "era", 2, rf(c("trees").toInt, c("depth").toInt),
          score, Some(seed)).agg(avg("spearman")).head().getDouble(0)
      }),
      check = {
        case ts: Seq[Tuning.Trial] @unchecked =>
          fail(ts.length == 2 && ts.forall(t => inUnit(t.score)) &&
            ts.map(_.score) == ts.map(_.score).sorted.reverse, s"bad LHS trials $ts")
        case other => Some(s"unexpected result $other")
      }),

    Op("era_hyperband", "tune", ctx => ctx.span("call") {
      val f = frame(spark).withColumn("fold", col("era") % 2)
      Tuning.hyperbandBatch(Seq(Tuning.Param("alpha", 0.0, 1.0)), 9.0, 3, seed) { (cs, frac) =>
        trials.addAndGet(cs.size)
        val head = MlPack.hashFraction(f, "id", frac)
        val train = head.filter(col("fold") === 0)
        val gm = train.groupBy(col("feature_0").as("g")).agg(avg("target").as("gm"))
        val m = train.agg(avg("target").as("m"))
        val alphas = spark.createDataFrame(cs.zipWithIndex.map { case (c, i) => (i, c("alpha")) })
          .toDF("cfg", "alpha")
        val rows = head.filter(col("fold") === 1)
          .join(broadcast(gm), col("feature_0") === col("g"))
          .crossJoin(broadcast(m)).crossJoin(broadcast(alphas))
          .groupBy("cfg")
          .agg(sqrt(avg(pow(col("target") - (col("m") + col("alpha") * (col("gm") - col("m"))), 2))))
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
        cs.indices.map(i => rows.get(i).map(-_).getOrElse(Double.NegativeInfinity))
      }
    }, check = {
      case ts: Seq[Tuning.Trial] @unchecked =>
        fail(ts.nonEmpty && ts.forall(t => t.score <= 0 && !t.score.isNaN), s"bad Hyperband trials $ts")
      case other => Some(s"unexpected result $other")
    }),

    Op("era_mda", "mda", ctx => ctx.span("call") {
      val imps = FeatureSelection.mda(frame(spark), "era", feats, "target", Seq("id"),
        k = 2, seed = seed, fit = rf(5, 3))
      (imps.collect().length, FeatureSelection.selectTop(imps, 4))
    }, check = {
      case (n: Int, top: Seq[String] @unchecked) =>
        fail(n == nFeat && top.distinct.length == 4 && top.forall(feats.contains),
          s"MDA returned $n importances, top $top")
      case other => Some(s"unexpected result $other")
    }),

    Op("era_reduce", "reduce", ctx => ctx.span("call")(
      Reduction.tuneReduction(frame(spark), feats, "era", Seq(2, 4), nFit = 1000,
        orderCol = "id", folds = 2,
        fitterFor = cols => counted(MlPack.olsFitter(cols, "target")), score = score)),
      check = {
        case lb: Seq[(Int, Double)] @unchecked =>
          fail(lb.map(_._1).sorted == Seq(2, 4) && lb.forall(x => inUnit(x._2)),
            s"bad reduction leaderboard $lb")
        case other => Some(s"unexpected result $other")
      }),

    Op("era_distance", "distance", ctx => ctx.span("call") {
      val f = frame(spark)
      val pairs = for (i <- clusterFeats.indices; j <- clusterFeats.indices if i < j) yield
        InfoTheory.variationOfInformation(InfoTheory.histogram2d(f,
          col(clusterFeats(i)), col(clusterFeats(j)), 0.0, 1.0, 0.0, 1.0, 5), norm = true)
          .select(lit(i).as("a"), lit(j).as("b"), col("vi_norm"))
      val d = Array.fill(clusterFeats.length, clusterFeats.length)(0.0)
      pairs.reduce(_ unionAll _).collect().foreach { r =>
        d(r.getInt(0))(r.getInt(1)) = r.getDouble(2); d(r.getInt(1))(r.getInt(0)) = r.getDouble(2)
      }
      distances = d
      d
    }, check = {
      case d: Array[Array[Double]] =>
        fail(d.indices.forall(i => d(i)(i) == 0.0) &&
          d.flatten.forall(x => x >= 0 && x <= 1) &&
          d.indices.forall(i => d.indices.forall(j => d(i)(j) == d(j)(i))) &&
          d.indices.exists(i => d.indices.exists(j => d(i)(j) > 0)),
          "VI distance matrix is not a [0,1] metric matrix")
      case other => Some(s"unexpected result $other")
    }),

    Op("era_cluster", "cluster", ctx => ctx.span("call")(
      Clustering.optimalClusters(distances, Seq(2, 3))),
      check = {
        case (k: Int, labels: Array[Int], sil: Double) =>
          fail(Seq(2, 3).contains(k) && labels.length == clusterFeats.length &&
            labels.distinct.length == k && inUnit(sil), s"bad clustering k=$k sil=$sil")
        case other => Some(s"unexpected result $other")
      })
  )
}
