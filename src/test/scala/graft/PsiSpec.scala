package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.StatsPack

/** q_psi's decile edges on a reference window whose deciles fall
  * BETWEEN TWO EQUAL values: the linearly interpolated quantile there
  * is that value exactly, so a row equal to it is not above the edge.
  * `lo·(1−d) + hi·d` (the interpolation DuckDB's `quantile_cont` uses)
  * misses that by an ulp on such ties and moves those rows up a
  * bucket; Spark's `percentile` returns the tied value, and the oracle
  * SQL computes `lo + (hi − lo)·d`, which is exact there.
  */
class PsiSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // days 1-15 are the reference window, 16+ the current one. The
  // first decile sits at position 9 * 0.1 = 0.9, between the two tied
  // 97.27s; the exact edge keeps the 97.27 rows in bucket 0, an
  // ulp-low edge moves them into bucket 1 beside 98.0 and 98.5
  private val ref = Seq(97.27, 97.27, 100.0, 110.0, 120.0, 130.0, 140.0, 150.0, 160.0, 170.0)
  private val cur = Seq(97.27, 98.0, 98.5, 135.0, 175.0)

  /** (PSI, bucket count) as q_psi defines them, with edges from
    * `interp(lo, hi, d)`. */
  private def psi(interp: (Double, Double, Double) => Double): (Double, Long) = {
    val sorted = ref.sorted
    val edges = (1 to 9).map { i =>
      val pos = (sorted.length - 1) * (i / 10.0)
      val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
      interp(sorted(lo), sorted(hi), pos - lo)
    }
    def shares(xs: Seq[Double]): Map[Int, Double] =
      xs.groupBy(x => edges.count(x > _)).map { case (b, v) => b -> v.size.toDouble / xs.size }
    val (pr, pc) = (shares(ref), shares(cur))
    val total = (pr.keySet ++ pc.keySet).toSeq.map { b =>
      val r = math.max(pr.getOrElse(b, 0.0), 1e-4)
      val c = math.max(pc.getOrElse(b, 0.0), 1e-4)
      (c - r) * math.log(c / r)
    }.sum
    (math.rint(total * 1e5) / 1e5, (pr.keySet ++ pc.keySet).size.toLong)
  }

  test("q_psi: a decile between tied values is the tied value exactly") {
    val exact = psi((lo, hi, d) => lo + (hi - lo) * d)
    // the fixture discriminates: the ulp-low edge gives another answer
    assert(psi((lo, hi, d) => lo * (1 - d) + hi * d)._1 != exact._1)
    val dir = TempDirs.create("graft_psi")
    try {
      val rows = ref.zipWithIndex.map { case (v, i) => (1 + i, v) } ++
        cur.zipWithIndex.map { case (v, i) => (16 + i, v) }
      rows.toDF("day", "value")
        .selectExpr("make_timestamp(2024, 1, day, 12, 0, 0) AS ts", "value")
        .write.parquet(s"$dir/events.parquet")
      val out = StatsPack.qPsi(spark, dir.toString).head()
      assert((out.getDouble(0), out.getLong(1)) == exact)
    } finally TempDirs.deleteRecursively(dir)
  }
}
