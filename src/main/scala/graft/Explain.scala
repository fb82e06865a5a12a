package graft

/** Plan-inspection harness: prints the formatted physical plan of the
  * named queries (or all) in Bench's session layout, so pushdown/
  * broadcast/codegen can be audited on the benched plans. Usage:
  * runMain graft.Explain [names...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    // same A/B hook as TimeQ: lets a plan audit force a dispatcher
    // branch (e.g. the bucketed percentile) without code edits
    Harness.applyExtraConf(spark)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, Harness.sfDir).explain("formatted")
    }
    spark.stop()
  }
}
