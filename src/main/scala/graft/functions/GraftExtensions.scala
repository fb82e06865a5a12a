package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point (SURVEY §2.11 extension surface):
  * registers the engine's native expressions for SQL use.
  *
  * Wire up with a session builder's
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions` — after
  * which `SELECT rolling_hash(text)` works from plain SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (children: Seq[Expression]) => RollingHash(children.head)))
    e.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    e.injectFunction((
      new FunctionIdentifier("shingle_hash60"),
      new ExpressionInfo(classOf[ShingleHash].getName, "shingle_hash60"),
      (children: Seq[Expression]) => ShingleHash(children(0),
        children(1).eval().asInstanceOf[Number].intValue)))
    e.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => MinHashSig(children(0),
        children(1).eval().asInstanceOf[Number].intValue,
        children(2).eval().asInstanceOf[Number].intValue)))
    e.injectFunction((
      new FunctionIdentifier("winnow_positions"),
      new ExpressionInfo(classOf[WinnowSelect].getName, "winnow_positions"),
      (children: Seq[Expression]) => WinnowSelect(children(0),
        children(1).eval().asInstanceOf[Number].intValue)))
    e.injectFunction((
      new FunctionIdentifier("sim_hash48"),
      new ExpressionInfo(classOf[SimHash].getName, "sim_hash48"),
      (children: Seq[Expression]) => SimHash(children.head)))
    // Spark's own bloom-filter kernels, which it uses for runtime join
    // filtering but does not register for SQL — exposed here so
    // `SELECT bloom_filter_agg(xxhash64(k)) ...` / `might_contain(bf, h)`
    // work from plain SQL through the engine's extensions.
    e.injectFunction((
      new FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      (children: Seq[Expression]) => children match {
        case Seq(c) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
            .toAggregateExpression()
        case Seq(c, n) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n)
            .toAggregateExpression()
        case _ => throw new IllegalArgumentException(
          "bloom_filter_agg(hashedKey[, expectedItems])")
      }))
    e.injectFunction((
      new FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))))
  }
}
