package graft.ext

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering graft's native expressions — install via
  * `.config("spark.sql.extensions", "graft.ext.GraftExtensions")` (the
  * supported public injection point; every graft session builder sets it).
  * After installation the expressions resolve like built-ins:
  * `call_function("graft_dot", a, b)` or SQL `graft_dot(a, b)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_dot takes exactly 2 arguments")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_variant_kind"),
      new ExpressionInfo(classOf[VariantKind].getName, "graft_variant_kind"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_variant_kind takes exactly 1 argument")
        VariantKind(children.head)
      }))
    // Spark's own runtime-filter bloom expressions, surfaced as callable
    // functions (upstream registers them internal-only): the historical-
    // corpus membership sketch for incremental dedup (pipeline/Dedup
    // .bloomMightContain). Aggregate child must be LongType (xxhash64).
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_bloom_agg(longValue, estimatedItems, numBits)")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1), children(2)).toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_bloom_contains"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_bloom_contains(bloomBinary, longValue)")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_all_in_range"),
      new ExpressionInfo(classOf[ForallInRange].getName, "graft_all_in_range"),
      (children: Seq[Expression]) => {
        require(children.size == 5, "graft_all_in_range takes exactly 5 arguments")
        ForallInRange(children(0), children(1), children(2), children(3), children(4))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_variant_all_in_range"),
      new ExpressionInfo(classOf[VariantForallInRange].getName, "graft_variant_all_in_range"),
      (children: Seq[Expression]) => {
        require(children.size == 6, "graft_variant_all_in_range takes exactly 6 arguments")
        VariantForallInRange(children(0), children(1), children(2), children(3), children(4),
          children(5))
      }))
  }
}

object GraftExtensions {

  /** True when the active session resolves `fn`, i.e. has GraftExtensions
    * installed: callers then emit the native expression instead of its
    * composable fallback. */
  def installed(fn: String): Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession.exists { s =>
      try s.catalog.functionExists(fn)
      catch { case _: Throwable => false }
    }
}
