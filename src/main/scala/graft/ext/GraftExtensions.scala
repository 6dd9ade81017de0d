package graft.ext

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.GraftAccess.{column, expression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.DoubleType

/** Session extension registering the SQL names of graft's native
  * expressions — install via
  * `.config("spark.sql.extensions", "graft.ext.GraftExtensions")` (every
  * graft session builder sets it). Scala callers never need it: they build
  * the expressions through [[Native]], in any session. After installation
  * the names resolve like built-ins: SQL `graft_dot(a, b)` or
  * `call_function("graft_dot", a, b)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    for ((name, cls, arity, build) <- Native.sqlFunctions)
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          require(children.size == arity, s"$name takes exactly $arity arguments")
          build(children)
        }))
}

/** One Column constructor per native expression, built straight from its
  * Catalyst `Expression`: the plan does not depend on the session's
  * function registry. Bounds and flags are Scala values, so they reach the
  * expressions as the foldable literals their type checks require. */
object Native {

  /** SQL name, expression class, arity and builder of each expression that
    * [[GraftExtensions]] registers. */
  private[ext] val sqlFunctions: Seq[(String, Class[_], Int, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct], 2, c => DotProduct(c(0), c(1))),
    ("graft_variant_kind", classOf[VariantKind], 1, c => VariantKind(c(0))),
    ("graft_all_in_range", classOf[ForallInRange], 5,
      c => ForallInRange(c(0), c(1), c(2), c(3), c(4))),
    ("graft_variant_all_in_range", classOf[VariantForallInRange], 6,
      c => VariantForallInRange(c(0), c(1), c(2), c(3), c(4), c(5))))

  /** [[DotProduct]] of two `array<double>` columns. */
  def dot(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))

  /** [[VariantKind]] of a variant column. */
  def variantKind(v: Column): Column = column(VariantKind(expression(v)))

  /** [[ForallInRange]]: every element of an integral array within
    * [lo, hi], each side strict or not. */
  def allInRange(arr: Column, lo: Long, hi: Long, loStrict: Boolean, hiStrict: Boolean): Column =
    column(ForallInRange(expression(arr), Literal(lo), Literal(hi), Literal(loStrict),
      Literal(hiStrict)))

  /** [[VariantForallInRange]]: every element of an `array<variant>` a
    * number within the bounds (an absent side is `None`), and whole when
    * `integer`. */
  def variantAllInRange(arr: Column, lo: Option[Double], hi: Option[Double], loStrict: Boolean,
                        hiStrict: Boolean, integer: Boolean): Column = {
    def bound(b: Option[Double]) = Literal.create(b.map(Double.box).orNull, DoubleType)
    column(VariantForallInRange(expression(arr), bound(lo), bound(hi), Literal(loStrict),
      Literal(hiStrict), Literal(integer)))
  }

  /** Spark's runtime-filter bloom aggregate over a LongType column: the
    * serialized filter as binary (null over no rows). */
  def bloomAgg(value: Column, estimatedItems: Long, numBits: Long): Column =
    column(new BloomFilterAggregate(expression(value), Literal(estimatedItems), Literal(numBits))
      .toAggregateExpression())

  /** Spark's runtime-filter bloom probe of a LongType column against a
    * serialized filter. */
  def bloomMightContain(bloom: Array[Byte], value: Column): Column =
    column(BloomFilterMightContain(Literal(bloom), expression(value)))
}
