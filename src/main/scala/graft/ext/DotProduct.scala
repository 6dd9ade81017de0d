package graft.ext

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd dot product over two `array<double>` columns — the
  * inner loop of every similarity operator (ANN scoring, embedding near-dup
  * verification, hyperplane bucketing).
  *
  * The composable formulation (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`)
  * is a higher-order function: `ArrayAggregate`/`ZipWith` are
  * CodegenFallback, so every corpus row leaves whole-stage codegen, boxes a
  * lambda variable per element, and allocates the zipped array. At 100 TB
  * the brute-force score IS the scan — this expression keeps it inside the
  * generated loop (this is case (b) of the custom-operator ladder: a scalar
  * Catalyst Expression, built as a Column by `Native.dot` and registered as
  * SQL `graft_dot` by [[GraftExtensions]]).
  *
  * Semantics match the HOF form exactly, including summation ORDER
  * (ascending index, left fold — bit-identical doubles, which the DuckDB
  * oracles rely on) and null behavior (null result on length mismatch, null
  * input, or any null element — `zip_with` pads/propagates nulls the same
  * way).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_dot expects (array<double>, array<double>), got " +
            s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      sum += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $sum += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $sum; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}
