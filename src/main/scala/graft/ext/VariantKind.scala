package graft.ext

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, Decimal, IntegerType, VariantType}
import org.apache.spark.unsafe.types.VariantVal

/** Static helper shared by interpreted eval and generated code. */
object GraftVariantOps {
  val Object = 0; val Array = 1; val String = 2; val Number = 3
  val Boolean = 4; val Null = 5; val Other = 6

  def kind(v: VariantVal): Int = {
    import org.apache.spark.types.variant.VariantUtil
    import org.apache.spark.types.variant.VariantUtil.Type
    VariantUtil.getType(v.getValue, 0) match {
      case Type.OBJECT => Object
      case Type.ARRAY => Array
      case Type.STRING => String
      case Type.LONG | Type.DOUBLE | Type.DECIMAL | Type.FLOAT => Number
      case Type.BOOLEAN => Boolean
      case Type.NULL => Null
      case _ => Other
    }
  }

  /** A `Number`-kind value as a double, converted exactly as
    * `try_variant_get(v, '$', 'double')` converts it: Spark reads the
    * scalar as a LONG, DOUBLE, FLOAT or DECIMAL literal and casts that to
    * double (a decimal through `Decimal.toDouble`). */
  def toDouble(v: VariantVal): Double = {
    import org.apache.spark.types.variant.VariantUtil
    import org.apache.spark.types.variant.VariantUtil.Type
    val b = v.getValue
    VariantUtil.getType(b, 0) match {
      case Type.LONG => VariantUtil.getLong(b, 0).toDouble
      case Type.DOUBLE => VariantUtil.getDouble(b, 0)
      case Type.FLOAT => VariantUtil.getFloat(b, 0).toDouble
      case Type.DECIMAL => Decimal(VariantUtil.getDecimal(b, 0)).toDouble
      case other => throw new IllegalArgumentException(s"not a number: $other")
    }
  }
}

/** JSON type-kind of a VARIANT value as a small int (0=object 1=array
  * 2=string 3=number 4=boolean 5=null 6=other) — read straight from the
  * variant binary's type byte, inside codegen.
  *
  * The composable gate (`schema_of_variant(v).startsWith("OBJECT")` etc.)
  * derives and allocates the full TYPE STRING per row per value node and is
  * CodegenFallback; the dynamic-JSON validator dispatches on the runtime
  * type of EVERY node, so this sits on that mode's hot path. VariantCompiler
  * builds it through `Native.variantKind` for every type gate. Its kinds
  * give the same gate outcomes as the schema-string prefixes (numeric
  * family = LONG/DOUBLE/DECIMAL/FLOAT; DATE/TIMESTAMP/BINARY/UUID cannot
  * arise from parse_json and gate false in both forms); ExtSpec pins that
  * rule on every JSON shape. */
case class VariantKind(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case VariantType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_variant_kind expects variant, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    GraftVariantOps.kind(v.asInstanceOf[VariantVal])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.ext.GraftVariantOps.kind($v)")

  override protected def withNewChildInternal(newChild: Expression): VariantKind =
    copy(child = newChild)

  override def prettyName: String = "graft_variant_kind"
}
