package graft.ext

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Native codegen'd "every element within [lo, hi]" over an integral array
  * — the element-domain check of the north-star token table
  * (`tokens: {"items": {"minimum": 0, "exclusiveMaximum": VOCAB}}`).
  *
  * The composable form `forall(tokens, t => t.isNotNull && t >= lo && t <
  * hi)` is a higher-order function: `ArrayForAll` is CodegenFallback, so
  * the HOTTEST expression of the whole validation suite — touching every
  * token of every sequence — runs interpreted, binding a boxed lambda
  * variable per element. This expression is the tight generated loop
  * instead (custom-operator ladder case (b), like [[DotProduct]]); the typed
  * compiler builds it through `Native.allInRange`.
  *
  * Semantics match the HOF+pred composition EXACTLY:
  *  - null array → null (forall of null),
  *  - null element → false (pred's `isNotNull &&` arm),
  *  - empty array → true (vacuous),
  *  - element x passes iff (loStrict ? x > lo : x ≥ lo) and
  *    (hiStrict ? x < hi : x ≤ hi); early exit on first failure.
  * Absent bounds are encoded as Long.MinValue/MaxValue inclusive, which
  * accept every integral value. Bounds must be FOLDABLE literals — they
  * come from the spec, never from data.
  */
case class ForallInRange(arr: Expression, lo: Expression, hi: Expression,
                         loStrict: Expression, hiStrict: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(arr, lo, hi, loStrict, hiStrict)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = arr.nullable

  private def elemType: DataType = arr.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = arr.dataType match {
    case ArrayType(ByteType | ShortType | IntegerType | LongType, _)
        if Seq(lo, hi).forall(e => e.foldable && e.dataType == LongType) &&
          Seq(loStrict, hiStrict).forall(e => e.foldable && e.dataType == BooleanType) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_all_in_range expects (array<integral>, bigint literal, bigint literal, " +
        s"boolean literal, boolean literal), got ${children.map(_.dataType.simpleString)}")
  }

  @transient private lazy val loV = lo.eval(null).asInstanceOf[Long]
  @transient private lazy val hiV = hi.eval(null).asInstanceOf[Long]
  @transient private lazy val lsV = loStrict.eval(null).asInstanceOf[Boolean]
  @transient private lazy val hsV = hiStrict.eval(null).asInstanceOf[Boolean]

  @transient private lazy val get: (ArrayData, Int) => Long = elemType match {
    case ByteType    => (a, i) => a.getByte(i).toLong
    case ShortType   => (a, i) => a.getShort(i).toLong
    case IntegerType => (a, i) => a.getInt(i).toLong
    case LongType    => (a, i) => a.getLong(i)
    case other       => throw new IllegalStateException(s"unreachable: $other")
  }

  override def eval(input: InternalRow): Any = {
    val a = arr.eval(input)
    if (a == null) return null
    val ad = a.asInstanceOf[ArrayData]
    val n = ad.numElements()
    var i = 0
    while (i < n) {
      if (ad.isNullAt(i)) return false
      val x = get(ad, i)
      if (!((if (lsV) x > loV else x >= loV) && (if (hsV) x < hiV else x <= hiV)))
        return false
      i += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arrGen = arr.genCode(ctx)
    val i = ctx.freshName("i")
    val n = ctx.freshName("n")
    val x = ctx.freshName("x")
    val getter = elemType match {
      case ByteType => "getByte"; case ShortType => "getShort"
      case IntegerType => "getInt"; case LongType => "getLong"
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
    // Long.MinValue has no negative Java literal form
    def jl(v: Long): String =
      if (v == Long.MinValue) "java.lang.Long.MIN_VALUE" else s"${v}L"
    val cmpLo = if (lsV) s"$x > ${jl(loV)}" else s"$x >= ${jl(loV)}"
    val cmpHi = if (hsV) s"$x < ${jl(hiV)}" else s"$x <= ${jl(hiV)}"
    val code =
      code"""
         |${arrGen.code}
         |boolean ${ev.isNull} = ${arrGen.isNull};
         |boolean ${ev.value} = true;
         |if (!${ev.isNull}) {
         |  int $n = ${arrGen.value}.numElements();
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (${arrGen.value}.isNullAt($i)) { ${ev.value} = false; break; }
         |    long $x = (long) ${arrGen.value}.$getter($i);
         |    if (!($cmpLo && $cmpHi)) { ${ev.value} = false; break; }
         |  }
         |}
       """.stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(arr = newChildren(0), lo = newChildren(1), hi = newChildren(2),
      loStrict = newChildren(3), hiStrict = newChildren(4))

  override def prettyName: String = "graft_all_in_range"
}

/** Native codegen'd "every element a number within [lo, hi]" over an
  * `array<variant>` — the dynamic-JSON form of [[ForallInRange]], for the
  * same element-domain check when the tokens arrive as JSON.
  *
  * The variant walk's composable form is `forall(arr, e => pred(items, e))`:
  * a runtime number gate, then `integer` and the bounds over
  * `try_variant_get(e, '$', 'double')`. `ArrayForAll` is CodegenFallback,
  * so that lambda runs interpreted for every element of every row and
  * re-derives the element's kind and double per check. This expression
  * reads the type byte and the number once per element, in one generated
  * loop; the variant compiler builds it through `Native.variantAllInRange`.
  *
  * Semantics match that composition EXACTLY:
  *  - null array → null; empty array → true;
  *  - an element passes only if it is a JSON number: a SQL-null element,
  *    JSON null, string, boolean, array or object fails (the gate);
  *  - the number is read as `try_variant_get(e, '$', 'double')` reads it
  *    ([[GraftVariantOps.toDouble]]);
  *  - `integer`: `d % 1 == 0`, so NaN and ±Infinity fail it;
  *  - bounds compare under Spark's double ordering
  *    (`SQLOrderingUtil.compareDoubles`: NaN sorts above every value,
  *    -0.0 equals 0.0), with early exit on the first failing element.
  * A NULL bound is an absent side. Bounds and flags must be FOLDABLE
  * literals — they come from the spec, never from data; several bounds on
  * one side are folded to the tightest by the caller.
  */
case class VariantForallInRange(arr: Expression, lo: Expression, hi: Expression,
                                loStrict: Expression, hiStrict: Expression,
                                integer: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(arr, lo, hi, loStrict, hiStrict, integer)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = arr.nullable

  override def checkInputDataTypes(): TypeCheckResult = arr.dataType match {
    case ArrayType(VariantType, _)
        if Seq(lo, hi).forall(e => e.foldable && e.dataType == DoubleType) &&
          Seq(loStrict, hiStrict, integer).forall(e =>
            e.foldable && e.dataType == BooleanType && e.eval(null) != null) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_variant_all_in_range expects (array<variant>, double literal or null, " +
        "double literal or null, boolean literal, boolean literal, boolean literal), got " +
        children.map(_.dataType.simpleString))
  }

  @transient private lazy val loV = Option(lo.eval(null)).map(_.asInstanceOf[Double])
  @transient private lazy val hiV = Option(hi.eval(null)).map(_.asInstanceOf[Double])
  @transient private lazy val lsV = loStrict.eval(null).asInstanceOf[Boolean]
  @transient private lazy val hsV = hiStrict.eval(null).asInstanceOf[Boolean]
  @transient private lazy val intV = integer.eval(null).asInstanceOf[Boolean]

  private def holds(d: Double): Boolean =
    (!intV || d % 1.0 == 0.0) &&
      loV.forall { l => val c = SQLOrderingUtil.compareDoubles(d, l); if (lsV) c > 0 else c >= 0 } &&
      hiV.forall { h => val c = SQLOrderingUtil.compareDoubles(d, h); if (hsV) c < 0 else c <= 0 }

  override def eval(input: InternalRow): Any = {
    val a = arr.eval(input)
    if (a == null) return null
    val ad = a.asInstanceOf[ArrayData]
    val n = ad.numElements()
    var i = 0
    while (i < n) {
      if (ad.isNullAt(i)) return false
      val e = ad.getVariant(i)
      if (GraftVariantOps.kind(e) != GraftVariantOps.Number) return false
      if (!holds(GraftVariantOps.toDouble(e))) return false
      i += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arrGen = arr.genCode(ctx)
    // the bounds are literals: their generated value is the Java constant
    val (loGen, hiGen) = (lo.genCode(ctx), hi.genCode(ctx))
    val i = ctx.freshName("i")
    val n = ctx.freshName("n")
    val e = ctx.freshName("e")
    val d = ctx.freshName("d")
    val ops = "graft.ext.GraftVariantOps"
    def cmp(b: ExprCode) =
      s"org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles($d, ${b.value})"
    val tests = (if (intV) Some(s"$d % 1.0 == 0.0") else None) ++
      loV.map(_ => s"${cmp(loGen)} ${if (lsV) ">" else ">="} 0") ++
      hiV.map(_ => s"${cmp(hiGen)} ${if (hsV) "<" else "<="} 0")
    val numberTest =
      if (tests.isEmpty) ""
      else s"""double $d = $ops.toDouble($e);
              |if (!(${tests.mkString(" && ")})) { ${ev.value} = false; break; }""".stripMargin
    val code =
      code"""
         |${arrGen.code}
         |${loGen.code}
         |${hiGen.code}
         |boolean ${ev.isNull} = ${arrGen.isNull};
         |boolean ${ev.value} = true;
         |if (!${ev.isNull}) {
         |  int $n = ${arrGen.value}.numElements();
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (${arrGen.value}.isNullAt($i)) { ${ev.value} = false; break; }
         |    org.apache.spark.unsafe.types.VariantVal $e = ${arrGen.value}.getVariant($i);
         |    if ($ops.kind($e) != ${GraftVariantOps.Number}) { ${ev.value} = false; break; }
         |    $numberTest
         |  }
         |}
       """.stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(arr = newChildren(0), lo = newChildren(1), hi = newChildren(2),
      loStrict = newChildren(3), hiStrict = newChildren(4), integer = newChildren(5))

  override def prettyName: String = "graft_variant_all_in_range"
}
