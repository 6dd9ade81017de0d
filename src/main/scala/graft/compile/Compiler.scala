package graft.compile

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.spec._

/** Typed-column compiler: spec → checks over a Dataset's own columns.
  *
  * This is the whole "execution engine" of the reference re-expressed
  * Spark-first: recursion over the validator tree happens ONCE at plan-build
  * time on the driver (like the reference's compile-time `to_cr` codegen,
  * /root/reference/src/render.cr); per-row work is pure Catalyst expressions
  * inside whole-stage codegen. Zero UDFs except the rare `format:"regex"`.
  * Keyword order, ids, paths and messages come from `KeywordWalk`; this
  * backend supplies the Columns.
  *
  * Presence semantics: Spark closed schemas make "key absent" ≡ null
  * (documented divergence from JSON's present-null vs absent distinction).
  * Type gates are driver-static where the column type is known; a statically
  * failing gate short-circuits all sibling keywords exactly like the
  * reference's early return (validator.cr:113,240,348,414).
  */
object Compiler {

  /** Value location: how to reference "the JSON value" as Columns. */
  private sealed trait Loc {
    def dt: DataType
    def value: Column
    def has(name: String): Boolean = fields.exists(_.name == name)
    def fieldCol(name: String): Column
    def fieldType(name: String): DataType = fields.find(_.name == name).get.dataType
    def fields: Seq[StructField]
  }

  /** The root row of the Dataset. */
  private final case class RootLoc(schema: StructType) extends Loc {
    def dt: DataType = schema
    def value: Column = struct(schema.fieldNames.map(col).toIndexedSeq: _*)
    def fieldCol(name: String): Column = col(name)
    def fields: Seq[StructField] = schema.fields.toIndexedSeq
  }

  /** A nested value (column, struct field, or lambda variable). */
  private final case class ColLoc(c: Column, dt: DataType) extends Loc {
    def value: Column = c
    def fieldCol(name: String): Column = c.getField(name)
    def fields: Seq[StructField] = dt match {
      case s: StructType => s.fields.toIndexedSeq
      case _             => Seq.empty
    }
  }

  /** Compile a spec against a whole row (root must be object/generic). */
  def compile(spec: Spec, schema: StructType): Vector[CompiledCheck] = spec match {
    case _: ObjSpec | _: GenericSpec => Typed.ranked(spec, RootLoc(schema), ".", nullFailsGate = false)
    case other =>
      throw SpecError(s"root spec over a table must be object or generic, got $other")
  }

  /** Compile a spec against one column — the "validate a single value" path
    * (null value fails the type gate, like `as_f` on null in the reference). */
  def compileColumn(spec: Spec, colName: String, dt: DataType): Vector[CompiledCheck] =
    Typed.ranked(spec, ColLoc(col(colName), dt), "." + colName, nullFailsGate = true)

  private object Typed extends KeywordWalk[Loc] {
    import KeywordWalk._

    protected def gate(spec: Spec, n: Loc, nullFailsGate: Boolean): Gate =
      if (!staticGateOk(spec, n.dt)) GateFail
      else if (nullFailsGate) GateWhen(n.value.isNotNull)
      else GatePass

    protected def json(n: Loc): Column = n.dt match {
      case _: StructType | _: ArrayType | _: MapType => to_json(n.value)
      case _                                         => n.value.cast(StringType)
    }

    protected def isNull(n: Loc): Column = n.value.isNull

    /** Full-validity predicate of `spec` over the value — the composite /
      * array-element collapsed boolean (reference collapses composite child
      * errors into one, validator.cr:536-544). Never null. */
    protected def pred(spec: Spec, n: Loc): Column = {
      val (v, dt) = (n.value, n.dt)
      spec match {
        case NullSpec => v.isNull
        case g: GenericSpec => conj(checks(g, ColLoc(v, dt), At(".", ".", lit(true))).map(_.pass))
        case s =>
          if (!staticGateOk(s, dt)) lit(false)
          else v.isNotNull && conj(checks(s, ColLoc(v, dt), At(".", ".", v.isNotNull)).map(_.pass))
      }
    }

    protected def keys(n: Loc): Keys[Loc] = FieldKeys(n.fields.map(_.name), n.fieldCol)
    protected def has(n: Loc, prop: String): Option[Column] =
      if (n.has(prop)) Some(n.fieldCol(prop).isNotNull) else None
    protected def property(n: Loc, prop: String, sub: Spec, present: Column): Option[(Loc, Column)] =
      if (!n.has(prop)) None
      else {
        val c = ColLoc(n.fieldCol(prop), n.fieldType(prop))
        sub match {
          case NullSpec => Some((c, present)) // null IS the expected value
          case _        => Some((c, present && c.value.isNotNull))
        }
      }
    protected def count(n: Loc): Column =
      n.fields.map(f => n.fieldCol(f.name).isNotNull.cast(IntegerType)).reduce(_ + _)
    protected def keysObserved(n: Loc): Column = lit(null).cast(StringType)

    private def elemType(n: Loc): DataType = n.dt.asInstanceOf[ArrayType].elementType
    protected def array(n: Loc): Column = n.value
    protected def element(n: Loc, e: Column): Loc = ColLoc(e, elemType(n))
    protected def nullElement(n: Loc): Loc = ColLoc(lit(null).cast(elemType(n)), elemType(n))
    protected def elementObserved(n: Loc, el: Column): Column = el
    protected def comparable(n: Loc): Column = n.value
    // hottest expression of the token suite: the element-domain forall is
    // a CodegenFallback HOF; use the native codegen'd range loop when the
    // subschema is a pure range (`rangeItems`) over an integral element
    // type and every bound is a whole valid long (fractional bounds compare
    // as doubles); `integer:true` is statically satisfied on integral
    // columns (identical semantics — ExtSpec pins parity incl. null elements)
    override protected def allItems(n: Loc, sub: Spec): Option[Column] =
      rangeItems(sub).filter { r =>
        Seq(ByteType, ShortType, IntegerType, LongType).contains(elemType(n)) &&
          r.bounds.forall(b => b.isWhole && b.isValidLong)
      }.map { r =>
        val (lo, hi) = r.tightest(_.toLong, java.lang.Long.compare)
        val (l, ls) = lo.getOrElse((Long.MinValue, false))
        val (h, hs) = hi.getOrElse((Long.MaxValue, false))
        graft.ext.Native.allInRange(n.value, l, h, ls, hs)
      }

    protected def string(n: Loc): Scalar = Scalar(n.value, n.value, json(n))
    protected def number(n: Loc): Scalar = Scalar(n.value, n.value, json(n))
    // integrality is statically true for integral column types
    protected def integral(n: Loc): Boolean = !isFractional(n.dt)
    protected def bound(b: BigDecimal): Column =
      if (b.isWhole && b.isValidLong) lit(b.toLong) else lit(b.toDouble)

    /** Deep-equality membership (validate_enum, validator.cr:40-55): typed
      * `isin` for scalars (InSet — strictly better than the reference's linear
      * early-exit scan), canonical-JSON comparison for arrays/objects. */
    protected def enumOk(n: Loc, values: Vector[JsonVal]): Column = {
      val v = n.value
      n.dt match {
        case StringType =>
          val vals = values.collect { case JStr(s) => s }
          if (vals.isEmpty) lit(false) else v.isin(vals: _*)
        case BooleanType =>
          val vals = values.collect { case JBool(b) => b }
          if (vals.isEmpty) lit(false) else v.isin(vals: _*)
        case _: NumericType =>
          val nums = values.collect { case x: JNum => x }
          if (nums.isEmpty) lit(false)
          else if (nums.forall(x => x.isWholeNum && x.v.isValidLong) && !isFractional(n.dt))
            v.isin(nums.map(_.v.toLong): _*)
          else v.cast(DoubleType).isin(nums.map(_.toDouble): _*)
        case _: ArrayType | _: StructType =>
          val rendered = values.collect {
            case a: JArr => renderForType(a, n.dt)
            case o: JObj => renderForType(o, n.dt)
          }
          if (rendered.isEmpty) lit(false) else to_json(v).isin(rendered: _*)
        case _ => lit(false)
      }
    }

    protected def constOk(n: Loc, c: JsonVal): Column = {
      val (v, dt) = (n.value, n.dt)
      c match {
        case JStr(s) if dt == StringType                => v === s
        case JBool(b) if dt == BooleanType              => v === b
        case x: JNum if dt.isInstanceOf[NumericType]    => v.cast(DoubleType) === x.toDouble
        case JNull                                      => v.isNull
        case a: JArr if dt.isInstanceOf[ArrayType]      => to_json(v) === renderForType(a, dt)
        case o: JObj if dt.isInstanceOf[StructType]     => to_json(v) === renderForType(o, dt)
        case _                                          => lit(false)
      }
    }
  }

  private def conj(cs: Seq[Column]): Column =
    if (cs.isEmpty) lit(true) else cs.reduce(_ && _)

  private def staticGateOk(spec: Spec, dt: DataType): Boolean = spec match {
    case _: ObjSpec     => dt.isInstanceOf[StructType]
    case _: ArrSpec     => dt.isInstanceOf[ArrayType]
    case _: StrSpec     => dt == StringType
    case _: NumSpec     => dt.isInstanceOf[NumericType]
    case BoolSpec       => dt == BooleanType
    case NullSpec       => true
    case _: GenericSpec => true
  }

  private def isFractional(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType | _: DecimalType => true
    case _                                       => false
  }

  /** Render a JSON value exactly as `to_json` over a column of type `dt`
    * would: numeric formatting follows the COLUMN type (a double column
    * renders 1 as "1.0", a decimal keeps its scale), object fields follow
    * schema order, null fields are dropped. Driver-rendered canonical JSON
    * that ignored the column type could never match fractional-typed
    * enum/const values even when numerically equal (the reference compares
    * `JSON::Any` numerically — 1 == 1.0). */
  private def renderForType(j: JsonVal, dt: DataType): String = (j, dt) match {
    // render through the SAME path as to_json: Jackson's writeNumber(double)
    // emits Double.toString, which switches to scientific notation outside
    // [1e-3, 1e7) — BigDecimal plain notation could never match a "1.0E21"
    // rendered by the scan side (ADVICE r2)
    case (n: JNum, FloatType)  => java.lang.Float.toString(n.v.toFloat)
    case (n: JNum, DoubleType) => java.lang.Double.toString(n.v.toDouble)
    case (n: JNum, d: DecimalType) =>
      n.v.underlying.setScale(d.scale).toPlainString
    case (a: JArr, at: ArrayType) =>
      a.items.map(renderForType(_, at.elementType)).mkString("[", ",", "]")
    case (o: JObj, st: StructType) =>
      val known = st.fields.toVector.flatMap { f =>
        o.get(f.name).filter(_ != JNull)
          .map(v => JsonVal.quote(f.name) + ":" + renderForType(v, f.dataType))
      }
      val extra = o.fields.filter { case (k, v) => !st.fieldNames.contains(k) && v != JNull }
        .map { case (k, v) => JsonVal.quote(k) + ":" + v.render }
      (known ++ extra).mkString("{", ",", "}")
    case _ => j.render
  }
}
