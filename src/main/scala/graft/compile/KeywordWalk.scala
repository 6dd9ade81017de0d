package graft.compile

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.spec._

/** One compiled constraint keyword.
  *
  * The runtime analog of a single keyword evaluation in the reference's
  * `Validator#validate` (validator.cr) — but evaluated
  * columnarly: `pass` is a never-null boolean `Column` over the whole
  * Dataset, `true` when the row passes OR the keyword is not applicable
  * (value absent / gated out). `rank` encodes the reference's fixed keyword
  * evaluation order (golden violation order, SURVEY.md §2.3-2.6).
  */
final case class CompiledCheck(
    id: String,
    path: String,
    keyword: String,
    message: String,
    rank: Int,
    pass: Column,
    observed: Column
)

/** Spec tree → flat ordered `Vector[CompiledCheck]`: the one walk behind
  * both compilers.
  *
  * The walk alone fixes the keyword order of each node kind (the
  * reference's evaluation order, validator.cr), the constraint ids and
  * jq-style paths (node_context.cr:16-28, 71-77), the message choice, the
  * `CompiledCheck` wrapper and the ranking. A backend supplies only Columns
  * over its value representation `N`: value access (child, array, string
  * and number views, JSON for `observed`), the per-keyword `ok`/`observed`
  * where the representations differ, the type gate, and how object keys
  * are known:
  *  - `Compiler` (typed columns): gates are static when the column type is
  *    known — a failing one short-circuits its siblings, like the
  *    reference's early return (validator.cr:113,240,348,414); object keys
  *    are the schema's field names, known on the driver.
  *  - `VariantCompiler` (VARIANT column): gates dispatch on the runtime type
  *    (`graft_variant_kind`); object keys are known only per row.
  *
  * Differences between the two backends (documented; everything else is
  * the same check list):
  *  - Gates: a typed gate that holds statically emits no check; the
  *    variant gate is always a check of its own, so a subschema's
  *    collapsed item / property message can differ between the modes.
  *  - propertyNames / patternProperties / additionalProperties:<schema>:
  *    typed mode emits one check per schema field name (child path);
  *    variant mode collapses to one check per keyword over the RUNTIME keys
  *    (parent path, offending keys ride in `observed`).
  *  - Presence: typed mode reads SQL null as absent (Spark closed schemas);
  *    variant mode tells present-null from absent, like JSON.
  *  - uniqueItems/enum deep equality in variant mode uses canonical
  *    `to_json` (object key order sensitivity is inherited from the
  *    serialization).
  */
private[compile] abstract class KeywordWalk[N] {
  import KeywordWalk._

  // -- what a backend supplies -----------------------------------------------

  /** Type gate of `spec` at `n`; `nullFailsGate` only at the walk's first
    * node (root-value mode: a null value fails the gate instead of being
    * absent). */
  protected def gate(spec: Spec, n: N, nullFailsGate: Boolean): Gate
  /** The whole value, as `observed`. */
  protected def json(n: N): Column
  protected def isNull(n: N): Column
  /** Collapsed full validity of `spec` at `n` (composites, elements, keys). */
  protected def pred(spec: Spec, n: N): Column

  protected def keys(n: N): Keys[N]
  /** Presence of `prop`; None when statically absent. */
  protected def has(n: N, prop: String): Option[Column]
  /** The child node at `prop` and its presence under `present`. */
  protected def property(n: N, prop: String, sub: Spec, present: Column): Option[(N, Column)]
  protected def count(n: N): Column
  /** `observed` of required / dependentRequired. */
  protected def keysObserved(n: N): Column

  protected def array(n: N): Column
  protected def element(n: N, e: Column): N
  /** A null element, walked to pick collapsed item / property messages. */
  protected def nullElement(n: N): N
  /** `observed` of a prefixItems element. */
  protected def elementObserved(n: N, el: Column): Column
  /** What uniqueItems compares. */
  protected def comparable(n: N): Column
  /** A native `items` predicate, when one applies. */
  protected def allItems(n: N, sub: Spec): Option[Column] = None

  protected def string(n: N): Scalar
  protected def number(n: N): Scalar
  /** Statically integral: `integer` then needs no check. */
  protected def integral(n: N): Boolean
  protected def bound(b: BigDecimal): Column
  protected def enumOk(n: N, values: Vector[JsonVal]): Column
  /** `enum` of a value that passed the number gate. */
  protected def numberEnumOk(n: N, values: Vector[JsonVal]): Column = enumOk(n, values)
  protected def constOk(n: N, c: JsonVal): Column

  // -- the walk --------------------------------------------------------------

  /** The ranked checks of `spec` over the value `n` (path "."). */
  final def ranked(spec: Spec, n: N, idp: String, nullFailsGate: Boolean): Vector[CompiledCheck] = {
    val cs = checks(spec, n, At(".", idp, lit(true)), nullFailsGate)
    val ids = cs.map(_.id)
    require(ids.distinct.size == ids.size, s"duplicate constraint ids: ${ids.diff(ids.distinct)}")
    cs.zipWithIndex.map { case (c, i) => c.copy(rank = i) }
  }

  /** The checks of `spec` for the value at `n`. Each wraps as
    * `when(present, ok)`, so absent values never violate (reference:
    * properties checked iff present, validator.cr:163-172). */
  protected final def checks(spec: Spec, n: N, at: At,
                             nullFailsGate: Boolean = false): Vector[CompiledCheck] = spec match {
    case NullSpec =>
      // whole validator is the single null check (validator.cr:472-479)
      Vector(at.check("type:null", Messages.notNull, isNull(n), json(n)))
    case g: GenericSpec =>
      enumCheck(g.enumList, n, at) ++
        g.const.toVector.map { c =>
          at.check("const", Messages.constMismatch(constRender(c)), constOk(n, c), json(n))
        } ++ compositeChecks(g.composites, n, at)
    case s =>
      val (keyword, message) = gateKeyword(s)
      gate(s, n, nullFailsGate) match {
        case GateFail => Vector(at.check(keyword, message, lit(false), json(n)))
        case GatePass => kindChecks(s, n, at)
        case GateWhen(ok) =>
          at.check(keyword, message, ok, json(n)) +: kindChecks(s, n, at.copy(present = at.present && ok))
      }
  }

  private def kindChecks(s: Spec, n: N, at: At): Vector[CompiledCheck] = s match {
    case o: ObjSpec  => objectChecks(o, n, at)
    case a: ArrSpec  => arrayChecks(a, n, at)
    case st: StrSpec => stringChecks(st, n, at)
    case nm: NumSpec => numberChecks(nm, n, at)
    case _           => Vector.empty
  }

  // -- object keywords (validator.cr:112-219; order fixes golden output) ------

  private def objectChecks(o: ObjSpec, n: N, at: At): Vector[CompiledCheck] = {
    val ks = keys(n)
    def present(prop: String): Column = has(n, prop).getOrElse(lit(false))
    def child(prop: String, sub: Spec, path: String, idp: String): Vector[CompiledCheck] =
      property(n, prop, sub, at.present).toVector.flatMap { case (c, p) =>
        checks(sub, c, At(path, idp, p))
      }

    val required = o.required.getOrElse(Vector.empty).map { prop =>
      at.check(s"required:$prop", Messages.required(prop), present(prop), keysObserved(n))
    }

    // spec-correct presence guard (the reference omits it — quirk at
    // validator.cr:124, divergence documented in FIXTURES.md §4)
    val depRequired = o.dependentRequired.flatMap { case (dep, reqs) =>
      reqs.map { req =>
        at.named(s"${at.idp}/dependentRequired($dep,$req)", at.path,
          s"dependentRequired:$req:$dep", Messages.dependentRequired(req, dep),
          when(present(dep), present(req)).otherwise(lit(true)), keysObserved(n))
      }
    }

    // whole object re-validated against the sub-schema when dep is present;
    // child errors surfaced verbatim (validator.cr:131-140)
    val depSchemas = o.dependentSchemas.flatMap { case (dep, sub) =>
      has(n, dep).toVector.flatMap { h =>
        checks(sub, n, At(at.path, s"${at.idp}~dep($dep)", at.present && h))
      }
    }

    // every key name validated as a string (validator.cr:142-149): field
    // names on the driver, runtime keys collapsed per keyword
    val propNames = o.propertyNames.toVector.flatMap { ps =>
      val kws = stringKeywords(ps)
      ks match {
        case FieldKeys(names, _) =>
          names.flatMap { name =>
            kws.filterNot(_.holds(name)).map { k =>
              at.named(s"${at.idp}/propertyNames($name)/${k.keyword}", childPath(at.path, name),
                s"propertyNames:$name:${k.keyword}", k.message, lit(false), lit(name))
            }
          }
        case RuntimeKeys(keyCol, _) =>
          kws.map { k =>
            at.named(s"${at.idp}/propertyNames/${k.keyword}", at.path, s"propertyNames:${k.keyword}",
              k.message, forall(keyCol, x => k.ok(x)), to_json(filter(keyCol, x => !k.ok(x))))
          }
      }
    }

    val minProps = o.minProperties.toVector.map { c =>
      at.check("minProperties", Messages.minProperties(c), count(n) >= c, count(n).cast(StringType))
    }
    val maxProps = o.maxProperties.toVector.map { c =>
      at.check("maxProperties", Messages.maxProperties(c), count(n) <= c, count(n).cast(StringType))
    }

    // absence is required's job (validator.cr:163-172)
    val props = o.properties.flatMap { case (prop, sub) =>
      child(prop, sub, childPath(at.path, prop), childIdp(at.idp, prop))
    }

    def collapsed(sub: Spec, keyCol: Column, value: Column => N, keyword: String, id: String) =
      at.named(id, at.path, keyword,
        collapsedMessage(sub, nullElement(n), "Expected property values to match schema"),
        forall(keyCol, k => pred(sub, value(k))), to_json(filter(keyCol, k => !pred(sub, value(k)))))

    val patterns = o.patternProperties.zipWithIndex.flatMap { case ((re, sub), j) =>
      ks match {
        case FieldKeys(names, _) =>
          val regex = re.r
          names.filter(regex.findFirstIn(_).isDefined).flatMap { prop =>
            child(prop, sub, childPath(at.path, prop), s"${childIdp(at.idp, prop)}~pp$j")
          }
        case RuntimeKeys(keyCol, value) =>
          Vector(collapsed(sub, filter(keyCol, k => k.rlike(re)), value,
            s"patternProperties[$j]", s"${at.idp}/patternProperties[$j]"))
      }
    }

    // spec-correct "additional": not declared in properties AND not matched
    // by any patternProperties regex (reference counts pattern-matched keys
    // as additional — quirk at validator.cr:185-187, documented divergence)
    val declared = o.properties.map(_._1)
    val additional = ks match {
      case FieldKeys(names, field) =>
        val patternRes = o.patternProperties.map(_._1.r)
        val extra = names.filter(k => !declared.contains(k) && !patternRes.exists(_.findFirstIn(k).isDefined))
        if (o.additionalDisabled && extra.nonEmpty)
          Vector(at.check("additionalProperties", Messages.additionalProperties,
            extra.map(field(_).isNull).reduce(_ && _), to_json(struct(extra.map(k => field(k).as(k)): _*))))
        else o.additionalProperties.toVector.flatMap { sub =>
          extra.flatMap(prop => child(prop, sub, childPath(at.path, prop), s"${childIdp(at.idp, prop)}~ap"))
        }
      case RuntimeKeys(keyCol, value) =>
        val extra = filter(keyCol, { k =>
          val inDeclared = if (declared.isEmpty) lit(false) else k.isin(declared: _*)
          val inPattern = o.patternProperties.foldLeft(lit(false))((acc, p) => acc || k.rlike(p._1))
          !inDeclared && !inPattern
        })
        if (o.additionalDisabled)
          Vector(at.check("additionalProperties", Messages.additionalProperties,
            size(extra) === 0, to_json(extra)))
        else o.additionalProperties.toVector.map { sub =>
          collapsed(sub, extra, value, "additionalProperties", s"${at.idp}/additionalProperties")
        }
    }

    required ++ depRequired ++ depSchemas ++ propNames ++ minProps ++ maxProps ++
      props ++ patterns ++ additional ++ enumCheck(o.enumList, n, at) ++ compositeChecks(o.composites, n, at)
  }

  // -- array keywords (validator.cr:239-332) ----------------------------------

  private def arrayChecks(a: ArrSpec, n: N, at: At): Vector[CompiledCheck] = {
    val arr = array(n)
    def holds(sub: Spec)(e: Column): Column = pred(sub, element(n, e))
    def itemsMessage(sub: Spec): String =
      collapsedMessage(sub, nullElement(n), "Expected array items to match schema")

    val items = a.items.toVector.map { sub =>
      val offending = filter(arr, e => !holds(sub)(e))
      val ok = allItems(n, sub).getOrElse(forall(arr, holds(sub)))
      at.check("items", itemsMessage(sub), ok, to_json(offending))
    }

    // spec-correct bounds guard — the reference indexes unconditionally and
    // crashes on short arrays (quirk at validator.cr:254)
    val prefix = a.prefixItems.zipWithIndex.map { case (sub, i) =>
      val el = element_at(arr, i + 1)
      at.named(s"${at.idp}/prefixItems[$i]", childIndexPath(at.path, i), s"prefixItems[$i]",
        itemsMessage(sub), when(size(arr) > i, holds(sub)(el)).otherwise(lit(true)),
        elementObserved(n, el))
    }

    val tuple =
      if (a.tupleClosed)
        Vector(at.check("items:false", Messages.tupleLength(a.prefixItems.size),
          size(arr) <= a.prefixItems.size, size(arr).cast(StringType)))
      else Vector.empty

    val contains = a.contains.toVector.flatMap { sub =>
      val matched = size(filter(arr, e => holds(sub)(e)))
      val minC = a.minContains.map(c =>
        at.check("minContains", Messages.minContains(c), matched >= c, matched.cast(StringType)))
      val maxC = a.maxContains.map(c =>
        at.check("maxContains", Messages.maxContains(c), matched <= c, matched.cast(StringType)))
      val bare =
        if (a.minContains.isEmpty && a.maxContains.isEmpty)
          Some(at.check("contains", Messages.contains, exists(arr, holds(sub)), json(n)))
        else None
      (minC ++ maxC ++ bare).toVector
    }

    val minItems = a.minItems.toVector.map(c =>
      at.check("minItems", Messages.minItems(c), size(arr) >= c, size(arr).cast(StringType)))
    val maxItems = a.maxItems.toVector.map(c =>
      at.check("maxItems", Messages.maxItems(c), size(arr) <= c, size(arr).cast(StringType)))

    val unique =
      if (a.uniqueItems)
        Vector(at.check("uniqueItems", Messages.uniqueItems,
          size(array_distinct(comparable(n))) === size(arr), json(n)))
      else Vector.empty

    items ++ prefix ++ tuple ++ contains ++ minItems ++ maxItems ++ unique ++
      enumCheck(a.enumList, n, at) ++ compositeChecks(a.composites, n, at)
  }

  // -- string keywords (validator.cr:338-397) ---------------------------------

  private def stringChecks(s: StrSpec, n: N, at: At): Vector[CompiledCheck] = {
    val str = string(n)
    stringKeywords(s).map { k =>
      at.check(k.keyword, k.message, k.ok(str.value),
        if (k.keyword == "enum") str.enumObserved else str.observed)
    } ++ compositeChecks(s.composites, n, at)
  }

  // -- number keywords (validator.cr:402-467) ---------------------------------

  private def numberChecks(s: NumSpec, n: N, at: At): Vector[CompiledCheck] = {
    val num = number(n)
    val v = num.value
    def cmp(keyword: String, message: String, ok: Column) = at.check(keyword, message, ok, num.observed)

    // integrality accepts 100.0 (validator.cr:404,417-419)
    val int =
      if (s.integer && !integral(n)) Vector(cmp("type:integer", Messages.notInteger, v % 1 === 0))
      else Vector.empty
    val mins = s.minimum.toVector.map(b => cmp("minimum", Messages.minimum(b), v >= bound(b)))
    val maxs = s.maximum.toVector.map(b => cmp("maximum", Messages.maximum(b), v <= bound(b)))
    val eMins = s.exclusiveMinimum.toVector.map(b =>
      cmp("exclusiveMinimum", Messages.exclusiveMinimum(b), v > bound(b)))
    val eMaxs = s.exclusiveMaximum.toVector.map(b =>
      cmp("exclusiveMaximum", Messages.exclusiveMaximum(b), v < bound(b)))
    val mults = s.multipleOf.toVector.map(b =>
      cmp("multipleOf", Messages.multipleOf(b), v % bound(b) === 0))
    val enums =
      if (s.enumList.isEmpty) Vector.empty
      else Vector(at.check("enum", Messages.enumMismatch, numberEnumOk(n, s.enumList), num.enumObserved))

    int ++ mins ++ maxs ++ eMins ++ eMaxs ++ mults ++ enums ++ compositeChecks(s.composites, n, at)
  }

  // -- shared: enum / composites / collapsed messages -------------------------

  private def enumCheck(values: Vector[JsonVal], n: N, at: At): Vector[CompiledCheck] =
    if (values.isEmpty) Vector.empty
    else Vector(at.check("enum", Messages.enumMismatch, enumOk(n, values), json(n)))

  /** Composites evaluated last, each collapsing to ONE error
    * (validator.cr:496-531, 536-544). */
  private def compositeChecks(composites: Vector[Composite], n: N, at: At): Vector[CompiledCheck] =
    composites.map { c =>
      val preds = c.children.map(ch => coalesce(pred(ch, n), lit(false)))
      val ok =
        if (preds.isEmpty) lit(c.kind == "allOf" || c.kind == "not")
        else c.kind match {
          case "allOf" => preds.reduce(_ && _)
          case "anyOf" => preds.reduce(_ || _)
          case "oneOf" => preds.map(_.cast(IntegerType)).reduce(_ + _) === 1
          case "not"   => !preds.reduce(_ || _) // all children invalid (varargs, validator.cr:523-526)
        }
      at.check(c.kind, Messages.composite(c.kind), ok, json(n))
    }

  /** Item / property sub-errors surface the child's own message where the
    * subschema is a single check (the reference surfaces child errors
    * verbatim, validator.cr:243-250); otherwise a collapsed message. */
  private def collapsedMessage(sub: Spec, probe: N, fallback: String): String = {
    val cs = checks(sub, probe, At(".", ".", lit(true)))
    if (cs.size == 1) cs.head.message else fallback
  }
}

private[graft] object KeywordWalk {

  /** Where the walk stands: the value's path and id prefix, and the
    * condition under which it is present. */
  final case class At(path: String, idp: String, present: Column) {
    def check(keyword: String, message: String, ok: Column, observed: Column): CompiledCheck =
      named(s"$idp/$keyword", path, keyword, message, ok, observed)
    def named(id: String, path: String, keyword: String, message: String,
              ok: Column, observed: Column): CompiledCheck =
      CompiledCheck(id, path, keyword, message, rank = -1,
        pass = when(present, coalesce(ok, lit(false))).otherwise(lit(true)),
        observed = observed.cast(StringType))
  }

  sealed trait Gate
  /** Statically the right type: no gate check. */
  case object GatePass extends Gate
  /** Statically the wrong type: the gate check alone, siblings skipped. */
  case object GateFail extends Gate
  /** Decided per row: a gate check, and the siblings apply where `ok`. */
  final case class GateWhen(ok: Column) extends Gate

  sealed trait Keys[+N]
  /** Field names known on the driver, and the column under each. */
  final case class FieldKeys(names: Seq[String], field: String => Column) extends Keys[Nothing]
  /** Keys known per row (array<string>), and the node under a key. */
  final case class RuntimeKeys[N](keys: Column, value: Column => N) extends Keys[N]

  /** What string / number keywords read, what they report, and what an
    * `enum` violation reports. */
  final case class Scalar(value: Column, observed: Column, enumObserved: Column)

  /** One string keyword: its Column predicate, and the same predicate on a
    * driver-side literal (propertyNames over a closed schema). */
  final case class StrKeyword(keyword: String, message: String, ok: Column => Column,
                              holds: String => Boolean)

  /** The string keywords of `s`, in evaluation order. The literal path
    * checks only formats with a regex, and never throws. */
  def stringKeywords(s: StrSpec): Vector[StrKeyword] = {
    def chars(v: String) = v.codePointCount(0, v.length)
    val formats = s.format.toVector.flatMap { name =>
      val message = Messages.format(name)
      if (Formats.unsupported.contains(name))
        Vector(StrKeyword("format", message,
          _ => throw SpecError(s"""format "$name" is not implemented"""), _ => true))
      else if (name == "regex")
        Vector(StrKeyword("format", message, x => Formats.regexCompiles(x), _ => true))
      else Formats.regexFor(name).map { re =>
        StrKeyword("format", message, _.rlike(re), Formats.matches(name, _))
      }.toVector
    }
    val strs = s.enumList.collect { case JStr(x) => x }
    s.minLength.toVector.map(c =>
      StrKeyword("minLength", Messages.minLength(c), length(_) >= c, chars(_) >= c)) ++
      s.maxLength.toVector.map(c =>
        StrKeyword("maxLength", Messages.maxLength(c), length(_) <= c, chars(_) <= c)) ++
      // unanchored search, like `=~`
      s.pattern.toVector.map(p =>
        StrKeyword("pattern", Messages.pattern(p), _.rlike(p), p.r.findFirstIn(_).isDefined)) ++
      formats ++
      (if (s.enumList.isEmpty) Vector.empty
       else Vector(StrKeyword("enum", Messages.enumMismatch,
         x => if (strs.isEmpty) lit(false) else x.isin(strs: _*), strs.contains)))
  }

  /** An `items` subschema that is a pure numeric range: a `NumSpec` with
    * no multipleOf, enum or composites, as its `integer` flag and the
    * `(bound, strict)` pairs of each side. Its element predicate is then a
    * gate, an optional integrality test and two bounds, which both
    * backends can hand to a native range loop (each adds its own
    * conditions: element type, bound form, the session's extension). */
  final case class RangeItems(integer: Boolean, lower: Vector[(BigDecimal, Boolean)],
                              upper: Vector[(BigDecimal, Boolean)]) {
    def bounds: Vector[BigDecimal] = (lower ++ upper).map(_._1)

    /** Each side's tightest bound as `(bound, strict)`, None when the side
      * has none. Bounds are compared after `conv`, in the form the checks
      * compare them (two decimals can meet as one double), by `cmp`; strict
      * wins a tie. The conjunction of a side's checks is exactly this one. */
    def tightest[T](conv: BigDecimal => T, cmp: (T, T) => Int): (Option[(T, Boolean)], Option[(T, Boolean)]) = {
      def fold(side: Vector[(BigDecimal, Boolean)], tighter: Int => Boolean) =
        side.map { case (b, strict) => (conv(b), strict) }.reduceOption { (acc, x) =>
          val c = cmp(x._1, acc._1)
          if (tighter(c) || (c == 0 && x._2)) x else acc
        }
      (fold(lower, _ > 0), fold(upper, _ < 0))
    }
  }

  /** `sub` as a [[RangeItems]], when it is a pure numeric range. */
  def rangeItems(sub: Spec): Option[RangeItems] = sub match {
    case n: NumSpec if n.multipleOf.isEmpty && n.enumList.isEmpty && n.composites.isEmpty =>
      Some(RangeItems(n.integer,
        n.minimum.map((_, false)).toVector ++ n.exclusiveMinimum.map((_, true)),
        n.maximum.map((_, false)).toVector ++ n.exclusiveMaximum.map((_, true))))
    case _ => None
  }

  private def gateKeyword(spec: Spec): (String, String) = spec match {
    case _: ObjSpec => ("type:object", Messages.notObject)
    case _: ArrSpec => ("type:array", Messages.notArray)
    case _: StrSpec => ("type:string", Messages.notString)
    case _: NumSpec => ("type:number", Messages.notNumber)
    case BoolSpec   => ("type:boolean", Messages.notBoolean)
    case other      => throw new IllegalStateException(s"no gate for $other")
  }

  /** Crystal `JSON::Any` interpolation for the const message — strings are
    * unquoted ("Expected value to be testing", generic_validator_spec.cr:49). */
  private def constRender(v: JsonVal): String = v match {
    case JStr(s) => s
    case other   => other.render
  }

  // -- path bookkeeping (node_context.cr:16-28, 71-77) ------------------------

  private def childPath(parent: String, prop: String): String =
    if (parent == ".") s".$prop" else s"$parent.$prop"

  private def childIndexPath(parent: String, i: Int): String =
    if (parent == ".") s".[$i]" else s"$parent[$i]"

  private def childIdp(idp: String, prop: String): String =
    if (idp == ".") s".$prop" else s"$idp.$prop"
}
