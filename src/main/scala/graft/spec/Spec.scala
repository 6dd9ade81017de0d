package graft.spec

/** Constraint-spec ADT — the engine's logical plan.
  *
  * Mirrors the reference's `Validator` union (/root/reference/src/validator.cr:31-37):
  * one node kind per JSON type plus a generic node, each holding exactly the
  * keywords its reference counterpart consumes (/root/reference/src/define.cr:12-214).
  * Unlike the reference (a row-at-a-time interpreter), this tree is compiled
  * ONCE on the driver into Catalyst `Column` expressions (graft.compile.Compiler)
  * and executed columnarly by whole-stage codegen.
  */
sealed trait Spec

/** allOf / anyOf / oneOf / not (/root/reference/src/validator.cr:496-531). */
final case class Composite(kind: String, children: Vector[Spec]) {
  require(Composite.Kinds.contains(kind), s"unknown composite kind: $kind")
}
object Composite {
  val Kinds: Vector[String] = Vector("allOf", "anyOf", "oneOf", "not")
}

/** Typeless schema: enum/const/composites only
  * (/root/reference/src/validator.cr:62-92). */
final case class GenericSpec(
    enumList: Vector[JsonVal] = Vector.empty,
    const: Option[JsonVal] = None,
    composites: Vector[Composite] = Vector.empty
) extends Spec

/** `type: object` (/root/reference/src/validator.cr:106-219). Field order of
  * the case class follows define-time consumption order; evaluation order is
  * fixed by the keyword walk, `graft.compile.KeywordWalk` (required →
  * dependentRequired → dependentSchemas → propertyNames → minProperties →
  * maxProperties → properties → patternProperties → additionalProperties →
  * enum → composites). */
final case class ObjSpec(
    properties: Vector[(String, Spec)] = Vector.empty,
    patternProperties: Vector[(String, Spec)] = Vector.empty,
    additionalDisabled: Boolean = false,
    additionalProperties: Option[Spec] = None,
    required: Option[Vector[String]] = None,
    dependentRequired: Vector[(String, Vector[String])] = Vector.empty,
    dependentSchemas: Vector[(String, ObjSpec)] = Vector.empty,
    propertyNames: Option[StrSpec] = None,
    minProperties: Option[Int] = None,
    maxProperties: Option[Int] = None,
    enumList: Vector[JsonVal] = Vector.empty,
    composites: Vector[Composite] = Vector.empty
) extends Spec

/** `type: array` (/root/reference/src/validator.cr:224-333). */
final case class ArrSpec(
    items: Option[Spec] = None,
    tupleClosed: Boolean = false, // `items: false` alongside prefixItems
    prefixItems: Vector[Spec] = Vector.empty,
    contains: Option[Spec] = None,
    minContains: Option[Int] = None,
    maxContains: Option[Int] = None,
    minItems: Option[Int] = None,
    maxItems: Option[Int] = None,
    uniqueItems: Boolean = false,
    enumList: Vector[JsonVal] = Vector.empty,
    composites: Vector[Composite] = Vector.empty
) extends Spec

/** `type: string` (/root/reference/src/validator.cr:338-397). */
final case class StrSpec(
    minLength: Option[Int] = None,
    maxLength: Option[Int] = None,
    pattern: Option[String] = None,
    format: Option[String] = None,
    enumList: Vector[JsonVal] = Vector.empty,
    composites: Vector[Composite] = Vector.empty
) extends Spec

/** `type: number` / `type: integer` (/root/reference/src/validator.cr:402-467).
  * Divergence (documented, SURVEY.md §7.3): the reference narrows all bounds
  * to Int32 (validator.cr:405-409); we accept arbitrary numeric bounds. */
final case class NumSpec(
    integer: Boolean = false,
    multipleOf: Option[BigDecimal] = None,
    minimum: Option[BigDecimal] = None,
    maximum: Option[BigDecimal] = None,
    exclusiveMinimum: Option[BigDecimal] = None,
    exclusiveMaximum: Option[BigDecimal] = None,
    enumList: Vector[JsonVal] = Vector.empty,
    composites: Vector[Composite] = Vector.empty
) extends Spec

/** `type: null` — the single null check (/root/reference/src/validator.cr:472-479). */
case object NullSpec extends Spec

/** `type: boolean` (/root/reference/src/validator.cr:483-490). */
case object BoolSpec extends Spec

/** Spec-definition failure — analog of the reference's InvalidSchemaError
  * (/root/reference/src/error.cr:8-18), raised at plan time, never mid-job. */
final case class SpecError(msg: String) extends RuntimeException(msg)
