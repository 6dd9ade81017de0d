package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.compile.Compiler
import graft.spec.SpecParser

import Harness._

/** Mirrors /root/reference/spec/object_validator_spec.cr over typed rows.
  * Presence semantics: Spark closed schemas make "key absent" ≡ null
  * (documented in SURVEY.md §2.3). */
class ObjectValidatorSpec extends AnyFunSuite {
  import Harness.spark

  private def df(sql: String) = spark.sql(sql)

  val propertiesSchema =
    """{"type":"object","properties":{
      "schemaString":{"type":"string"},
      "schemaNumber":{"type":"number"},
      "schemaInteger":{"type":"integer"},
      "schemaBoolean":{"type":"boolean"},
      "schemaNull":{"type":"null"}}}"""

  test("basic object: a row always satisfies {type:object}") {
    assertSuccess(errorsForRow("""{"type":"object"}""", df("select 'x' as a")))
  }

  test("properties: all valid input succeeds") {
    assertSuccess(errorsForRow(propertiesSchema, df(
      """select 'test' as schemaString, 10.5 as schemaNumber, 10 as schemaInteger,
         true as schemaBoolean, cast(null as string) as schemaNull""")))
  }

  test("properties: 5 golden errors in keyword order (object_validator_spec.cr:237-245)") {
    assertErrors(errorsForRow(propertiesSchema, df(
      """select 1 as schemaString, 'x' as schemaNumber, cast(10.123 as double) as schemaInteger,
         'y' as schemaBoolean, 'z' as schemaNull""")), Vector(
      "Expected value to be a string",
      "Expected value to be a number",
      "Expected numeric value to be an integer",
      "Expected value to be a boolean",
      "Expected value to be null"))
  }

  test("properties: single-invalid error carries the child path .schemaNull") {
    assertErrorContext(errorsForRow(propertiesSchema, df(
      """select 'test' as schemaString, 10.5 as schemaNumber, 10 as schemaInteger,
         true as schemaBoolean, 'not null!' as schemaNull""")), ".schemaNull")
  }

  test("required: missing (null) property errors at root context") {
    val schema = """{"type":"object","properties":{"schema1":{"type":"string"},"schema2":{"type":"string"}},"required":["schema1","schema2"]}"""
    assertSuccess(errorsForRow(schema, df("select 'a' as schema1, 'b' as schema2")))
    val errs = errorsForRow(schema, df("select 'a' as schema1, cast(null as string) as schema2"))
    assertError(errs, """Expected required property "schema2" to be set""")
    assert(errs.head._2 == ".")
  }

  test("required: a property absent from the Spark schema always errors") {
    val schema = """{"type":"object","required":["nope"]}"""
    assertError(errorsForRow(schema, df("select 'a' as schema1")),
      """Expected required property "nope" to be set""")
  }

  test("dependentRequired: B required only when A present (spec-correct guard; quirk at validator.cr:124)") {
    val schema = """{"type":"object","dependentRequired":{"schema1":["schema2"]}}"""
    assertSuccess(errorsForRow(schema, df("select 'a' as schema1, 'b' as schema2")))
    assertError(errorsForRow(schema, df("select 'a' as schema1, cast(null as string) as schema2")),
      """Expected required property "schema2" to be set when "schema1" is set""")
    // guard: A absent → no requirement (the reference quirk would still error)
    assertSuccess(errorsForRow(schema, df("select cast(null as string) as schema1, cast(null as string) as schema2")))
  }

  test("dependentSchemas: whole object re-validated when the key is present; child errors verbatim") {
    val schema =
      """{"type":"object","dependentSchemas":{"schema1":{"type":"object",
         "required":["schema2"],"properties":{"schema2":{"type":"number"}}}}}"""
    assertSuccess(errorsForRow(schema, df("select 'a' as schema1, 10 as schema2")))
    assertError(errorsForRow(schema, df("select 'a' as schema1, cast(null as int) as schema2")),
      """Expected required property "schema2" to be set""")
    assertError(errorsForRow(schema, df("select 'a' as schema1, 'oops' as schema2")),
      "Expected value to be a number")
    assertSuccess(errorsForRow(schema, df("select cast(null as string) as schema1, 'oops' as schema2")))
  }

  test("propertyNames: key names validated as strings, error at .invalid") {
    val schema = """{"type":"object","propertyNames":{"type":"string","pattern":"^test"}}"""
    assertSuccess(errorsForRow(schema, df("select 1 as test1, 2 as test2")))
    val errs = errorsForRow(schema, df("select 1 as test1, 2 as invalid"))
    assertError(errs, "Expected string to match pattern /^test/")
    assert(errs.head._2 == ".invalid")
  }

  test("property limits count PRESENT (non-null) properties") {
    val schema = """{"type":"object","minProperties":1,"maxProperties":3}"""
    assertSuccess(errorsForRow(schema, df("select 'a' as c1, 'b' as c2")))
    assertError(errorsForRow(schema,
      df("select cast(null as string) as c1, cast(null as string) as c2")),
      "Expected object to have at least 1 properties")
    assertError(errorsForRow(schema, df("select 1 as c1, 2 as c2, 3 as c3, 4 as c4")),
      "Expected object to have at most 3 properties")
  }

  test("additionalProperties disabled: undeclared non-null column errors at root") {
    val schema = """{"type":"object","properties":{"a":{"type":"string"}},"additionalProperties":false}"""
    assertSuccess(errorsForRow(schema, df("select 'x' as a")))
    val errs = errorsForRow(schema, df("select 'x' as a, 'Test' as name"))
    assertError(errs, "Expected object not to have additional properties")
    assert(errs.head._2 == ".")
    // null ≡ absent: a null undeclared column is not "additional"
    assertSuccess(errorsForRow(schema, df("select 'x' as a, cast(null as string) as name")))
  }

  test("additionalProperties schema: undeclared columns validated, path at child") {
    val schema = """{"type":"object","properties":{"a":{"type":"string"}},"additionalProperties":{"type":"number"}}"""
    assertSuccess(errorsForRow(schema, df("select 'x' as a, 5 as schemaAdditional")))
    val errs = errorsForRow(schema, df("select 'x' as a, 'not num' as schemaAdditional"))
    assertError(errs, "Expected value to be a number")
    assert(errs.head._2 == ".schemaAdditional")
  }

  test("patternProperties: regex-selected columns validated; 5 golden errors in order") {
    val schema =
      """{"type":"object","patternProperties":{
        "String$":{"type":"string"},
        "Number$":{"type":"number"},
        "Integer$":{"type":"integer"},
        "Boolean$":{"type":"boolean"},
        "Null$":{"type":"null"}}}"""
    assertSuccess(errorsForRow(schema, df(
      """select 'test' as aString, 10.5 as bNumber, 10 as cInteger,
         true as dBoolean, cast(null as string) as eNull""")))
    assertErrors(errorsForRow(schema, df(
      """select 1 as aString, 'x' as bNumber, cast(10.123 as double) as cInteger,
         'y' as dBoolean, 'z' as eNull""")), Vector(
      "Expected value to be a string",
      "Expected value to be a number",
      "Expected numeric value to be an integer",
      "Expected value to be a boolean",
      "Expected value to be null"))
  }

  test("prefixItems under a property: error path .t[1]") {
    val schema =
      """{"type":"object","properties":{"t":{"type":"array",
         "prefixItems":[{"type":"number"},{"type":"number","minimum":20}]}}}"""
    val errs = errorsForRow(schema, df("select array(1, 5) as t"))
    assertError(errs, "Expected numeric value be greater than or equal to 20")
    assert(errs.head._2 == ".t[1]")
  }

  test("constraint ids and ranks: 0-based keyword order, ids by node path (validator.cr:112-219)") {
    val schema =
      """{"type":"object","required":["a"],"dependentRequired":{"a":["b"]},
         "properties":{"a":{"type":"string","minLength":1}},
         "enum":[{"a":"x"}],"anyOf":[{"type":"object"}]}"""
    val checks = Compiler.compile(SpecParser.parse(schema), df("select 'x' as a, 'y' as b").schema)
    assert(checks.map(c => (c.rank, c.id, c.path)) == Vector(
      (0, "./required:a", "."),
      (1, "./dependentRequired(a,b)", "."),
      (2, ".a/minLength", ".a"),
      (3, "./enum", "."),
      (4, "./anyOf", ".")))
  }

  test("deeply nested: error path .person.identity.example (object_validator_spec.cr:431-437)") {
    val schema =
      """{"type":"object","properties":{"person":{"type":"object","properties":{
         "identity":{"type":"object","properties":{
         "example":{"type":"string"}}}}}}}"""
    val errs = errorsForRow(schema,
      df("select named_struct('identity', named_struct('example', 1)) as person"))
    assertError(errs, "Expected value to be a string")
    assert(errs.head._2 == ".person.identity.example")
  }
}
