package graft

import org.scalatest.funsuite.AnyFunSuite

import Harness._

/** Mirrors /root/reference/spec/array_validator_spec.cr (int-array variants —
  * Spark arrays are homogeneous, so heterogeneous-tuple fixtures are
  * re-expressed over numeric subschemas; semantics per keyword identical). */
class ArrayValidatorSpec extends AnyFunSuite {

  val basic = """{"type":"array"}"""
  val items = """{"type":"array","items":{"type":"string"}}"""
  val itemsDomain = """{"type":"array","items":{"type":"number","minimum":0}}"""
  val prefix =
    """{"type":"array","prefixItems":[{"type":"number","minimum":10},{"type":"number","minimum":20}]}"""
  val prefixTuple =
    """{"type":"array","items":false,"prefixItems":[{"type":"number"},{"type":"number"},{"type":"number"}]}"""
  val contains = """{"type":"array","contains":{"type":"number","minimum":50}}"""
  val containsRange =
    """{"type":"array","contains":{"type":"integer","multipleOf":5},"minContains":3,"maxContains":5}"""
  val itemLimits = """{"type":"array","minItems":3,"maxItems":5}"""
  val unique = """{"type":"array","uniqueItems":true}"""

  test("basic: successful for arrays, error otherwise") {
    assertSuccess(errorsForValue(basic, "array(1,2,3)"))
    assertError(errorsForValue(basic, "10"), "Expected value to be an array")
    assertError(errorsForValue(basic, "true"), "Expected value to be an array")
    assertError(errorsForValue(basic, "'test'"), "Expected value to be an array")
    assertError(errorsForValue(basic, "cast(null as array<int>)"), "Expected value to be an array")
  }

  test("items: every element validated against the subschema") {
    assertSuccess(errorsForValue(items, "array('red','yellow','blue')"))
    assertError(errorsForValue(items, "array(1)"), "Expected value to be a string")
    assertSuccess(errorsForValue(itemsDomain, "array(0, 50, 100)"))
    assertError(errorsForValue(itemsDomain, "array(1, -2, 3)"),
      "Expected numeric value be greater than or equal to 0")
  }

  test("prefixItems: positional checks; short arrays pass the guard (spec-correct, quirk at validator.cr:254)") {
    assertSuccess(errorsForValue(prefix, "array(10, 20, 999)"))
    assertSuccess(errorsForValue(prefix, "array(10)")) // reference would crash here
    assertErrors(errorsForValue(prefix, "array(5, 10)"), Vector(
      "Expected numeric value be greater than or equal to 10",
      "Expected numeric value be greater than or equal to 20"))
  }

  test("prefixItems errors carry the element path .[i] (node_context.cr:16-28)") {
    assertErrorContext(errorsForValue(prefix, "array(10, 10)"), ".[1]")
  }

  test("prefixItems with items:false closes the tuple") {
    assertSuccess(errorsForValue(prefixTuple, "array(1, 2, 3)"))
    assertError(errorsForValue(prefixTuple, "array(1, 2, 3, 4, 5)"),
      "Expected array to be tuple of length 3")
  }

  test("contains without range limits") {
    assertSuccess(errorsForValue(contains, "array(0, 50, 100)"))
    assertError(errorsForValue(contains, "array(1,2,3,4)"),
      "Expected array to contain at least 1 matched item")
  }

  test("contains with min/max range limits") {
    assertSuccess(errorsForValue(containsRange, "array(5,10,15)"))
    assertSuccess(errorsForValue(containsRange, "array(5,10,15,20)"))
    assertSuccess(errorsForValue(containsRange, "array(5,10,15,20,25)"))
    assertError(errorsForValue(containsRange, "array(5,10)"),
      "Expected array to contain at least 3 matched items")
    assertError(errorsForValue(containsRange, "array(5,10,15,20,25,30)"),
      "Expected array to contain at most 5 matched items")
  }

  test("item limits") {
    assertSuccess(errorsForValue(itemLimits, "array(1,2,3)"))
    assertSuccess(errorsForValue(itemLimits, "array(1,2,3,4,5)"))
    assertError(errorsForValue(itemLimits, "array(1,2)"),
      "Expected array length to be at least 3")
    assertError(errorsForValue(itemLimits, "array(1,2,3,4,5,6)"),
      "Expected array length to be at most 5")
  }

  test("uniqueItems: deep equality incl. arrays-of-arrays") {
    assertSuccess(errorsForValue(unique, "array(1, 2, 3)"))
    assertSuccess(errorsForValue(unique, "array('test','with','strings')"))
    assertSuccess(errorsForValue(unique, "array(array('first-array'), array('second-array'))"))
    assertError(errorsForValue(unique, "array(1,1,2,3)"), "Expected array items to be unique")
    assertError(errorsForValue(unique, "array('test','with','test')"), "Expected array items to be unique")
    assertError(errorsForValue(unique, "array(array('first-array'), array('first-array'))"),
      "Expected array items to be unique")
  }
}
