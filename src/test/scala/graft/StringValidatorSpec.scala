package graft

import org.scalatest.funsuite.AnyFunSuite

import Harness._

/** Mirrors /root/reference/spec/string_validator_spec.cr. */
class StringValidatorSpec extends AnyFunSuite {

  val basic = """{"type":"string"}"""
  val lengths = """{"type":"string","minLength":5,"maxLength":10}"""
  val pattern = """{"type":"string","pattern":"ing$"}"""
  val strEnum = """{"type":"string","enum":["red","yellow","blue"]}"""
  val uuidFormat = """{"type":"string","format":"uuid"}"""
  val dateTimeFormat = """{"type":"string","format":"date-time"}"""

  test("basic: successful for any string; error for other types") {
    assertSuccess(errorsForValue(basic, "'test'"))
    assertError(errorsForValue(basic, "10"), "Expected value to be a string")
    assertError(errorsForValue(basic, "true"), "Expected value to be a string")
    assertError(errorsForValue(basic, "cast(null as string)"), "Expected value to be a string")
    assertError(errorsForValue(basic, "array(1,2,3)"), "Expected value to be a string")
  }

  test("length constraints") {
    assertSuccess(errorsForValue(lengths, "'tests'"))
    assertSuccess(errorsForValue(lengths, "'testing'"))
    assertSuccess(errorsForValue(lengths, "'_testtest_'"))
    assertError(errorsForValue(lengths, "'test'"), "Expected string to have a minimum length of 5")
    assertError(errorsForValue(lengths, "'really long string'"), "Expected string to have a maximum length of 10")
  }

  test("pattern is an unanchored search, like the reference `=~`") {
    assertSuccess(errorsForValue(pattern, "'testing'"))
    assertError(errorsForValue(pattern, "'test'"), "Expected string to match pattern /ing$/")
  }

  test("enum") {
    assertSuccess(errorsForValue(strEnum, "'red'"))
    assertError(errorsForValue(strEnum, "'purple'"), "Expected value to be equal to the enum")
  }

  test("every failing keyword reports, in keyword order (validator.cr:338-397)") {
    assertErrors(errorsForValue(
      """{"type":"string","minLength":20,"maxLength":3,"pattern":"^x","format":"uuid","enum":["red"]}""",
      "'not-a-uuid'"), Vector(
      "Expected string to have a minimum length of 20",
      "Expected string to have a maximum length of 3",
      "Expected string to match pattern /^x/",
      """Expected string to match format "uuid"""",
      "Expected value to be equal to the enum"))
  }

  test("format uuid (the one format the reference wires, validator.cr:370-372)") {
    assertSuccess(errorsForValue(uuidFormat, "'123e4567-e89b-12d3-a456-426614174000'"))
    assertError(errorsForValue(uuidFormat, "'not-a-uuid'"),
      """Expected string to match format "uuid"""")
  }

  test("format uuid accepts uppercase hex (mutation-found hole: every other fixture is lowercase)") {
    assertSuccess(errorsForValue(uuidFormat, "'123E4567-E89B-12D3-A456-426614174000'"))
    // one hex digit short in the last group — still rejected either case
    assertError(errorsForValue(uuidFormat, "'123E4567-E89B-12D3-A456-42661417400'"),
      """Expected string to match format "uuid"""")
  }

  test("format date-time (reference's commented-out golden, string_validator_spec.cr:56-67)") {
    assertSuccess(errorsForValue(dateTimeFormat, "'2018-11-13T20:20:39+00:00'"))
    assertError(errorsForValue(dateTimeFormat, "'test'"),
      """Expected string to match format "date-time"""")
  }

  test("format date-time accepts lowercase t/z separators (case-boundary, same hole class)") {
    assertSuccess(errorsForValue(dateTimeFormat, "'2018-11-13t20:20:39z'"))
  }

  test("""format regex: value must compile as a regex (the one UDF check)""") {
    val regexFormat = """{"type":"string","format":"regex"}"""
    assertSuccess(errorsForValue(regexFormat, "'^a[bc]+$'"))
    assertError(errorsForValue(regexFormat, "'a[unclosed'"),
      """Expected string to match format "regex"""")
  }
}
