package graft

import org.scalatest.funsuite.AnyFunSuite

import Harness._

/** Mirrors /root/reference/spec/number_validator_spec.cr — golden messages. */
class NumberValidatorSpec extends AnyFunSuite {

  val basicNumber = """{"type":"number"}"""
  val basicInteger = """{"type":"integer"}"""
  val multipleOf10 = """{"type":"integer","multipleOf":10}"""
  val range = """{"type":"number","minimum":0,"maximum":100}"""
  val rangeExclusive = """{"type":"number","exclusiveMinimum":0,"exclusiveMaximum":100}"""
  val numEnum = """{"type":"number","enum":[10,20,30]}"""

  test("basic number: successful for all number values") {
    assertSuccess(errorsForValue(basicNumber, "100"))
    assertSuccess(errorsForValue(basicNumber, "100.123"))
    assertSuccess(errorsForValue(basicNumber, "0"))
    assertSuccess(errorsForValue(basicNumber, "-100"))
  }

  test("basic number: error for any other value") {
    assertError(errorsForValue(basicNumber, "true"), "Expected value to be a number")
    assertError(errorsForValue(basicNumber, "cast(null as double)"), "Expected value to be a number")
    assertError(errorsForValue(basicNumber, "array(1,2,3)"), "Expected value to be a number")
    assertError(errorsForValue(basicNumber, "'test'"), "Expected value to be a number")
  }

  test("basic integer: successful for integers, incl. 100.0 (validator.cr:404)") {
    assertSuccess(errorsForValue(basicInteger, "100"))
    assertSuccess(errorsForValue(basicInteger, "0"))
    assertSuccess(errorsForValue(basicInteger, "-100"))
    assertSuccess(errorsForValue(basicInteger, "cast(100.0 as double)"))
  }

  test("basic integer: error for non-integer values") {
    assertError(errorsForValue(basicInteger, "10.123"), "Expected numeric value to be an integer")
    assertError(errorsForValue(basicInteger, "-100.123"), "Expected numeric value to be an integer")
    assertError(errorsForValue(basicInteger, "'test'"), "Expected value to be a number")
  }

  test("multipleOf: successful for multiples of 10") {
    assertSuccess(errorsForValue(multipleOf10, "10"))
    assertSuccess(errorsForValue(multipleOf10, "100"))
    assertSuccess(errorsForValue(multipleOf10, "0"))
  }

  test("multipleOf: error for non-multiples of 10") {
    assertError(errorsForValue(multipleOf10, "5"), "Expected numeric value to be multiple of 10")
    assertError(errorsForValue(multipleOf10, "55"), "Expected numeric value to be multiple of 10")
  }

  test("inclusive range: in-range succeeds") {
    assertSuccess(errorsForValue(range, "0"))
    assertSuccess(errorsForValue(range, "100"))
    assertSuccess(errorsForValue(range, "50"))
  }

  test("inclusive range: out-of-range errors") {
    assertError(errorsForValue(range, "-1"), "Expected numeric value be greater than or equal to 0")
    assertError(errorsForValue(range, "101"), "Expected numeric value be less than or equal to 100")
  }

  test("exclusive range: in-range succeeds") {
    assertSuccess(errorsForValue(rangeExclusive, "1"))
    assertSuccess(errorsForValue(rangeExclusive, "99"))
    assertSuccess(errorsForValue(rangeExclusive, "50"))
  }

  test("exclusive range: boundary errors") {
    assertError(errorsForValue(rangeExclusive, "0"), "Expected numeric value be greater than 0")
    assertError(errorsForValue(rangeExclusive, "100"), "Expected numeric value be less than 100")
  }

  test("an empty range fails every bound, reported in keyword order (validator.cr:402-467)") {
    // only the evaluation order decides the error order when bounds of both
    // sides fail at once
    assertErrors(errorsForValue(
      """{"type":"number","minimum":10,"maximum":5,"exclusiveMinimum":10,"exclusiveMaximum":5,"multipleOf":2}""",
      "7"), Vector(
      "Expected numeric value be greater than or equal to 10",
      "Expected numeric value be less than or equal to 5",
      "Expected numeric value be greater than 10",
      "Expected numeric value be less than 5",
      "Expected numeric value to be multiple of 2"))
  }

  test("enum: match succeeds, mismatch errors") {
    assertSuccess(errorsForValue(numEnum, "10"))
    assertError(errorsForValue(numEnum, "1000"), "Expected value to be equal to the enum")
  }
}
