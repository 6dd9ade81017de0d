package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.compile.Compiler
import graft.run.Validator
import graft.spec.SpecParser

/** Shared local SparkSession + reference-style assertion helpers.
  *
  * Mirrors /root/reference/spec/spec_helper.cr: `errorsFor` plays the role of
  * `validator.validate(value)` returning the ordered (message, path) list.
  */
object Harness {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body(mode)` once per evaluation path of the native expressions,
    * then restores the session conf:
    *  - "generated": whole-stage codegen with no silent fallback to eval,
    *    and ConvertToLocalRelation excluded so a local input is not folded
    *    away at plan time through `eval`;
    *  - "interpreted": the expressions' `eval`.
    * An expression under a CodegenFallback parent (`forall`, the violation
    * frame's `filter`) is evaluated through `eval` in both modes; an
    * aggregate's inputs (the verdict counts) are generated code. */
  def inBothModes(body: String => Unit): Unit = {
    val modes = Seq(
      "generated" -> Map("spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation",
        "spark.sql.codegen.fallback" -> "false", "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for ((mode, conf) <- modes) {
      val before = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try body(mode)
      finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** Validate a single value (given as a SQL expression) against a schema in
    * root-value mode; returns ordered (message, path). */
  def errorsForValue(schemaJson: String, sqlValueExpr: String): Vector[(String, String)] = {
    val df = spark.sql(s"select 'r0' as doc_id, $sqlValueExpr as v")
    val checks = Compiler.compileColumn(SpecParser.parse(schemaJson), "v", df.schema("v").dataType)
    collectErrors(df, checks)
  }

  /** Validate each row of `df` (all columns = the object) against an object
    * schema; returns ordered (message, path) for the single-row fixtures. */
  def errorsForRow(schemaJson: String, df: DataFrame): Vector[(String, String)] = {
    val spec = SpecParser.parse(schemaJson)
    val checks = Compiler.compile(spec, df.schema)
    collectErrors(df.withColumn("doc_id", org.apache.spark.sql.functions.lit("r0")), checks)
  }

  private def collectErrors(df: DataFrame, checks: Vector[graft.compile.CompiledCheck]): Vector[(String, String)] =
    Validator.run(df, checks, "doc_id", None)
      .orderedViolations
      .select("message", "path")
      .collect()
      .toVector
      .map(r => (r.getString(0), r.getString(1)))

  def assertSuccess(errors: Vector[(String, String)]): Unit =
    assert(errors.isEmpty, s"expected success, got: $errors")

  def assertError(errors: Vector[(String, String)], message: String): Unit =
    assert(errors.map(_._1) == Vector(message),
           s"expected single error [$message], got: $errors")

  def assertErrors(errors: Vector[(String, String)], messages: Vector[String]): Unit =
    assert(errors.map(_._1) == messages, s"expected $messages, got: $errors")

  def assertErrorContext(errors: Vector[(String, String)], path: String): Unit = {
    assert(errors.size == 1, s"expected single error, got: $errors")
    assert(errors.head._2 == path, s"expected path $path, got: ${errors.head._2}")
  }
}
