package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.compile.Compiler
import graft.spec.Spec

/** Structured Streaming front-end for the same compiled checks.
  *
  * The reference is strictly request/response (no streams), so this is an
  * engine-side extension (SURVEY.md §2.8): validate an unbounded source with
  * the identical `CompiledCheck` Columns — the spec compiles once, the
  * micro-batch planner re-uses the expressions.
  *
  * - `violationStream`: per-row violation records, append-mode (stateless —
  *   a narrow projection, safe at any rate).
  * - `verdictStream`: per-(event-time window × partition × constraint)
  *   verdict counts with a watermark — state is bounded by
  *   windows × partitions × checks, independent of row rate.
  */
object StreamValidator {

  def violationStream(stream: DataFrame, spec: Spec, docId: String,
                      part: Option[String]): DataFrame = {
    val checks = Compiler.compile(spec, stream.schema)
    graft.run.Validator.violationFrame(stream, checks, col(docId),
      part.map(col).getOrElse(lit("all")))
  }

  def verdictStream(stream: DataFrame, spec: Spec, timeCol: String,
                    windowDuration: String, watermarkDelay: String,
                    part: Option[String]): DataFrame = {
    graft.run.Validator.verdictFrame(stream.withWatermark(timeCol, watermarkDelay),
      Compiler.compile(spec, stream.schema),
      window(col(timeCol), windowDuration).as("window"),
      part.map(col).getOrElse(lit("all")).as("part"))
  }
}
