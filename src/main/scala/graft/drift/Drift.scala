package graft.drift

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.run.Validation

/** Distribution-drift checks: KL divergence and PSI of a bucketed column's
  * per-partition histogram against the global (all-partition) histogram.
  *
  * Pure DataFrame algebra (SURVEY.md §2.8): one `groupBy(part, bucket)`
  * shuffle over the data, then all joins/sums happen on histogram-sized
  * frames (|parts| × |buckets| rows), independent of table size. No UDAF.
  *
  * KL(p‖q) = Σ p·ln(p/q), PSI = Σ (p−q)·ln(p/q), with Laplace smoothing so
  * empty buckets never divide by zero.
  */
object Drift {

  /** Drift checks rank after the cross-row checks; dimension i gets
    * `BaseRank + i`. */
  val BaseRank = 1100

  def id(name: String): String = s"dataset/drift:$name"

  /** Per-(part, bucket) counts for an arbitrary bucketing expression. */
  def histogram(df: DataFrame, bucket: Column, part: String = "part"): DataFrame =
    df.groupBy(col(part).as("part"), bucket.cast(StringType).as("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Fixed-width numeric bucketing. */
  def widthBucket(c: Column, width: Double): Column =
    floor(c.cast(DoubleType) / width).cast(LongType)

  /** (part, kl, psi, total) — drift of each partition vs the global mix. */
  def divergence(df: DataFrame, bucket: Column, part: String = "part",
                 smoothing: Double = 0.5): DataFrame =
    divergenceFromHistogram(histogram(df, bucket, part), smoothing)

  /** Divergence math over a prebuilt (part, bucket, c) histogram — all
    * frames histogram-sized. */
  def divergenceFromHistogram(h: DataFrame, smoothing: Double = 0.5): DataFrame = {
    val totals = h.groupBy(col("part")).agg(sum(col("c")).as("t"))
    val base = h.groupBy(col("bucket")).agg(sum(col("c")).as("bc"))
    val baseTotal = base.agg(sum(col("bc")).as("bt"), count(lit(1)).as("k"))

    // grid = every (part × bucket) pair, so buckets absent from a partition
    // still contribute (smoothed) mass — all frames here are histogram-sized
    val grid = totals.crossJoin(base).crossJoin(baseTotal)
      .join(h, Seq("part", "bucket"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val eps = lit(smoothing)
    val p = (col("c") + eps) / (col("t") + eps * col("k"))
    val q = (col("bc") + eps) / (col("bt") + eps * col("k"))
    val ratio = log(p / q)
    grid.groupBy(col("part"))
      .agg(
        sum(p * ratio).as("kl"),
        sum((p - q) * ratio).as("psi"),
        first(col("t")).as("total"))
  }

  /** The multi-dimension histogram cube: `(part, _b0 … _bn, c)` — one
    * `groupBy(part, b1, …, bn)` over the data (cardinality =
    * Π bucket-counts × parts, still histogram-sized). Every per-dimension
    * histogram AND the per-part row totals are re-aggregations of this one
    * frame.
    *
    * Consumers should share it through `.localCheckpoint(false)` (as
    * `Suite`/`multiValidation` do): ReuseExchange does NOT collapse the
    * consumers' differently-pruned copies — measured on the suite verdicts
    * final plan, the un-checkpointed cube's scan executed 3× (once per
    * drift dimension + once column-pruned to `part` for the totals, which
    * the optimizer rewrites into a direct scan) — whereas the checkpointed
    * cube is materialized once and every consumer re-reads the tiny
    * histogram-sized frame. */
  def cube(df: DataFrame, dims: Seq[(String, Column, Double)],
           part: String = "part"): DataFrame = {
    val keys = col(part).as("part") +:
      dims.zipWithIndex.map { case ((_, b, _), i) => b.cast(StringType).as(s"_b$i") }
    df.groupBy(keys: _*).agg(count(lit(1)).as("c"))
  }

  /** Per-part row totals re-aggregated from the cube — zero additional
    * scans next to any other cube consumer (exchange reuse). */
  def totalsFromCube(cube: DataFrame): DataFrame =
    cube.groupBy(col("part")).agg(sum(col("c")).as("total"))

  /** SINGLE-SCAN multi-dimension drift: n drift checks for the scan+shuffle
    * price of one — the cube is lazily checkpointed so the dimensions
    * actually share one materialization (see `cube`). */
  def multiValidation(df: DataFrame, dims: Seq[(String, Column, Double)],
                      part: String = "part", smoothing: Double = 0.5,
                      baseRank: Int = BaseRank): Seq[Validation] =
    multiValidationFromCube(cube(df, dims, part).localCheckpoint(false),
      dims, smoothing, baseRank)

  /** Drift checks over a prebuilt `cube` frame (shared with other
    * consumers, e.g. `Suite`'s per-part totals). */
  def multiValidationFromCube(cube: DataFrame, dims: Seq[(String, Column, Double)],
                              smoothing: Double = 0.5,
                              baseRank: Int = BaseRank): Seq[Validation] =
    dims.zipWithIndex.map { case ((name, _, threshold), i) =>
      val h = cube.groupBy(col("part"), col(s"_b$i").as("bucket")).agg(sum(col("c")).as("c"))
      validationFromDivergence(divergenceFromHistogram(h, smoothing), name,
        threshold, baseRank + i)
    }

  /** Verdict-shaped drift check: pass iff KL ≤ threshold. The partition's
    * divergence value rides in `observed` of a per-partition violation row. */
  def validation(df: DataFrame, bucket: Column, name: String,
                 klThreshold: Double, part: String = "part",
                 smoothing: Double = 0.5, rank: Int = BaseRank): Validation =
    validationFromDivergence(divergence(df, bucket, part, smoothing), name,
      klThreshold, rank)

  private def validationFromDivergence(div: DataFrame, name: String,
                                       klThreshold: Double, rank: Int): Validation = {
    val cid = id(name)
    val message = s"""Expected "$name" distribution to stay within KL $klThreshold of the global mix"""

    val verdicts = div.select(
      col("part"), lit(rank).as("rank"), lit(cid).as("constraint_id"),
      col("total"),
      when(col("kl") <= klThreshold, 0L).otherwise(1L).as("violations"),
      (col("kl") <= klThreshold).as("pass"))

    val violations = div.where(col("kl") > klThreshold).select(
      col("part"), col("part").as("doc_id"), lit(rank).as("rank"),
      lit(cid).as("constraint_id"), lit(".").as("path"),
      format_string("kl=%.6f psi=%.6f", col("kl"), col("psi")).as("observed"),
      lit(message).as("message"))

    Validation(verdicts, violations)
  }
}
