package graft.drift

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dataset.CrossRow
import graft.run.Validation

/** Distribution-drift checks: KL divergence and PSI of a bucketed column's
  * per-partition histogram against the global (all-partition) histogram.
  *
  * One `groupBy(part, bucket…)` over the data (`cube`) is collected; the
  * divergence math then runs on the driver over the collected
  * |parts| × Π|bucketsᵢ| cells (SURVEY.md §7.1 step 6), and its results come
  * back as local frames, so no consumer pays a Spark stage for them.
  *
  * With ε = 0.5, k buckets (a NULL bucket counts as its own global bucket),
  * part total t, cell count c, global bucket count bc and global total bt:
  * p = (c+ε)/(t+ε·k), q = (bc+ε)/(bt+ε·k), KL = Σ p·ln(p/q) and
  * PSI = Σ (p−q)·ln(p/q). Cells are keyed null-safely on `part`; a NULL
  * bucket's cell never matches a partition (c = 0).
  */
object Drift {

  /** Drift checks rank after the cross-row checks; dimension i gets
    * `BaseRank + i`. */
  val BaseRank = 1100

  def id(name: String): String = s"dataset/drift:$name"

  /** Fixed-width numeric bucketing. */
  def widthBucket(c: Column, width: Double): Column =
    floor(c.cast(DoubleType) / width).cast(LongType)

  /** The multi-dimension histogram cube: `(part, _b0 … _bn, c)` — one
    * `groupBy(part, b1, …, bn)` over the data, |parts| × Π|bucketsᵢ| rows
    * at most. Every dimension's histogram and the per-part row totals are
    * re-aggregations of it (`divergences`). */
  def cube(df: DataFrame, dims: Seq[(String, Column, Double)],
           part: String = "part"): DataFrame = {
    val keys = col(part).as("part") +:
      dims.zipWithIndex.map { case ((_, b, _), i) => b.cast(StringType).as(s"_b$i") }
    df.groupBy(keys: _*).agg(count(lit(1)).as("c"))
  }

  /** Collects the `cube` of `dims` — the one Spark job — and computes on
    * the driver each dimension's per-part divergence `(part, kl, psi, total)`
    * and the per-part row totals `(part, total)`, all as local frames. The
    * driver holds the collected |parts| × Π|bucketsᵢ| cube rows, however
    * many rows `df` has. */
  def divergences(df: DataFrame, dims: Seq[(String, Column, Double)],
                  part: String = "part",
                  smoothing: Double = 0.5): (Seq[DataFrame], DataFrame) = {
    val cubed = cube(df, dims, part)
    val rows = cubed.collect().toSeq
    def local(rs: Seq[Row], fields: StructField*) =
      df.sparkSession.createDataFrame(rs.asJava, StructType(cubed.schema("part") +: fields))

    val cellCount = (r: Row) => r.getLong(dims.size + 1)
    val totals = rows.groupMapReduce(_.get(0))(cellCount)(_ + _).toSeq
    val divs = dims.indices.map { i =>
      val bucket = (r: Row) => r.getString(i + 1)
      val cells = rows.groupMapReduce(r => (r.get(0), bucket(r)))(cellCount)(_ + _)
      val base = rows.groupMapReduce(bucket)(cellCount)(_ + _)
      val k = base.size.toDouble
      val bt = base.values.sum.toDouble
      local(totals.map { case (p, t) =>
        var kl, psi = 0.0
        for ((b, bc) <- base) {
          val c = if (b == null) 0L else cells.getOrElse((p, b), 0L)
          val pp = (c + smoothing) / (t + smoothing * k)
          val q = (bc + smoothing) / (bt + smoothing * k)
          val ratio = math.log(pp / q)
          kl += pp * ratio
          psi += (pp - q) * ratio
        }
        Row(p, kl, psi, t)
      }, StructField("kl", DoubleType), StructField("psi", DoubleType),
        StructField("total", LongType))
    }
    (divs, local(totals.map { case (p, t) => Row(p, t) }, StructField("total", LongType)))
  }

  /** The drift check of each dimension (rank `baseRank + i`) over its
    * `divergences` frame. */
  def validations(divs: Seq[DataFrame], dims: Seq[(String, Column, Double)],
                  baseRank: Int = BaseRank): Seq[Validation] =
    divs.zip(dims).zipWithIndex.map { case ((div, (name, _, threshold)), i) =>
      validationFromDivergence(div, name, threshold, baseRank + i)
    }

  /** (part, kl, psi, total) — drift of each partition vs the global mix. */
  def divergence(df: DataFrame, bucket: Column, part: String = "part",
                 smoothing: Double = 0.5): DataFrame =
    divergences(df, Seq(("", bucket, 0.0)), part, smoothing)._1.head

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

    val violations = CrossRow.violationRows(div.where(col("kl") > klThreshold), col("part"),
      rank, cid, ".", format_string("kl=%.6f psi=%.6f", col("kl"), col("psi")), message)

    Validation(verdicts, violations)
  }
}
