package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.data.SequenceGen

/** Seeded inputs for the four workloads. Every input starts from
  * `SequenceGen.sequences(rows, parts, seed)` and adds the workload's own
  * perturbations as pure Column expressions over the generated row, so the
  * same (workload, seed, rows, parts) always gives the same rows. The job
  * under test only ever sees the parquet written here.
  */
object Inputs {

  final case class Shape(rows: Long, parts: Int)

  /** A per-row draw in [0, 100) for perturbation `salt`. It hashes the
    * generated row's doc_id and part, which the generator derives from the
    * row's position alone: every seed perturbs the same share of rows, so
    * the seed changes the contents but not the size of the violation sets. */
  private def draw(salt: Int): Column =
    pmod(xxhash64(lit(salt), col("_row")), lit(100))

  private def base(spark: SparkSession, s: Shape, seed: Long): DataFrame =
    SequenceGen.sequences(spark, s.rows, s.parts, seed)
      .withColumn("_row", xxhash64(col("doc_id"), col("part")))

  /** `submit_dirty`: 45 % of rows get n_tok = 0, which breaks both the
    * `minimum` rule and the n_tok = size(tokens) consistency rule; 20 % get
    * source "spam" (enum + FK); 12 % of rows move onto shared doc_ids — 2 %
    * onto three hot keys, 10 % onto a pool of rows/50 keys. */
  private def dirty(df: DataFrame, s: Shape, seed: Long): DataFrame = {
    val pool = math.max(1L, s.rows / 50)
    val shared = draw(3)
    val docId =
      when(shared < 2, format_string("doc-99999999999%d", pmod(draw(6), lit(3))))
        .when(shared < 12, format_string("doc-8%011d",
          pmod(xxhash64(lit(seed), lit(4), col("_row")), lit(pool))))
        .otherwise(col("doc_id"))
    df.withColumn("n_tok", when(draw(1) < 45, lit(0)).otherwise(col("n_tok")))
      .withColumn("source", when(draw(2) < 20, lit("spam")).otherwise(col("source")))
      .withColumn("doc_id", docId)
  }

  /** `json_runtime`: each row becomes its JSON object text, and about 9 % of
    * rows carry a wrong runtime type — n_tok as a string (3 %), a
    * non-integer token (3 %), or a missing `source` key (3 %, on top of the
    * generator's null sources, which also serialize as a missing key). */
  private def json(df: DataFrame): DataFrame = {
    val d = draw(5)
    val nTok = when(d < 3, format_string("\"%d\"", col("n_tok")))
      .otherwise(col("n_tok").cast("string"))
    val tokens = concat(lit("["), array_join(col("tokens"), ","),
      when(d >= 3 && d < 6, lit(",0.5")).otherwise(lit("")), lit("]"))
    val source = when(col("source").isNull || (d >= 6 && d < 9), lit(""))
      .otherwise(concat(lit(",\"source\":\""), col("source"), lit("\"")))
    val text = concat(lit("{\"doc_id\":\""), col("doc_id"), lit("\",\"tokens\":"), tokens,
      lit(",\"n_tok\":"), nTok, source, lit("}"))
    df.select(col("doc_id"), text.as("json"), col("part"))
  }

  /** Writes `dir/input` (hive-partitioned by `part`) and `dir/dim`. */
  def generate(spark: SparkSession, workload: String, seed: Long, s: Shape,
               dir: String): Unit = {
    val df = base(spark, s, seed)
    val out = workload match {
      case "submit_dirty" => dirty(df, s, seed)
      case "json_runtime" => json(df)
      case _ => df
    }
    out.drop("_row").write.mode("overwrite").partitionBy("part").parquet(s"$dir/input")
    SequenceGen.dimSources(spark).write.mode("overwrite").parquet(s"$dir/dim")
  }
}
