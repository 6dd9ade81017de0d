package graft.stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-partition statistics + checkpoint/resume (SURVEY.md §7.1 step 5,
  * north-star "validation state").
  *
  * Stats are one `groupBy(part)` of Spark built-ins: exact count, min, max,
  * avg and null counts, Greenwald-Khanna quantiles (`percentile_approx`)
  * and HyperLogLog++ distinct counts (`approx_count_distinct`). Partial
  * aggregation makes the shuffle O(parts), not O(rows). The stored values
  * are per-part ESTIMATES, not mergeable sketch state: a table-level
  * quantile or distinct count cannot be derived from the store. If a caller
  * ever needs one, Spark's own KLL (`kll_sketch_agg_bigint` /
  * `kll_merge_agg_bigint`) and HLL (`hll_sketch_agg` / `hll_union_agg`)
  * sketches are the built-in route. Their bytes cost store size: at 100k
  * rows and 16 parts one append writes 3.9 KB as it is, 17.9 KB with a KLL
  * sketch of the numeric column per part, and 62.4 KB with HLL sketches of
  * the key and category columns as well.
  *
  * The store is also the resume ledger. Metrics rows are keyed by (part,
  * spec_hash, run_epoch) and appended via Spark's file-commit protocol
  * (write-to-temp then atomic task-commit move). Resume = collect the
  * completed partition list (small: one row per partition) and
  * anti-filter with `isin`, which prunes whole files when `part` is a
  * physical partition column — a killed run restarts by reading only
  * unvalidated partitions.
  */
object Metrics {

  /** Stats columns for the sequences shape; generalizes by argument. */
  def partitionStats(df: DataFrame, part: String = "part", key: String = "doc_id",
                     numeric: String = "n_tok", cat: String = "source"): DataFrame =
    df.groupBy(col(part).as("part")).agg(
      count(lit(1)).as("total"),
      min(col(numeric)).as(s"${numeric}_min"),
      max(col(numeric)).as(s"${numeric}_max"),
      avg(col(numeric)).as(s"${numeric}_avg"),
      percentile_approx(col(numeric), array(lit(0.5), lit(0.95), lit(0.99)), lit(10000))
        .as(s"${numeric}_quantiles"),
      approx_count_distinct(col(key)).as(s"${key}_approx_distinct"),
      sum(col(key).isNull.cast("long")).as(s"${key}_nulls"),
      sum(col(cat).isNull.cast("long")).as(s"${cat}_nulls"),
      approx_count_distinct(col(cat)).as(s"${cat}_approx_distinct"))
}

/** Storage boundary for checkpointed validation state, keyed by
  * (part, spec_hash, run_epoch). The north star names an ICEBERG metrics
  * table; this sandbox has no Iceberg jars, so `MetricsStore` (parquet) is
  * the documented stand-in — an Iceberg-backed implementation is a drop-in
  * behind this trait (append → table append under the same keys,
  * completedParts → a metadata/partitions query instead of a scan). */
trait ValidationStateStore {
  /** Append a finished run's per-partition stats under its spec lineage.
    * Call AFTER the validation results are materialized — `Suite
    * .resumableRun` owns that ordering. */
  def append(metrics: DataFrame, specHash: String, runEpoch: Long): Unit

  def read(spark: SparkSession): DataFrame

  /** Partitions already validated under this spec lineage (any epoch —
    * retries are idempotent because verdicts are deterministic re-runs). */
  def completedParts(spark: SparkSession, specHash: String): Seq[String]

  /** Resume filter: only not-yet-validated partitions. The `isin` over the
    * (small) completed list is a static predicate → partition pruning at the
    * file listing (PlanSpec gates this), so completed partitions are never
    * read. Null-safe: rows with a null partition value are never silently
    * dropped (a null `isin` would otherwise filter them out once any
    * partition completed). */
  def remaining(df: DataFrame, specHash: String, part: String = "part"): DataFrame = {
    val done = completedParts(df.sparkSession, specHash)
    if (done.isEmpty) df
    else df.where(coalesce(!col(part).cast("string").isin(done: _*), lit(true)))
  }
}

/** Hive-partitioned-parquet state store (the sandbox's Iceberg stand-in). */
final case class MetricsStore(dir: String) extends ValidationStateStore {

  def append(metrics: DataFrame, specHash: String, runEpoch: Long): Unit =
    metrics
      .withColumn("spec_hash", lit(specHash))
      .withColumn("run_epoch", lit(runEpoch))
      .write.mode("append").partitionBy("spec_hash").parquet(dir)

  def read(spark: SparkSession): DataFrame = spark.read.parquet(dir)

  /** Store existence goes through the Hadoop FileSystem API so hdfs:// and
    * s3:// store URIs behave like local paths. */
  def completedParts(spark: SparkSession, specHash: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an existing-but-EMPTY prefix (pre-created bucket/dir, or a store that
    // never completed an append) is a legitimate fresh-store state — treat
    // it like absence instead of failing parquet schema inference. Only
    // `part` and `spec_hash` are read, so stores whose stats columns differ
    // by version (older ones carry an `n_tok_tdigest` struct) resume as-is.
    if (!fs.exists(path) || fs.listStatus(path).isEmpty) Seq.empty
    else read(spark)
      .where(col("spec_hash") === specHash)
      .select(col("part").cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq.filter(_ != null)
  }
}
