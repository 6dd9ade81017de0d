package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.run.{Suite, Validator}
import graft.spec.SpecParser
import graft.stats.MetricsStore

/** The deployable north-star job — the `spark-submit` entry point the north
  * rule names:
  *
  * {{{
  * spark-submit --class graft.SubmitJob graft.jar \
  *   --input  /data/sequences      (parquet/Iceberg dir, hive-partitioned by --part) \
  *   --dim    /data/dim_sources    (dimension table for referential integrity) \
  *   --out    /data/validation     (verdicts/ + violations/ written here) \
  *   --store  /data/metrics        (checkpointed state: resume skips validated parts) \
  *  [--spec   /conf/spec.json]     (defaults to the tokenized-sequence spec) \
  *  [--part   part] [--kl 0.05]
  * }}}
  *
  * Cluster sizing is spark-submit's business (`--num-executors` N or 4N —
  * the scaling-efficiency protocol in BASELINE.md); this job is
  * shape-agnostic: shuffle counts are O(partitions × checks), the
  * referential dimension broadcasts, dedup is salted, and a killed run
  * resumes from the metrics store (results are written BEFORE state is
  * marked complete — Suite.resumableRun's ordering contract).
  *
  * One run: the stats sketches are computed and checkpointed (their
  * emptiness is the resume check); the drift cube is collected (a narrow
  * scan) and the drift checks and per-part totals are computed from it on
  * the driver; the violations are written — the one full-width scan of the
  * input, with the uniqueness candidates materializing into a checkpoint on
  * the way; the verdicts are derived from this run's written violations plus
  * the cube's per-part totals and written, while an `Observation` on that
  * write counts the failing verdicts for the exit code; the stats are
  * appended to the store. No action after the violations write reads the
  * input, and nothing reads `verdicts/` back.
  *
  * Exit code: 0 = all constraints passed (or nothing left to validate),
  * 1 = violations found, 2 = bad usage.
  */
object SubmitJob {

  def main(args: Array[String]): Unit = sys.exit(run(args))

  def run(args: Array[String]): Int = {
    val opts = parseArgs(args) match {
      case None =>
        System.err.println(
          "bad usage: expected --key value pairs (a lone/misspelled flag or " +
            "a flag without a value is an error, not a silent default)")
        return 2
      case Some(o) => o
    }
    val required = Seq("input", "dim", "out", "store")
    val missing = required.filterNot(opts.contains)
    if (missing.nonEmpty) {
      System.err.println(s"missing required args: ${missing.map("--" + _).mkString(" ")}")
      return 2
    }
    val spark = SparkSession.builder()
      .appName("graft-validate")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()

    val cfg = Suite.Config(
      part = opts.getOrElse("part", "part"),
      klThreshold = opts.get("kl").map(_.toDouble).getOrElse(0.05))
    val spec = opts.get("spec")
      .map(SpecParser.parseFile)
      .getOrElse(SpecParser.parse(graft.data.SequenceGen.SeqSpecJson))
    val out = opts("out")

    // every output row carries this run's epoch (also the hive partition):
    // prior runs' failing verdicts — or rows duplicated when a crash between
    // sink and store.append forces a re-validate + re-append — can no longer
    // flip THIS run's exit code (ADVICE r2)
    val runEpoch = System.currentTimeMillis()
    var failing = 0L
    val sink: Suite.Planned => Unit = { p =>
      p.violations.withColumn("run_epoch", lit(runEpoch))
        .write.mode("append").partitionBy("run_epoch").parquet(s"$out/violations")
      // the verdicts derive from the violations just written: this run's
      // epoch directory only, read with the known schema (no inference job)
      val written = readEpoch(spark, s"$out/violations/run_epoch=$runEpoch")
      val gate = Observation("gate")
      p.verdictsOf(written).withColumn("run_epoch", lit(runEpoch))
        .observe(gate, count(when(!col("pass"), true)).as("failing"))
        .coalesce(1) // |parts| × |constraints| rows: one file
        .write.mode("append").partitionBy("run_epoch").parquet(s"$out/verdicts")
      failing = gate.get("failing").asInstanceOf[Long]
    }

    Suite.resumableRun(
      spark.read.parquet(opts("input")),
      spark.read.parquet(opts("dim")),
      MetricsStore(opts("store")),
      spec, cfg, runEpoch = runEpoch, sink = sink) match {
      case None =>
        println("graft: nothing to validate (all partitions checkpointed)")
        0
      case Some(_) =>
        // gate on the counts the verdicts write observed, not a re-read
        println(s"graft: run complete, $failing failing (part, constraint) verdicts")
        if (failing == 0) 0 else 1
    }
  }

  /** One epoch's violation rows. A run without violations writes no epoch
    * directory, which reads as no rows. */
  private def readEpoch(spark: SparkSession, dir: String): DataFrame = {
    val path = new Path(dir)
    if (path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path))
      spark.read.schema(Validator.violationSchema).parquet(dir)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), Validator.violationSchema)
  }

  /** Strict --key value pairs: an odd-length tail or a key without `--` is
    * bad usage (exit 2), never a silent fall-through to defaults. */
  private def parseArgs(args: Array[String]): Option[Map[String, String]] = {
    if (args.length % 2 != 0) return None
    val pairs = args.grouped(2).toSeq
    if (pairs.forall { case Array(k, _) => k.startsWith("--") && k.length > 2 })
      Some(pairs.map { case Array(k, v) => k.drop(2) -> v }.toMap)
    else None
  }
}
