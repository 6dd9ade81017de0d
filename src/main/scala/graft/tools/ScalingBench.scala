package graft.tools

import org.apache.spark.sql.SparkSession

/** Two-cluster-size scaling evidence (BASELINE.md protocol): run the IDENTICAL
  * full validation suite on IDENTICAL input bytes at local[N] and local[4N],
  * report throughput at both and efficiency = tput_4N / (4 × tput_N).
  *
  * Robustness: this sandbox is a shared VM with visible noisy-neighbor
  * jitter, so runs are INTERLEAVED (N, 4N, N, 4N, …) and the minimum wall
  * per level is used — min-of-reps is unbiased under external slowdowns.
  * The machine's own CPU speed per run is `env.cpu_calib_s` in perfbench's
  * traced metrics.
  *
  * Usage: `sbt "runMain graft.tools.ScalingBench [rows] [N] [reps]"`.
  */
object ScalingBench {

  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-scaling-$cpus")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // enough input splits to feed 4N cores (local files are cheap to open;
      // the cluster analog is sizing splits to executor count — BASELINE.md);
      // overridable for split-size experiments
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PART_BYTES", (16 * 1024 * 1024).toString))
      .config("spark.sql.files.openCostInBytes", (1024 * 1024).toString)
      // r1 measured the nested-column vectorized reader degrading on
      // array<int> (13 s vs 1.6 s) and turned it OFF; re-measured in r3 at
      // 16 GiB driver heap it is 3× FASTER than the row-by-row reader
      // (0.54 s vs 1.52 s on a 10⁷-row tokens-only scan) — ON
      .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // every AQE stage completion re-renders the plan description for the
      // SQL listener bus; the suite plan is hundreds of checks × 35 stages,
      // so an unbounded plan string is measurable driver-side serial time
      // between stages — truncate it (the UI is off anyway)
      .config("spark.sql.maxPlanStringLength", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def withSession[T](cpus: Int)(f: SparkSession => T): T = {
    val spark = session(cpus)
    try f(spark)
    finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(10000000L)
    val n = args.lift(1).map(_.toInt).getOrElse(8)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)

    // one warm session: generate input if absent + JIT-compile the suite
    withSession(32) { s => graft.Bench.ensureParquet(s, rows); graft.Bench.runSuite(s, rows) }

    val times = scala.collection.mutable.Map(n -> Vector.empty[Double],
      (4 * n) -> Vector.empty[Double])
    (1 to reps).foreach { _ =>
      Seq(n, 4 * n).foreach { cpus =>
        val t = withSession(cpus)(s => graft.Bench.runSuite(s, rows)._1)
        times(cpus) = times(cpus) :+ t
      }
    }
    val secN = times(n).min
    val sec4N = times(4 * n).min
    val tputN = rows / secN
    val tput4N = rows / sec4N
    val eff = tput4N / (4 * tputN)
    println(f"""{"rows":$rows,"n_cores":$n,"sec_n":$secN%.3f,"sec_4n":$sec4N%.3f,"tput_n":$tputN%.0f,"tput_4n":$tput4N%.0f,"scaling_efficiency":$eff%.3f,"all_n":[${times(n).map(t => f"$t%.2f").mkString(",")}],"all_4n":[${times(4 * n).map(t => f"$t%.2f").mkString(",")}]}""")
  }
}
