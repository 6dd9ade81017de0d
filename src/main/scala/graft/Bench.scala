package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round benchmark: the headline metric — validated sequences/sec for the
  * full constraint suite (row checks + dedup + referential + drift) over the
  * deterministic generated sequence table (BASELINE.json `metric`) — plus
  * per-query seconds of the `SparkEntry.queries` battery. The last stdout
  * line is a compact JSON summary (headline, suite wall time, failed
  * queries, the scaling pair with its per-rep arrays); the per-query map
  * goes only to `bench_result.json`. A battery query that throws is listed
  * under `failed` with no timing, and the exit code is 1.
  *
  * Protocol (unified with BENCH_SCALING.md in r2 — VERDICT r1 #6): the
  * suite number is the MINIMUM of `reps` interleaved runs (this VM's wall
  * times jitter up to 7× between identical reps; interleaved min-of-reps is
  * unbiased under external slowdowns), and the SAME session protocol
  * produces the two-parallelism scaling pair (1 vs 4 physical cores on
  * identical input bytes — the local stand-in for N vs 4N executors, see
  * BENCH_SCALING.md for why the SMT pair 8↔32 measures the box, not the
  * plans) in the same JSON.
  */
object Bench {

  /** Materialize the deterministic sequence table once (hive-partitioned by
    * `part`, like the Iceberg layout it stands in for); generation cost is
    * excluded from the measured validation job, and every measured run reads
    * the IDENTICAL bytes. */
  def ensureParquet(spark: SparkSession, rows: Long, numParts: Int = 16): String = {
    val dir = s"/tmp/graft_bench/seq_${rows}_$numParts"
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
      graft.data.SequenceGen.sequences(spark, rows, numParts)
        .write.mode("overwrite").partitionBy("part").parquet(dir)
    }
    dir
  }

  def runSuite(spark: SparkSession, rows: Long): (Double, Long) = {
    val dir = ensureParquet(spark, rows)
    val df = spark.read.parquet(dir)
    val dim = graft.data.SequenceGen.dimSources(spark)
    val t0 = System.nanoTime()
    val v = graft.run.Suite.validateSequences(df, dim)
    // force full execution of every branch (verdict agg reads all checks)
    v.verdicts.agg(sum(col("violations"))).collect()
    ((System.nanoTime() - t0) / 1e9, rows)
  }

  private def withSession[T](cpus: Int)(f: SparkSession => T): T = {
    val spark = graft.tools.ScalingBench.session(cpus)
    try f(spark)
    finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** Run one scaling-pair leg in an ISOLATED child JVM sized to `cpus` via
    * -XX:ActiveProcessorCount (see ScalingLeg's scaladoc for why: a shared
    * 32-core JVM gives the 1-core leg 32-thread GC/JIT for free and biases
    * the pair). Inherits this JVM's --add-opens/-D/-Xmx flags; stderr
    * passes through, stdout carries `LEG <sec>`. None on any failure →
    * caller falls back to the in-JVM session. */
  private def runLegIsolated(cpus: Int, rows: Long): Option[Double] =
    try {
      import scala.jdk.CollectionConverters._
      val javaBin = java.nio.file.Paths.get(
        sys.props("java.home"), "bin", "java").toString
      val in = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toList
      val keep = scala.collection.mutable.Buffer[String]()
      var i = 0
      while (i < in.length) {
        val a = in(i)
        if (a == "--add-opens" || a == "--add-exports") {
          keep += a
          if (i + 1 < in.length) { keep += in(i + 1); i += 1 }
        } else if (a.startsWith("--add-opens=") || a.startsWith("--add-exports=") ||
            a.startsWith("-D") || a.startsWith("-Xmx")) keep += a
        i += 1
      }
      val cmd = Seq(javaBin) ++ keep ++ Seq(
        s"-XX:ActiveProcessorCount=$cpus",
        "-cp", sys.props("java.class.path"),
        "graft.tools.ScalingLeg", rows.toString, cpus.toString)
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      // redirect stdout to a temp file so the 600 s timeout is live:
      // readAllBytes() on the pipe would block until the child closes
      // stdout, making waitFor(timeout) dead code under a hung child
      val outFile = java.io.File.createTempFile("graft_leg_", ".out")
      outFile.deleteOnExit()
      pb.redirectOutput(outFile)
      val proc = pb.start()
      val ok = proc.waitFor(600, java.util.concurrent.TimeUnit.SECONDS)
      if (!ok) { proc.destroyForcibly(); None }
      else {
        val out = new String(
          java.nio.file.Files.readAllBytes(outFile.toPath), "UTF-8")
        out.linesIterator.collectFirst {
          case l if l.startsWith("LEG ") => l.drop(4).trim.toDouble
        }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] isolated leg failed (${e.getMessage}); in-JVM fallback")
      None
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val benchRows = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROWS", "10000000").toLong
    // the pair must be SCAN-DOMINATED or fixed per-leg overhead (plan/JIT
    // ~0.3 s + ~3.5 s of AQE stage-boundary driver time across ~35 stages)
    // deflates the short leg: r2 measured 3e6 → 0.786 vs 0.843-0.910 at
    // 4e6; after the r3 per-row optimizations (native range check +
    // vectorized nested reader) the 4-core leg at 4e6 dropped to ~12 s and
    // the same overhead was ~25% of it (ratio ~0.71) — at 16e6 the legs
    // are 102 s ↔ 28 s and the ratio is 0.90 with tight reps. The pair
    // input grows as the engine gets faster; 16e6 is the r3 default.
    val scalingRows = sys.env.getOrElse("SPARK_GRAFT_SCALING_ROWS", "16000000").toLong
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val battReps = sys.env.getOrElse("SPARK_GRAFT_BATT_REPS", "2").toInt
    val nCores = 1 // physical-core pair: 1 vs 4 (see BENCH_SCALING.md)

    // benign teardown noise (MessageLoop traces as sessions stop between
    // reps; the streaming state-store maintenance thread warning once its
    // coordinator endpoint is gone) must not land in the captured artifact
    try {
      val off = org.apache.logging.log4j.Level.OFF
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rpc.netty", off)
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.streaming.state.StateStore", off)
      // the deliberate 4096-char plan-string cap (ScalingBench.session)
      // makes PlanStringConcat WARN "Truncated the string representation…"
      // once per rendered plan — an 85 kB suite plan put that line in the
      // r3 artifact tail; the truncation is wanted, the warning is not
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.catalyst.util", off)
    } catch { case _: Throwable => () }

    // one warm session: generate inputs if absent + JIT/codegen warmup, then
    // the driver-query battery — MIN of `battReps` INTERLEAVED reps per
    // query (a single-shot battery on this 7×-jitter VM made round-over-
    // round per-query deltas meaningless — VERDICT r2 #3)
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    // a query that throws in any rep is a failure, never a timing
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    withSession(cpus) { spark =>
      ensureParquet(spark, benchRows)
      ensureParquet(spark, scalingRows)
      runSuite(spark, 50000L)
      val battery = SparkEntry.queries.toSeq.sortBy(_._1)
      (1 to battReps).foreach { r =>
        battery.foreach { case (name, fn) =>
          System.err.println(s"[bench] battery rep $r: $name")
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val t = (System.nanoTime() - t0) / 1e9
            results(name) = math.min(results.getOrElse(name, Double.MaxValue), t)
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: $e")
            failed += name
          }
        }
      }
    }
    failed.foreach(results.remove)

    // interleaved suite reps: headline level then the scaling pair, fresh
    // session per run, identical bytes per rows-count. The PAIR gets extra
    // reps (default 5): efficiency is a RATIO of two noisy walls on a VM
    // with 7× noisy-neighbor jitter, and min-of-reps per leg only converges
    // to the quiet-machine truth with enough windows — 3 reps measurably
    // under-estimated it on busy days (BASELINE.md r3 notes)
    val pairReps = sys.env.getOrElse("SPARK_GRAFT_PAIR_REPS", "4").toInt
    val times = scala.collection.mutable.Map[(Int, Long), Vector[Double]]()
      .withDefaultValue(Vector.empty)
    (1 to math.max(reps, pairReps)).foreach { r =>
      val levels =
        (if (r <= reps) Seq(cpus -> benchRows) else Seq.empty) ++
          (if (r <= pairReps) Seq(nCores -> scalingRows, (4 * nCores) -> scalingRows)
           else Seq.empty)
      levels.foreach { case (lv, rows) =>
        // SPARK_GRAFT_ISOLATED_LEGS=1 runs pair legs in child JVMs sized to
        // their core count (ActiveProcessorCount — see runLegIsolated): the
        // faithful executor-container analog, but each rep pays a fresh
        // JIT, which measured NOISIER than the shared-JVM default on this
        // jittery VM — so isolation is opt-in, in-JVM is the default
        val isolate = sys.env.get("SPARK_GRAFT_ISOLATED_LEGS").contains("1")
        val t =
          if (lv != cpus && isolate)
            runLegIsolated(lv, rows)
              .getOrElse(withSession(lv)(s => runSuite(s, rows)._1))
          else withSession(lv)(s => runSuite(s, rows)._1)
        System.err.println(f"[bench] suite rep $r local[$lv] × $rows rows: $t%.2f s")
        times((lv, rows)) = times((lv, rows)) :+ t
      }
    }

    val suiteSec = times((cpus, benchRows)).min
    results(s"suite_validate_${benchRows}rows") = suiteSec
    val seqPerSec = benchRows / suiteSec
    val secN = times((nCores, scalingRows)).min
    val sec4N = times((4 * nCores, scalingRows)).min
    val eff = (scalingRows / sec4N) / (4 * (scalingRows / secN))

    def str(x: String) = "\"" + x + "\""
    val qs = results.map { case (k, v) => str(k) + f":$v%.3f" }.mkString("{", ",", "}")
    val total = results.values.sum
    def arr(v: Vector[Double]) = v.map(t => f"$t%.2f").mkString("[", ",", "]")
    val allN = arr(times((nCores, scalingRows)))
    val all4N = arr(times((4 * nCores, scalingRows)))
    val scaling = f"""{"rows":$scalingRows,"n_cores":$nCores,"sec_n":$secN%.3f,"sec_4n":$sec4N%.3f,"tput_n":${scalingRows / secN}%.0f,"tput_4n":${scalingRows / sec4N}%.0f,"efficiency":$eff%.3f,"pair_reps":$pairReps,"all_n":$allN,"all_4n":$all4N}"""
    def line(queries: String, failedNames: Iterable[String]) =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec",$queries"sf":"$sfDir","validated_seq_per_sec":$seqPerSec%.0f,"suite_s":$suiteSec%.3f,"bench_rows":$benchRows,"cpus":$cpus,"reps":$reps,"batt_reps":$battReps,"failed_n":${failed.size},"failed":${failedNames.map(str).mkString("[", ",", "]")},"scaling":$scaling}"""
    // the full record (per-query map, every failed name) goes to the file;
    // stdout's last line is the compact summary, kept under 1.5 KB so a
    // reader of the output tail can parse it — failed names are listed
    // while they fit, `failed_n` always counts them all
    val full = line(s""""queries":$qs,""", failed)
    var shown = failed.toSeq
    while (line("", shown).length >= 1500) shown = shown.init
    // dedicated channels (VERDICT r3 #3): the JSON line goes to stdout RAW
    // (build.sbt's StdoutOutput strategy strips sbt's [info] prefix) AND the
    // full record to a file
    println(line("", shown))
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_result.json"),
      (full + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    if (failed.nonEmpty) sys.exit(1)
  }
}
