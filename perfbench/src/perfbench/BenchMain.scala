package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SubmitJob
import graft.data.SequenceGen
import graft.run.Validator
import graft.spec.{Spec, SpecJson, SpecParser}
import graft.stats.{Metrics, MetricsStore}

/** The benchmark's JVM side. `perfbench/run.py` launches it once per run:
  *
  *   warm  — set up a session (timed from JVM start), generate the input,
  *           run this JVM's first job (the cold job), then
  *           timed jobs in a closed loop — each starts when the previous one
  *           ended — for the given seconds;
  *   trace — the same job with span recording, interleaved with untraced
  *           jobs for the overhead figure, plus isolated calls into each
  *           layer on the same input (see `Traced`).
  *
  * It writes one JSON result file; run.py checks every job's output with an
  * independent DuckDB oracle and derives the reported metrics.
  */
object BenchMain {

  final case class Opts(mode: String, workload: String, seed: Long, shape: Inputs.Shape,
                        data: String, work: String, seconds: Double, threads: Int,
                        result: String, minJobs: Int, failJob: Int)

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val o = Opts(kv("mode"), kv("workload"), kv("seed").toLong,
      Inputs.Shape(kv("rows").toLong, kv("parts").toInt), kv("data"), kv("work"),
      kv.getOrElse("seconds", "0").toDouble, kv.getOrElse("threads", "4").toInt,
      kv("result"), kv.getOrElse("min_jobs", "1").toInt, kv.getOrElse("fail_job", "0").toInt)
    val code = try {
      o.mode match {
        case "warm" => warm(o)
        case "trace" => Traced.run(o)
        case other => throw new IllegalArgumentException(s"unknown mode $other")
      }
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    sys.exit(code)
  }

  /** The session a deployed `SubmitJob` builds (same extensions, AQE and
    * time zone); `SubmitJob.run` then reuses it through getOrCreate. */
  def session(threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft-validate")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def jvmStartMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Fixed single-thread integer work; its time is the run's noise signal
    * (a slow or contended window shows as a larger value). Median of three. */
  def cpuCalib(): Double = {
    val times = (1 to 3).map { r =>
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L + r
      var acc = 0L
      var i = 0
      while (i < 50000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += x & 0xff
        i += 1
      }
      if (acc == 42) println("") // keeps the loop live
      (System.nanoTime() - t0) / 1e9
    }
    times.sorted.apply(1)
  }

  /** Generates the run's input (the incremental workload also gets a store
    * template that already covers every partition but the last) and
    * returns the seconds it took. Every run generates, so every run's cold
    * job follows the same work. */
  def generateInput(spark: SparkSession, o: Opts, spec: Spec): Double = {
    val t0 = System.nanoTime()
    Inputs.generate(spark, o.workload, o.seed, o.shape, o.data)
    if (o.workload == "submit_incremental") {
      val df = spark.read.parquet(s"${o.data}/input")
      MetricsStore(s"${o.data}/store_template").append(
        Metrics.partitionStats(df.where(col("part") =!= newPart(df))), SpecJson.hash(spec), 1L)
    }
    (System.nanoTime() - t0) / 1e9
  }

  def newPart(df: DataFrame): String =
    df.select(max(col("part"))).head().getString(0)

  /** The rows a job validates: everything, or the one new partition. */
  def validated(spark: SparkSession, o: Opts): DataFrame = {
    val df = spark.read.parquet(s"${o.data}/input")
    if (o.workload == "submit_incremental") df.where(col("part") === newPart(df)) else df
  }

  def bytesUnder(p: String): Long = {
    val f = new File(p)
    if (!f.exists()) 0L
    else Files.walk(f.toPath).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  final case class JobRun(i: Int, exit: Int, wallS: Double, cpuS: Double, gcS: Double,
                          out: String, store: String, storeBaseBytes: Long, error: String) {
    def json: String = Json.obj(
      "i" -> i, "exit" -> exit, "wall_s" -> wallS, "cpu_s" -> cpuS, "gc_s" -> gcS,
      "out" -> out, "store" -> store, "store_base_bytes" -> storeBaseBytes, "error" -> error)
  }

  /** The job under test for a workload, with fresh output directories. */
  final class Job(spark: SparkSession, o: Opts, spec: Spec) {

    /** Untimed preparation: fresh dirs; the incremental store is restored
      * to cover every partition but the last. */
    def prepare(tag: String): (String, String, Long) = {
      val dir = s"${o.work}/$tag"
      val out = s"$dir/out"
      val store = s"$dir/store"
      new File(dir).mkdirs()
      if (o.workload == "submit_incremental") copyTree(s"${o.data}/store_template", store)
      (out, store, bytesUnder(store))
    }

    /** Runs one job; the return value is its exit code. Job `o.failJob`
      * is pointed at a missing input, to show that a failing job is counted
      * as failed and never as a timing. */
    def run(i: Int, out: String, store: String): Int = {
      val input = if (o.failJob > 0 && i == o.failJob) s"${o.data}/missing" else s"${o.data}/input"
      o.workload match {
        case "json_runtime" => JsonJob.run(spark, input, out, spec)
        case _ =>
          SubmitJob.run(Array("--input", input, "--dim", s"${o.data}/dim",
            "--out", out, "--store", store))
      }
    }

    /** `before` runs untimed, after the directories are prepared. */
    def timed(i: Int, tag: String,
              before: (String, String) => Unit = (_, _) => ()): JobRun = {
      val (out, store, base) = prepare(tag)
      before(out, store)
      val c0 = cpuNs
      val g0 = gcMs
      val t0 = System.nanoTime()
      val (exit, err) =
        try (run(i, out, store), "")
        catch { case e: Throwable => (-1, s"${e.getClass.getName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      JobRun(i, exit, wall, (cpuNs - c0) / 1e9, (gcMs - g0) / 1e3, out, store, base, err)
    }
  }

  /** Session + parsed spec: the set-up every run of the job pays, timed
    * from JVM start. */
  def setUp(threads: Int): (SparkSession, Spec, Double) = {
    val spark = session(threads)
    val spec = SpecParser.parse(SequenceGen.SeqSpecJson)
    (spark, spec, (System.currentTimeMillis() - jvmStartMs) / 1e3)
  }

  private def warm(o: Opts): Unit = {
    val (spark, spec, setupS) = setUp(o.threads)
    val genS = generateInput(spark, o, spec)
    val job = new Job(spark, o, spec)
    // this JVM's first job: with the set-up before it, what a fresh
    // spark-submit of the job pays (input generation aside)
    val cold = job.timed(0, "cold")
    val calib = cpuCalib()
    val jobs = scala.collection.mutable.ArrayBuffer[JobRun]()
    val t0 = System.nanoTime()
    while (jobs.size < o.minJobs || (System.nanoTime() - t0) / 1e9 < o.seconds)
      jobs += job.timed(jobs.size + 1, s"job${jobs.size + 1}")
    val measuredS = (System.nanoTime() - t0) / 1e9
    Files.writeString(Paths.get(o.result), Json.obj(
      "setup_s" -> setupS, "gen_s" -> genS, "cold_job_s" -> (setupS + cold.wallS),
      "cpu_calib_s" -> calib,
      "measured_s" -> measuredS, "peak_rss_mb" -> peakRssMb,
      "jobs" -> Json.raw((cold +: jobs).map(_.json).mkString("[", ",", "]"))))
    stopSession(spark)
  }
}

/** The `json_runtime` job: dynamic-JSON validation of the `json` column,
  * verdicts and violations written as parquet like SubmitJob's sinks. */
object JsonJob {
  def run(spark: SparkSession, input: String, out: String, spec: Spec): Int = {
    val v = Validator.validateJson(spark.read.parquet(input), spec, "json")
    v.verdicts.write.mode("append").parquet(s"$out/verdicts")
    v.violations.write.mode("append").parquet(s"$out/violations")
    0
  }
}

/** Minimal JSON writer for flat result records. */
object Json {
  final case class Raw(s: String)
  def raw(s: String): Raw = Raw(s)
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => str(k) + ":" + value(v) }
    .mkString("{", ",", "}")
}
