package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.compile.{Compiler, VariantCompiler}
import graft.data.SequenceGen
import graft.dataset.CrossRow
import graft.drift.Drift
import graft.run.{Suite, Validator}
import graft.spec.{SpecJson, SpecParser}
import graft.stats.{Metrics, MetricsStore}

import BenchMain._

/** The traced run: untraced and traced jobs interleaved (for the overhead
  * figure), per-action spans of the traced jobs, then isolated calls into
  * each layer on the input the job validates. Writes the per-layer metrics
  * and every span (with its self time) to files under the work directory.
  */
object Traced {

  private def abs(p: String): String = new File(p).getAbsolutePath

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median wall seconds of `reps` calls. */
  private def medianOf(reps: Int)(f: => Any): Double =
    median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    })

  /** Writes a frame to the noop sink, returning its row count. */
  private def noopCount(df: DataFrame): Long = {
    val obs = Observation("rows")
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  /** Per-layer metrics of one traced job, from its spans. */
  private def jobMetrics(t: Tracer, root: Span, r: JobRun, rows: Long,
                         threads: Int): Map[String, Double] = {
    val execs = t.executions(root.id)
    val top = execs.filter { case (id, _, rootId) => rootId == id }
    val infos = execs.flatMap(e => t.action(e._1))
    def total(k: String): Double =
      (execs.map(_._1) :+ Tracer.looseKey(root.id)).map(t.countsOf(_).getOrElse(k, 0.0)).sum
    def actionS(name: String): Double =
      top.filter(e => t.action(e._1).exists(_.name == name)).map(_._2.dur).sum / 1e3
    val taskCpu = total("task_cpu_s")
    Map(
      "submit.actions" -> top.size.toDouble,
      "submit.spark_jobs" -> total("spark_jobs"),
      "submit.verdicts_write_s" -> actionS("verdicts_write"),
      "submit.violations_write_s" -> actionS("violations_write"),
      "submit.stats_append_s" -> actionS("stats_append"),
      "submit.gate_read_s" -> actionS("gate_read"),
      "submit.resume_check_s" -> actionS("resume_check"),
      "submit.checkpoint_s" -> actionS("checkpoint"),
      "submit.driver_gap_s" ->
        (root.dur - Tracer.covered(top.map(e => (e._2.start, e._2.end)))) / 1e3,
      "scan.input_scans" -> infos.map(_.inputScans).sum.toDouble,
      "scan.read_amplification" -> total("records_read") / math.max(rows, 1L),
      "scan.parts_read" -> (if (infos.isEmpty) 0.0 else infos.map(_.partsRead).max),
      "spark.plan_ms" -> infos.map(_.planMs).sum,
      "spark.stages" -> total("stages"),
      "spark.tasks" -> total("tasks"),
      "spark.task_cpu_s" -> taskCpu,
      "spark.shuffle_write_mb" -> total("shuffle_write_mb"),
      "spark.spill_mb" -> total("spill_mb"),
      "spark.core_util" -> taskCpu / (r.wallS * threads),
      "jvm.gc_s" -> r.gcS)
  }

  def run(o: Opts): Unit = {
    val (spark0, spec, setupS) = setUp(o.threads)
    var spark = spark0
    val genS = generateInput(spark, o, spec)
    val input = abs(s"${o.data}/input")
    val df = validated(spark, o)
    val rows = df.count()
    val calib = cpuCalib()
    val job = new Job(spark, o, spec)
    val warmup = job.timed(0, "warmup")

    // traced, untraced, traced: the pair's mean cancels the JIT warm-up
    // trend between consecutive jobs in the overhead figure
    val tracer = new Tracer(spark, Tracer.Paths(input, "", ""))
    val plain = mutable.ArrayBuffer[JobRun]()
    val traced = mutable.ArrayBuffer[(JobRun, Span)]()
    for (k <- 1 to 3) {
      if (k == 2) plain += job.timed(k, s"plain$k")
      else {
        var root: Span = null
        val r = job.timed(k, s"traced$k", (out, store) => {
          tracer.paths = Tracer.Paths(input, abs(out), abs(store))
          tracer.attach()
          root = tracer.open("job", s"traced$k")
        })
        tracer.close(root)
        tracer.detach()
        traced += ((r, tracer.spans.find(_.id == root.id).get))
      }
    }
    val perJob = traced.map { case (r, s) => jobMetrics(tracer, s, r, rows, o.threads) }
    val layers = mutable.LinkedHashMap[String, Double]()
    perJob.head.keys.foreach(k => layers(k) = median(perJob.map(_(k)).toSeq))
    layers("trace.overhead_frac") =
      median(traced.map(_._1.wallS).toSeq) / median(plain.map(_.wallS).toSeq) - 1

    // isolated calls into each layer, on the rows the job validates
    tracer.paths = Tracer.Paths(input, "", "")
    tracer.attach()
    def layer[T](name: String)(f: => T): T = tracer.timed(name, "layers")(f)
    def timeS(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      layer(name)(f)
      layers(name) = (System.nanoTime() - t0) / 1e9
    }
    layers("spec.parse_ms") =
      layer("spec.parse")(medianOf(50)(SpecParser.parse(SequenceGen.SeqSpecJson))) * 1e3
    val typedSchema = SequenceGen.sequences(spark, 1).schema
    layers("compile.typed_ms") =
      layer("compile.typed")(medianOf(20)(Compiler.compile(spec, typedSchema))) * 1e3
    layers("compile.checks") = Compiler.compile(spec, typedSchema).size.toDouble
    layers("compile.variant_ms") = layer("compile.variant")(
      medianOf(20)(VariantCompiler.compileStaged(spec, col("_variant")))) * 1e3
    layers("compile.staged_cols") =
      VariantCompiler.compileStaged(spec, col("_variant"))._1.size.toDouble

    val notRun = mutable.LinkedHashSet[String]()
    if (o.workload == "json_runtime") {
      timeS("scan.input_s")(df.select("doc_id", "json").write.format("noop")
        .mode("overwrite").save())
      var vioRows = 0L
      timeS("validator.json_s") {
        val v = Validator.validateJson(df, spec, "json")
        v.verdicts.collect()
        vioRows = noopCount(v.violations)
      }
      layers("validator.violation_rows") = vioRows.toDouble
      notRun ++= Seq("suite.plan_ms", "suite.verdicts_s", "validator.project_s",
        "validator.verdicts_s", "validator.violations_s", "crossrow.uniqueness_s",
        "crossrow.candidate_rows", "crossrow.candidate_yield", "crossrow.referential_s",
        "drift.cube_s", "drift.cube_rows", "stats.partition_stats_s", "stats.append_s",
        "stats.completed_parts_ms", "stats.store_mb", "spark.scaling_eff_1v4")
    } else {
      val dim = spark.read.parquet(s"${o.data}/dim")
      val consistency = CrossRow.consistency("n_tok=size(tokens)",
        col("n_tok") === size(col("tokens")), col("n_tok"))
      timeS("scan.input_s")(df.select("doc_id", "tokens", "n_tok", "source")
        .write.format("noop").mode("overwrite").save())
      timeS("suite.plan_ms")(Suite.validateSequences(df, dim, spec))
      layers("suite.plan_ms") *= 1e3
      timeS("suite.verdicts_s")(Suite.validateSequences(df, dim, spec)
        .verdicts.agg(sum(col("violations"))).collect())
      val checks = Compiler.compile(spec, df.schema) :+ consistency
      timeS("validator.project_s")(df.select(checks.map(_.pass): _*)
        .write.format("noop").mode("overwrite").save())
      val v = Validator.validate(df, spec, "doc_id", Some("part"), Vector(consistency))
      timeS("validator.verdicts_s")(v.verdicts.collect())
      var vioRows = 0L
      timeS("validator.violations_s") { vioRows = noopCount(v.violations) }
      layers("validator.violation_rows") = vioRows.toDouble
      var uniqRows = 0L
      timeS("crossrow.uniqueness_s") {
        val u = CrossRow.uniqueness(df, "doc_id", "part")
        u.verdicts.collect()
        uniqRows = noopCount(u.violations)
      }
      // rows whose key hash occurs more than once: what the uniqueness
      // check fetches as candidates before its exact re-count
      val candidates = df.groupBy(xxhash64(col("doc_id")).as("h")).count()
        .where(col("count") > 1).agg(sum(col("count"))).head()
      val candRows = if (candidates.isNullAt(0)) 0L else candidates.getLong(0)
      layers("crossrow.candidate_rows") = candRows.toDouble
      layers("crossrow.candidate_yield") =
        if (candRows == 0) 0.0 else uniqRows.toDouble / candRows
      timeS("crossrow.referential_s") {
        val r = CrossRow.referential(df, "source", dim, "source")
        r.verdicts.collect()
        noopCount(r.violations)
      }
      val dims = Seq(
        ("n_tok", Drift.widthBucket(col("n_tok"), 8.0), 0.05),
        ("source", col("source"), 0.05))
      var cubeRows = 0
      timeS("drift.cube_s") { cubeRows = Drift.cube(df, dims, "part").collect().length }
      layers("drift.cube_rows") = cubeRows.toDouble
      timeS("stats.partition_stats_s")(Metrics.partitionStats(df).collect())
      val stats = Metrics.partitionStats(df).localCheckpoint()
      val hash = SpecJson.hash(spec)
      timeS("stats.append_s")(
        MetricsStore(abs(s"${o.work}/layer_store")).append(stats, hash, 1L))
      val jobStore = traced.last._1.store
      layers("stats.completed_parts_ms") = layer("stats.completed_parts")(
        medianOf(3)(MetricsStore(jobStore).completedParts(spark, hash))) * 1e3
      layers("stats.store_mb") = (bytesUnder(jobStore) - traced.last._1.storeBaseBytes) / 1e6
      notRun ++= Seq("validator.json_s")
    }
    tracer.detach()

    if (o.workload == "submit_full") {
      // 1 thread against 4 (at most the machine's cores), each in a fresh
      // session, on the old headline's forcing (the suite verdicts)
      val many = math.min(4, Runtime.getRuntime.availableProcessors)
      def suiteS(threads: Int): Double = {
        stopSession(spark)
        spark = session(threads)
        val d = validated(spark, o)
        val dim = spark.read.parquet(s"${o.data}/dim")
        medianOf(1)(Suite.validateSequences(d, dim, spec)
          .verdicts.agg(sum(col("violations"))).collect())
      }
      val one = suiteS(1)
      val all = suiteS(many)
      layers("spark.scaling_eff_1v4") = one / (many * all)
    } else notRun += "spark.scaling_eff_1v4"

    layers("env.cpu_calib_s") = calib
    layers("bench.gen_s") = genS
    notRun.foreach(k => layers.getOrElseUpdate(k, 0.0))

    val spansFile = s"${o.work}/spans.jsonl"
    writeSpans(tracer, spansFile)
    val jobs = (warmup +: (plain ++ traced.map(_._1))).sortBy(_.i)
    Files.writeString(Paths.get(o.result), Json.obj(
      "setup_s" -> setupS, "gen_s" -> genS, "cpu_calib_s" -> calib,
      "validated_rows" -> rows, "peak_rss_mb" -> peakRssMb,
      "layers" -> layers.toMap, "not_run" -> notRun.toSeq, "spans" -> spansFile,
      "jobs" -> Json.raw(jobs.map(_.json).mkString("[", ",", "]"))))
    stopSession(spark)
  }

  /** One JSON line per span: execution spans are named by their action,
    * and each span carries its self time (duration minus what its child
    * spans cover). */
  private def writeSpans(t: Tracer, file: String): Unit = {
    val byParent = t.spans.groupBy(_.parent)
    val execName = "exec(\\d+)".r
    val lines = t.spans.sortBy(_.start).map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq
      val (name, counts) = s.name match {
        case execName(id) =>
          (t.action(id.toLong).map(_.name).getOrElse(s.name), t.countsOf(id.toLong))
        case n => (n, t.countsOf(Tracer.looseKey(s.id)))
      }
      Json.obj("id" -> s.id, "parent" -> s.parent, "run" -> s.run, "name" -> name,
        "start_ms" -> s.start, "end_ms" -> s.end, "dur_ms" -> s.dur,
        "self_ms" -> (s.dur - Tracer.covered(kids)), "counts" -> counts)
    }
    Files.writeString(Paths.get(file), lines.mkString("", "\n", "\n"))
  }
}
