package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of a traced run, in epoch milliseconds. The work done
  * inside it (stage CPU, records read, shuffle, spill) is kept by the
  * `Tracer` under the span's SQL execution id or `Tracer.looseKey`. */
final case class Span(id: Int, parent: Int, run: String, name: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

/** One SQL action: its name (by the path it writes or reads), planning
  * time, and the file scans over the job's input in its executed plan. */
final case class ActionInfo(name: String, planMs: Double, inputScans: Int,
                            partsRead: Double)

/** Span recorder for a traced run. A SparkListener gives every SQL
  * execution's interval and its stages' task metrics; a
  * QueryExecutionListener gives each action's name; from the executed plan
  * the action is named by the path it writes or reads, and the file scans
  * over the input are counted. Spans stay in memory until written out.
  */
final class Tracer(spark: SparkSession, @volatile var paths: Tracer.Paths)
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val lock = new Object
  private var nextId = 0
  val spans = mutable.ArrayBuffer[Span]()
  private var run = ""
  private var root = -1

  private val execStart = mutable.Map[Long, (Double, Int)]()
  /** Execution id → (its span, the execution id of its root action). */
  private val execSpan = mutable.Map[Long, (Span, Long)]()
  private val execRoot = mutable.Map[Long, Long]()
  /** Each finished query, with the job paths in force when it ran. */
  private val queries = mutable.Map[Long, (QueryExecution, Tracer.Paths)]()
  /** The action name (`save`, `collect`, …) the QueryExecutionListener saw
    * for each query. */
  private val funcNames = new java.util.IdentityHashMap[QueryExecution, String]()
  /** Stage and job counts, keyed by SQL execution id, or by the open root
    * span's `looseKey` for work outside any SQL execution. */
  private val counts = mutable.Map[Long, mutable.Map[String, Double]]()
  private val stageOwner = mutable.Map[Int, Long]()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    Tracer.drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Opens a root span; every SQL execution until `close` hangs below it. */
  def open(name: String, runId: String): Span = lock.synchronized {
    run = runId
    val s = Span(next(), -1, runId, name, now, 0)
    spans += s
    root = s.id
    s
  }

  def close(s: Span): Unit = {
    val end = now
    Tracer.drain(spark)
    lock.synchronized {
      spans(spans.indexWhere(_.id == s.id)) = s.copy(end = end)
      root = -1
    }
  }

  /** A span around a driver-side call (an isolated layer call). */
  def timed[T](name: String, runId: String)(f: => T): T = {
    val s = open(name, runId)
    val r = f
    close(s)
    r
  }

  /** What execution `execId` read, wrote and planned. */
  def action(execId: Long): Option[ActionInfo] = lock.synchronized {
    queries.get(execId).map { case (qe, p) =>
      describe(Option(funcNames.get(qe)).getOrElse("query"), qe, p)
    }
  }

  /** The SQL executions that ran while root span `root` was open, as
    * (execution id, its span, its root action's execution id). */
  def executions(root: Int): Seq[(Long, Span, Long)] = lock.synchronized(
    execSpan.toSeq.collect { case (id, (s, r)) if s.parent == root => (id, s, r) }
      .sortBy(_._2.start))

  /** Counts of one execution, or (for `Tracer.looseKey(root)`) of the work
    * outside any execution while root span `root` was open. */
  def countsOf(key: Long): Map[String, Double] =
    lock.synchronized(counts.get(key).map(_.toMap).getOrElse(Map.empty))

  private def next(): Int = { nextId += 1; nextId }
  private def now: Double = System.currentTimeMillis().toDouble

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => lock.synchronized {
      execStart(e.executionId) = (e.time.toDouble, root)
      execRoot(e.executionId) = e.rootExecutionId.getOrElse(e.executionId)
    }
    case e: SparkListenerSQLExecutionEnd => lock.synchronized {
      PerfbenchAccess.queryOf(e).foreach(qe => queries(e.executionId) = (qe, paths))
      execStart.remove(e.executionId).foreach { case (start, parent) =>
        val s = Span(next(), parent, run, s"exec${e.executionId}", start, e.time.toDouble)
        spans += s
        execSpan(e.executionId) = (s, execRoot.getOrElse(e.executionId, e.executionId))
      }
    }
    case _ =>
  }

  private def owner(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(Tracer.looseKey(root))

  private def add(key: Long, k: String, v: Double): Unit = {
    val c = counts.getOrElseUpdate(key, mutable.Map())
    c(k) = c.getOrElse(k, 0.0) + v
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val key = owner(e.properties)
    add(key, "spark_jobs", 1)
    e.stageIds.foreach(stageOwner(_) = key)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val info = e.stageInfo
    val key = stageOwner.getOrElse(info.stageId, Tracer.looseKey(root))
    add(key, "stages", 1)
    add(key, "tasks", info.numTasks)
    val m = info.taskMetrics
    if (m != null) {
      add(key, "task_cpu_s", m.executorCpuTime / 1e9)
      add(key, "records_read", m.inputMetrics.recordsRead)
      add(key, "shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add(key, "spill_mb", m.diskBytesSpilled / 1e6)
      add(key, "mem_spill_mb", m.memoryBytesSpilled / 1e6)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    lock.synchronized(funcNames.put(qe, funcName))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    lock.synchronized(funcNames.put(qe, s"$funcName.failed"))

  private def describe(funcName: String, qe: QueryExecution,
                       paths: Tracer.Paths): ActionInfo = {
    val planMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    val plan: SparkPlan = qe.executedPlan
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    def roots(s: FileSourceScanExec): Seq[String] =
      s.relation.location.rootPaths.map(_.toString)
    val inputScans = scans.filter(s => roots(s).exists(paths.isInput))
    val partsRead = inputScans.flatMap(_.metrics.get("numPartitions")).map(_.value.toDouble)
    val written = qe.commandExecuted.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }.orElse(qe.logical.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    })
    val read = scans.flatMap(roots)
    ActionInfo(paths.name(funcName, written, read), planMs, inputScans.size,
      if (partsRead.isEmpty) 0.0 else partsRead.max)
  }
}

object Tracer {

  def looseKey(root: Int): Long = Long.MinValue + root + 1

  /** Where the job reads and writes, for naming actions. */
  final case class Paths(input: String, out: String, store: String) {
    private def norm(p: String) = p.stripPrefix("file:").replaceAll("/+$", "")
    private def under(p: String, dir: String) =
      dir.nonEmpty && (norm(p) == norm(dir) || norm(p).startsWith(norm(dir) + "/"))
    def isInput(p: String): Boolean = under(p, input)

    def name(funcName: String, written: Option[String], read: Seq[String]): String =
      written match {
        case Some(w) if under(w, s"$out/verdicts") => "verdicts_write"
        case Some(w) if under(w, s"$out/violations") => "violations_write"
        case Some(w) if under(w, store) => "stats_append"
        case Some(_) => "other_write"
        case None if read.exists(under(_, s"$out/verdicts")) => "gate_read"
        case None if read.exists(under(_, store)) || funcName == "isEmpty" => "resume_check"
        case None if funcName == "localCheckpoint" => "checkpoint"
        case None => s"other_$funcName"
      }
  }

  /** Waits until the listener bus delivered every posted event. */
  def drain(spark: SparkSession): Unit =
    PerfbenchAccess.drain(spark.sparkContext)

  /** Total length of the union of intervals. */
  def covered(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
