package graft

import scala.collection.mutable

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.run.Suite

import Harness.spark

/** The spark-submit entry point end-to-end on local dirs: outputs written,
  * exit codes, resume skip, and the job's shape — which actions scan the
  * input and which read back outputs. (Harness's session is what
  * getOrCreate returns in-JVM, so SubmitJob.run drives the same engine the
  * cluster job would.) */
class SubmitJobSpec extends AnyFunSuite {
  import SubmitJobSpec._


  test("SubmitJob validates, writes outputs, gates exit code, resumes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-submit").toString
    graft.data.SequenceGen.sequences(spark, 20000L, 4)
      .write.mode("overwrite").partitionBy("part").parquet(s"$dir/input")
    graft.data.SequenceGen.dimSources(spark)
      .write.mode("overwrite").parquet(s"$dir/dim")

    val args = Array(
      "--input", s"$dir/input", "--dim", s"$dir/dim",
      "--out", s"$dir/out", "--store", s"$dir/store")

    // generated data has injected violations → exit 1, outputs present
    val actions = new Actions
    val jobs = new Jobs
    ListenerBusAccess.drain(spark.sparkContext)
    spark.listenerManager.register(actions)
    spark.sparkContext.addSparkListener(jobs)
    val exit = try SubmitJob.run(args) finally {
      ListenerBusAccess.drain(spark.sparkContext)
      spark.listenerManager.unregister(actions)
      spark.sparkContext.removeSparkListener(jobs)
    }
    assert(exit == 1)
    val verdicts = spark.read.parquet(s"$dir/out/verdicts")
    assert(verdicts.where(!col("pass")).count() > 0)
    val violationCount = spark.read.parquet(s"$dir/out/violations").count()
    assert(violationCount > 0)
    val verdictCount = verdicts.count()

    // job shape: one full-width scan of the input; after the violations
    // write nothing scans the input; nothing reads the verdicts back
    def under(p: String, d: String) = p.stripPrefix("file:").startsWith(d)
    val seen = actions.seen.toSeq
    val inputScans = seen.map(_.scans.filter(_._1.exists(under(_, s"$dir/input"))))
    assert(inputScans.flatten.count(_._2.contains("tokens")) == 1,
      s"full-width input scans: ${inputScans.flatten}")
    val vioWrite = seen.indexWhere(_.writes.exists(under(_, s"$dir/out/violations")))
    assert(vioWrite >= 0, s"no violations write among $seen")
    assert(inputScans.drop(vioWrite + 1).forall(_.isEmpty),
      s"an action after the violations write scans the input: $seen")
    assert(!seen.exists(_.scans.exists(_._1.exists(under(_, s"$dir/out/verdicts")))),
      s"an action reads the verdicts back: $seen")

    // the drift violation rows reach the violations write as local rows
    // computed on the driver: no Exchange there aggregates the drift cube
    val driftRows = spark.read.parquet(s"$dir/out/violations")
      .where(col("constraint_id").startsWith("dataset/drift:")).count()
    assert(driftRows > 0)
    assert(seen(vioWrite).localIds.count(_.startsWith("dataset/drift:")) == driftRows,
      s"drift violations are not a LocalTableScan of the write: ${seen(vioWrite)}")
    assert(seen(vioWrite).cubeExchanges == 0, s"an Exchange aggregates the cube: ${seen(vioWrite)}")
    // this run took 34 Spark jobs while the drift math ran as distributed
    // DataFrame algebra, 18 with it on the driver
    assert(jobs.started.get < 34, s"${jobs.started.get} Spark jobs")

    // the written verdicts are the suite's verdicts on the same input
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    val expected = Suite.validateSequences(spark.read.parquet(s"$dir/input"),
      spark.read.parquet(s"$dir/dim")).orderedVerdicts
    assert(rows(verdicts.orderBy("part", "rank").drop("rank", "run_epoch")) == rows(expected))

    // second invocation: everything checkpointed → nothing to do, exit 0,
    // outputs NOT duplicated
    assert(SubmitJob.run(args) == 0)
    assert(spark.read.parquet(s"$dir/out/verdicts").count() == verdictCount)
    assert(spark.read.parquet(s"$dir/out/violations").count() == violationCount)

    // bad usage
    assert(SubmitJob.run(Array("--input", "x")) == 2)
  }
}

object SubmitJobSpec {
  final case class Action(writes: Option[String], scans: Seq[(Seq[String], Seq[String])],
                          localIds: Seq[String], cubeExchanges: Int)

  /** Every action a job runs, in order: the path it writes (if any), its
    * file scans as (root paths, read schema field names), the
    * `constraint_id`s of its LocalTableScan rows, and its Exchanges over a
    * plan that outputs the drift cube's bucket column `_b0`. */
  final class Actions extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    val seen = mutable.ArrayBuffer[Action]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val written = (qe.commandExecuted +: qe.logical +: Nil).flatMap(_.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
      }).headOption
      val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec =>
        (s.relation.location.rootPaths.map(_.toString), s.requiredSchema.fieldNames.toSeq)
      }
      val localIds = collectWithSubqueries(qe.executedPlan) { case l: LocalTableScanExec =>
        val i = l.output.indexWhere(_.name == "constraint_id")
        if (i < 0) Nil else l.rows.map(_.getUTF8String(i).toString)
      }.flatten
      val cubeExchanges = collectWithSubqueries(qe.executedPlan) {
        case e: Exchange if e.exists(_.output.exists(_.name == "_b0")) => e
      }.size
      synchronized(seen += Action(written, scans, localIds, cubeExchanges))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Counts the Spark jobs started while registered. */
  final class Jobs extends SparkListener {
    val started = new java.util.concurrent.atomic.AtomicInteger
    override def onJobStart(jobStart: SparkListenerJobStart): Unit = started.incrementAndGet()
  }
}
