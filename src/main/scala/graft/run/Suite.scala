package graft.run

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.compile.Compiler
import graft.data.SequenceGen
import graft.dataset.CrossRow
import graft.drift.Drift
import graft.spec.{Spec, SpecJson, SpecParser}
import graft.stats.{Metrics, ValidationStateStore}

/** The full north-star validation job over a tokenized-sequence table:
  * row-level spec checks (+ n_tok==size(tokens) consistency and the source
  * referential check in the same pass), doc_id uniqueness (salted
  * two-stage), KL/PSI drift of n_tok and source — unioned into one
  * violation frame (SURVEY.md §3.4 plan sketch). The verdicts are a pure
  * function of those violations (`Planned.verdictsOf`), as the reference's
  * result status is a function of its error list (validator.cr:20-27).
  *
  * Scan budget (at scale each is column-pruned to what it needs):
  *   1. row checks — full width, zero shuffle; the FK check rides the same
  *      scan as a broadcast left-outer match against the distinct dim keys
  *   2. uniqueness — (doc_id, part) only: hash detection + candidate fetch
  *      (two scans, 8 B/row exchange; see CrossRow.uniqueness)
  *   3. drift histograms — (n_tok, source, part) only: ONE cube
  *      `groupBy(part, buckets…)` collected by `plan`, its one action; both
  *      dimensions' divergences and the per-part verdict totals are computed
  *      from it on the driver and ride as local frames, costing no stage
  *   Verdicts count the violation rows per (part, rank) and join them onto
  *   the cube's totals × the static constraint catalog: forcing the verdicts
  *   of the planned frames reads the table once (row pass; uniqueness rides
  *   its checkpoint), and a sink that derives them from the violations it
  *   wrote reads no table at all.
  *
  * Fault-tolerance note: the uniqueness candidates are `localCheckpoint`ed —
  * blocks live on executors, so losing one mid-job fails the job instead of
  * recomputing from lineage. That is the deliberate trade here: the engine's
  * recovery unit is the RESUMABLE RUN (`resumableRun` skips
  * already-validated partitions on restart), not RDD lineage replay, and the
  * checkpointed frame is dup-set-sized (cheap to redo), while keeping its
  * lineage would re-execute the detection pipeline from the source scan on
  * EVERY action, every run. The drift results live on the driver.
  */
object Suite {

  final case class Config(
      docId: String = "doc_id",
      part: String = "part",
      source: String = "source",
      nTok: String = "n_tok",
      tokens: String = "tokens",
      klThreshold: Double = 0.05,
      nTokBucketWidth: Double = 8.0)

  /** A planned suite: its lazy violation frame, and the pure function that
    * derives the verdicts from any frame of those violations — the lazy
    * frame itself (`validation`), or the rows a sink wrote and read back. */
  final case class Planned(violations: DataFrame, verdictsOf: DataFrame => DataFrame) {
    def validation: Validation = Validation(verdictsOf(violations), violations)
  }

  /** Plans the suite over `df`. Runs one Spark action, the drift cube
    * collect; every other frame stays lazy. */
  def plan(df: DataFrame, dim: DataFrame,
           spec: Spec = SpecParser.parse(SequenceGen.SeqSpecJson),
           cfg: Config = Config()): Planned = {
    val consistency = CrossRow.consistency(
      s"${cfg.nTok}=size(${cfg.tokens})",
      col(cfg.nTok) === size(col(cfg.tokens)),
      col(cfg.nTok))
    // the checks compile against the INPUT schema; the FK match column the
    // broadcast join adds is no property of the validated rows
    val (marked, fk) = CrossRow.referentialCheck(df, cfg.source, dim, cfg.source)
    val checks = Compiler.compile(spec, df.schema) :+ consistency :+ fk

    // both drift dimensions and the per-part totals come from ONE collected
    // cube, computed on the driver (see Drift.divergences)
    val dims = Seq(
      (cfg.nTok, Drift.widthBucket(col(cfg.nTok), cfg.nTokBucketWidth), cfg.klThreshold),
      (cfg.source, col(cfg.source), cfg.klThreshold))
    val (divs, totals) = Drift.divergences(df, dims, cfg.part)

    val row = Validator.violationFrame(marked, checks, col(cfg.docId), col(cfg.part))
    val uniq = CrossRow.uniqueness(df, cfg.docId, cfg.part)
    val drifts = Drift.validations(divs, dims)
    val catalog = checks.map(c => c.rank -> c.id) ++
      Seq(CrossRow.BaseRank -> CrossRow.uniqueId(cfg.docId)) ++
      dims.indices.map(i => (Drift.BaseRank + i) -> Drift.id(dims(i)._1))
    Planned(
      (row +: (uniq +: drifts).map(_.violations)).reduce(_ unionByName _),
      CrossRow.verdictsFromViolations(totals, _, catalog))
  }

  def validateSequences(df: DataFrame, dim: DataFrame,
                        spec: Spec = SpecParser.parse(SequenceGen.SeqSpecJson),
                        cfg: Config = Config()): Validation =
    plan(df, dim, spec, cfg).validation

  /** Checkpointed run: skip already-validated partitions (resume), validate
    * the remainder, then — only after `sink` has MATERIALIZED the results —
    * append their stats sketches to the metrics store.
    *
    * Ordering matters: appending to the store is what marks a partition
    * validated, and the result frames are lazy. Appending before the caller
    * executed them would let a crash mid-run permanently mark
    * never-validated partitions complete (a later resume would silently skip
    * them). `sink` is the caller's terminal action (write verdicts +
    * violations somewhere durable); the default forces full evaluation of
    * both frames.
    *
    * The stats sketches are computed (and checkpointed) FIRST: their
    * emptiness is the resume check, so no separate probe scans the input,
    * and a fully checkpointed run never reaches `plan`'s cube collect. Every
    * action after the sink reads only what the run wrote or checkpointed. */
  def resumableRun(df: DataFrame, dim: DataFrame, store: ValidationStateStore,
                   spec: Spec = SpecParser.parse(SequenceGen.SeqSpecJson),
                   cfg: Config = Config(),
                   runEpoch: Long = System.currentTimeMillis(),
                   sink: Planned => Unit = defaultSink): Option[Validation] = {
    val specHash = SpecJson.hash(spec)
    val todo = store.remaining(df, specHash, cfg.part)
    val stats = Metrics.partitionStats(todo, cfg.part, cfg.docId, cfg.nTok, cfg.source)
      .localCheckpoint()
    if (stats.isEmpty) return None
    val planned = plan(todo, dim, spec, cfg)
    sink(planned) // validation executes HERE; an exception skips the append
    store.append(stats, specHash, runEpoch)
    Some(planned.validation)
  }

  /** Forces both result frames (smallest terminal action that proves the
    * validation ran); real deployments pass a durable writer instead. */
  private def defaultSink(p: Planned): Unit = {
    val v = p.validation
    v.verdicts.agg(sum(col("violations"))).collect()
    v.violations.write.format("noop").mode("overwrite").save()
  }
}
