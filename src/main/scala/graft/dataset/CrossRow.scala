package graft.dataset

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.compile.CompiledCheck
import graft.run.Validation

/** Cross-row constraints — the operators the north rule adds on top of the
  * reference's single-value semantics (SURVEY.md §2.8): key uniqueness,
  * referential integrity, cross-field consistency. Output frames share the
  * Validator verdict/violation schemas so they union with row-level results.
  *
  * Scale design:
  *  - Uniqueness is a SALTED TWO-STAGE count: stage 1 computes partial
  *    counts per (key, salt) where the salt boundary is the input partition
  *    — a hot key contributes at most one partial row per input partition —
  *    and stage 2 sums the partials after the one key-hash exchange. See
  *    `duplicateKeys` for why the salt stage needs NO exchange of its own.
  *    The duplicate set (cnt > 1) is tiny relative to the table, so the
  *    join back to rows is AQE-broadcastable and skew-safe.
  *  - Referential integrity is a BROADCAST join against the dimension
  *    table (small by construction) — no shuffle of the fact side, immune to
  *    hot-value skew. `referentialCheck` marks rows for the row pass;
  *    `referential` is the standalone left-anti form of the same predicate.
  */
object CrossRow {

  /** Cross-row checks rank after all row-level checks in golden ordering. */
  val BaseRank = 1000

  /** The ONE dup-hash detection definition shared by `duplicateKeys` and
    * `dupCandidates`: (projected row frame incl. `_kh`, the >1-hash set).
    * NULL keys never collide (SQL `UNIQUE` semantics), so they are dropped
    * here — `xxhash64(NULL)` is the seed, which would otherwise alias every
    * NULL key onto one "duplicated" hash. */
  private def dupHashDetection(df: DataFrame, key: String,
                               extra: Seq[Column]): (DataFrame, DataFrame) = {
    val hashed = df.where(col(key).isNotNull)
      .select(extra :+ col(key) :+ xxhash64(col(key)).as("_kh"): _*)
    val dupHashes = hashed.select(col("_kh"))
      .groupBy(col("_kh"))
      .agg(count(lit(1)).as("_hc"))
      .where(col("_hc") > 1)
      .select(col("_kh"))
    (hashed, dupHashes)
  }

  /** (key, cnt) for keys occurring more than once — salted two-stage agg.
    *
    * Hash-first: stage 1+2 aggregate on `xxhash64(key)` (8 bytes shuffled
    * per row instead of the full key), then the tiny >1 hash set joins back
    * to real keys and is re-counted EXACTLY — a 64-bit collision can only
    * send a unique key into the re-check, never corrupt a count.
    *
    * Where the SALT lives: the input's file-split partitioning is already a
    * random partitioning w.r.t. the key — i.e. the salted repartition has
    * already happened at the scan — so stage 1 (per-salt-group partial
    * counts) is the HashAggregate PARTIAL mode running inside each input
    * partition, and stage 2 (sum of partials) is the FINAL mode after the
    * single exchange on the key hash. A hot key still contributes at most
    * one pre-counted row per input partition to the exchange — identical
    * skew safety to an explicit `groupBy(key, salt)` pre-stage. An earlier
    * formulation materialized the salt as a `spark_partition_id()` column
    * and paid a second full-data exchange on (key, salt) for groups that
    * were already partition-local: measured at 10⁷ rows that shape costs
    * 8.4 s / 663 CPU-s vs 5.1 s / 342 CPU-s for this one, same output.
    * NULL keys are never reported (see `dupHashDetection`). */
  def duplicateKeys(df: DataFrame, key: String): DataFrame = {
    val (hashed, dupHashes) = dupHashDetection(df, key, Seq.empty)
    // exact re-count over only the candidate keys (dup set ≪ table; AQE
    // broadcasts the hash set at runtime)
    hashed.join(dupHashes, Seq("_kh"))
      .groupBy(col(key))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)
  }

  /** Per-part row totals, the denominators of a check's verdicts. */
  def partTotals(df: DataFrame, part: String = "part"): DataFrame =
    df.groupBy(col(part).as("part")).agg(count(lit(1)).as("total"))

  /** Candidate rows for the uniqueness check: every (part, key) row whose
    * key HASH occurs more than once — i.e. the exact-recount input and the
    * violation rows in one fetch. Derivation shares `duplicateKeys`' shape
    * (8 B/row detection exchange, then one row-fetch scan probing the
    * broadcast dup-hash set); output is dup-set-sized ≪ table. Exposed
    * un-checkpointed so PlanSpec can gate pruning + the single `_kh`
    * exchange on the real build plan. */
  private[graft] def dupCandidates(df: DataFrame, key: String, part: String): DataFrame = {
    val (hashed, dupHashes) = dupHashDetection(df, key, Seq(col(part).as("part")))
    hashed.join(dupHashes, Seq("_kh")).select(col("part"), col(key))
  }

  /** Validation frames for "every `key` value occurs exactly once".
    *
    * Normal regime (dup set ≪ table): the exact re-count and the violation
    * join-back are FUSED into one candidate-row fetch (`dupCandidates`) —
    * two input scans total (hash detection + row fetch) instead of three,
    * and the fetch is lazily `localCheckpoint`ed, so the verdicts and
    * violations actions both re-read the tiny materialized candidate frame
    * instead of re-running the detection pipeline from the source scan
    * (checkpoint blocks are freed by the ContextCleaner when the frame is
    * GC'd). Exactness is unchanged: candidates are keyed by 64-bit-hash
    * membership, then `groupBy(key)` re-counts REAL keys — a collision can
    * only send a unique key into the re-check (filtered by `cnt > 1`),
    * never corrupt a count.
    *
    * `checkpointDups` is the DEGENERATE-dup-set escape hatch: if most keys
    * are duplicated (table-scale dup set) the candidate frame is table-scale
    * too — materializing it would be the bug — so this path keeps the
    * unfused shape: eagerly checkpoint only the dup KEY set and join it back
    * to the full input. That join-back is a shuffled join where a hot key
    * lands all its rows in one partition — and AQE's OptimizeSkewedJoin
    * CANNOT split it as-built, because the dup side's final HashAggregate
    * sits between the join's Sort and the shuffle read (the rule only
    * matches plain Sort→ShuffleRead on BOTH sides: replicating a partition
    * of an un-materialized aggregate has no shuffle to re-read from).
    * Eagerly checkpointing the dup frame makes the join-back a plain
    * shuffle↔shuffle join, which AQE then skew-splits (gated in PlanSpec).
    * Off by default — in the normal regime it would cost an extra
    * materialization for a frame the broadcast path never shuffles. */
  def uniqueness(df: DataFrame, key: String = "doc_id",
                 part: String = "part", rank: Int = BaseRank,
                 checkpointDups: Boolean = false): Validation = {
    val id = uniqueId(key)
    val message = s"""Expected "$key" values to be unique across the dataset"""

    val dupRows =
      if (checkpointDups) {
        val dups = duplicateKeys(df, key).localCheckpoint()
        df.select(col(part).as("part"), col(key)).join(dups, Seq(key))
      } else {
        val candidates = dupCandidates(df, key, part)
          .localCheckpoint(false) // lazy: materializes on the first action
        val dups = candidates.groupBy(col(key))
          .agg(count(lit(1)).as("cnt"))
          .where(col("cnt") > 1)
        candidates.join(dups, Seq(key)) // both sides tiny → AQE broadcasts
      }
    checkValidation(df, part, violationRows(dupRows, col(key).cast(StringType), rank, id,
      s".$key", col("cnt").cast(StringType), message), rank, id)
  }

  def uniqueId(key: String): String = s"dataset/unique:$key"

  /** The FK predicate, defined once: a row passes iff its `column` is NULL
    * or equals a value of the de-duplicated dimension key. NULLs are not FK
    * violations (that is `required`'s job), matching SQL FK semantics. The
    * key set is broadcast (small by construction), so the fact side never
    * shuffles and hot FK values cannot skew. `marked` feeds the row pass,
    * where `pass` is evaluated per row; `orphans` is the same predicate's
    * complement as one broadcast left anti join, for the standalone check. */
  private final class ForeignKey(column: String, dim: DataFrame, dimCol: String) {
    private val key = s"_fk_$column"
    private val keys = broadcast(dim.select(col(dimCol).as(key)).distinct())
    private val matches = col(column) === col(key)
    def marked(df: DataFrame): DataFrame = df.join(keys, matches, "left_outer")
    val pass: Column = col(column).isNull || col(key).isNotNull
    def orphans(df: DataFrame): DataFrame =
      df.where(col(column).isNotNull).join(keys, matches, "left_anti")
  }

  private def referentialId(column: String): String = s"dataset/referential:$column"
  private def referentialMessage(column: String): String =
    s"""Expected "$column" to reference a value in the dimension table"""

  /** The FK check as a `CompiledCheck` for the row pass: returns `df` marked
    * with its broadcast dimension match, and the check to evaluate over it,
    * so the FK check shares the row checks' one full-width scan. */
  def referentialCheck(df: DataFrame, column: String, dim: DataFrame, dimCol: String,
                       rank: Int = BaseRank + 1): (DataFrame, CompiledCheck) = {
    val fk = new ForeignKey(column, dim, dimCol)
    (fk.marked(df), CompiledCheck(
      id = referentialId(column), path = s".$column", keyword = "referential",
      message = referentialMessage(column), rank = rank,
      pass = fk.pass, observed = col(column).cast(StringType)))
  }

  /** Validation frames for "`column` ∈ dim(`dimCol`)" (FK), standalone:
    * the orphan rows of the `ForeignKey` predicate. */
  def referential(df: DataFrame, column: String, dim: DataFrame, dimCol: String,
                  docId: String = "doc_id", part: String = "part",
                  rank: Int = BaseRank + 1): Validation = {
    val fact = df.select(col(part).as("part"), col(docId).cast(StringType).as("doc_id"),
                         col(column))
    orphanValidation(df, part, new ForeignKey(column, dim, dimCol).orphans(fact), column, rank)
  }

  /** FK check for dimension tables TOO LARGE to broadcast (`referential`'s
    * contract, different physical strategy). At 100 TB a registry-sized dim
    * can exceed any broadcast threshold, and the naive shuffled anti-join
    * would exchange the FULL fact table on the FK. The FK DOMAIN, however,
    * is ≪ the fact row count (enum-like columns: sources, shards, tenants) —
    * so: (1) aggregate the fact side to its distinct FK values (map-side
    * partial distinct → the one fact-derived exchange carries only distinct
    * keys per input partition, skew-immune the same way `duplicateKeys`' salt
    * stage is); (2) shuffled LEFT ANTI of that tiny key set against the dim —
    * total shuffle volume |FK domain| + |dim|, never |fact|; (3) broadcast
    * the orphan-key result (⊆ FK domain) back onto the fact rows to emit
    * violation rows without shuffling the fact side at all.
    *
    * Output is row-for-row identical to `referential` (spec-gated); nulls are
    * likewise not FK violations. */
  def referentialLargeDim(df: DataFrame, column: String, dim: DataFrame, dimCol: String,
                          docId: String = "doc_id", part: String = "part",
                          rank: Int = BaseRank + 1): Validation = {
    val fact = df.select(col(part).as("part"), col(docId).cast(StringType).as("doc_id"),
                         col(column))
      .where(col(column).isNotNull)
    val orphanKeys = fact.select(col(column)).distinct()
      .join(dim.select(col(dimCol).as(column)), Seq(column), "left_anti")
    orphanValidation(df, part, fact.join(broadcast(orphanKeys), Seq(column)), column, rank)
  }

  /** The FK check's frames over its orphan (part, doc_id, `column`) rows. */
  private def orphanValidation(df: DataFrame, part: String, orphans: DataFrame,
                               column: String, rank: Int): Validation = {
    val id = referentialId(column)
    checkValidation(df, part, violationRows(orphans, col("doc_id"), rank, id, s".$column",
      col(column).cast(StringType), referentialMessage(column)), rank, id)
  }

  /** Row-level cross-field consistency as a pluggable CompiledCheck, e.g.
    * `consistency("n_tok=size(tokens)", col("n_tok") === size(col("tokens")),
    * col("n_tok"))` — runs in the same single pass as spec checks. */
  def consistency(name: String, ok: Column, observed: Column,
                  rank: Int = BaseRank + 2): CompiledCheck =
    CompiledCheck(
      id = s"dataset/consistency:$name",
      path = ".", keyword = "consistency",
      message = s"Expected row to satisfy $name",
      rank = rank,
      pass = coalesce(ok, lit(false)),
      observed = observed.cast(StringType))

  /** Rows in the shared violation schema (part, doc_id, rank,
    * constraint_id, path, observed, message): one per row of `rows`, which
    * carries `part`; `docId` and `observed` are string Columns over it. */
  private[graft] def violationRows(rows: DataFrame, docId: Column, rank: Int, id: String,
                                   path: String, observed: Column,
                                   message: String): DataFrame =
    rows.select(col("part"), docId.as("doc_id"), lit(rank).as("rank"),
      lit(id).as("constraint_id"), lit(path).as("path"), observed.as("observed"),
      lit(message).as("message"))

  /** A single cross-row check's frames: its violation rows, and its
    * verdicts counted from them over `df`'s per-part totals. */
  private[graft] def checkValidation(df: DataFrame, part: String, violations: DataFrame,
                                     rank: Int, id: String): Validation =
    Validation(verdictsFromViolations(partTotals(df, part), violations, Seq(rank -> id)),
      violations)

  /** Verdicts as a pure function of violations, as the reference's result
    * status is a function of its error list (validator.cr:20-27): violation
    * rows counted per (part, rank) — `rank` is unique per check,
    * `constraint_id` need not be — left-joined onto every per-part total
    * crossed with the static `(rank, constraint_id)` catalog. `part` matches
    * null-safely (`<=>`), so a NULL-part partition keeps its counts. Both
    * join sides are aggregated first, so the join is |parts|×|checks|-sized
    * and `violations` may be any frame of violation rows — the lazy plan, or
    * the rows a sink wrote and read back. */
  def verdictsFromViolations(totals: DataFrame, violations: DataFrame,
                             catalog: Seq[(Int, String)]): DataFrame = {
    val counts = violations.groupBy(col("part").as("_vp"), col("rank").as("_vr"))
      .agg(count(lit(1)).as("_vn"))
    val checks = inline(array(catalog.map { case (rank, id) =>
      struct(lit(rank).as("rank"), lit(id).as("constraint_id"))
    }: _*))
    val n = coalesce(col("_vn"), lit(0L))
    totals.select(col("part"), col("total"), checks)
      .join(counts, col("part") <=> col("_vp") && col("rank") === col("_vr"), "left")
      .select(col("part"), col("rank"), col("constraint_id"), col("total"),
        n.as("violations"), (n === 0).as("pass"))
  }
}
