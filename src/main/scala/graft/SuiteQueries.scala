package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** END-TO-END oracle for the flagship north-star job: the FULL
  * `Suite.validateSequences` pipeline — row-level spec checks (incl. token
  * element-domain), n_tok=size(tokens) consistency, salted doc_id
  * uniqueness, broadcast referential integrity, and KL-drift of n_tok and
  * source — runs over a tokenized-sequence table derived DETERMINISTICALLY
  * from `events.event_id` (pure integer arithmetic both engines compute
  * exactly), and the DuckDB oracle re-derives every per-partition verdict
  * row (constraint_id, total, violations, pass) independently, including
  * the smoothed-KL drift pass/fail.
  *
  * The injected-violation arms mirror SequenceGen's design but use
  * multiplicative-mod mixing instead of xxhash64 so the oracle can
  * reproduce them. The length/source mixers multiply by large constants
  * mod a prime BEFORE the small modulus — naive `id*37 % 128` would make
  * each partition (id mod 8) see only a sub-lattice of lengths, tripping
  * the drift check everywhere.
  */
object SuiteQueries {

  // injection arms (co-prime moduli so arms overlap only by design)
  private val HotMod = 97; private val HotRes = 17
  private val DupMod = 50
  private val ZeroMod = 43; private val ZeroRes = 1
  private val OverMod = 47; private val OverRes = 2
  private val MismatchMod = 53; private val MismatchRes = 4
  private val BadTokMod = 41; private val BadTokRes = 3
  private val NullSrcMod = 59; private val NullSrcRes = 5
  private val SpamMod = 61; private val SpamRes = 6
  private val Parts = 8
  private val MaxLen = 128
  private val Vocab = 50000
  private val LenMix = 2654435761L; private val LenPrime = 999983L
  private val SrcMixA = 1103515245L; private val SrcMixB = 12345L; private val SrcPrime = 1000003L

  /** The derived sequence table (doc_id, tokens, n_tok, source, part). */
  def seqFromEvents(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val docIndex = when(pmod(id, lit(HotMod)) === HotRes, pmod(id, lit(3)))
      .when(pmod(id, lit(DupMod)) === 0 && id > 0, id - 1)
      .otherwise(id)
    val docId = concat(lit("doc-"), lpad(docIndex.cast("string"), 12, "0"))
    val part = concat(lit("p"), pmod(id, lit(Parts)).cast("string"))

    val baseLen = (pmod(pmod(id * lit(LenMix), lit(LenPrime)), lit(MaxLen)) + 1).cast("int")
    // partition p0 gets halved lengths → trips the n_tok drift check
    val len = when(pmod(id, lit(Parts)) === 0,
        greatest(floor(baseLen / lit(2.0)), lit(1L)).cast("int"))
      .otherwise(baseLen)

    val tokens0 = transform(sequence(lit(1), len),
      j => pmod(id * lit(31L) + j * lit(7L), lit(Vocab)).cast("int"))
    val tokens = when(pmod(id, lit(BadTokMod)) === BadTokRes,
        concat(slice(tokens0, lit(1), greatest(len - 1, lit(1))), array(lit(-5))))
      .otherwise(tokens0)

    val nTok = when(pmod(id, lit(ZeroMod)) === ZeroRes, lit(0))
      .when(pmod(id, lit(OverMod)) === OverRes, lit(MaxLen * 100))
      .when(pmod(id, lit(MismatchMod)) === MismatchRes, size(tokens) + 1)
      .otherwise(size(tokens))
      .cast("int")

    val srcB = pmod(pmod(id * lit(SrcMixA) + lit(SrcMixB), lit(SrcPrime)), lit(10))
    val source = when(pmod(id, lit(NullSrcMod)) === NullSrcRes, lit(null).cast("string"))
      .when(pmod(id, lit(SpamMod)) === SpamRes, lit("spam"))
      .when(srcB <= 6, lit("web"))
      .when(srcB === 7, lit("books"))
      .when(srcB === 8, lit("code"))
      .otherwise(lit("wiki"))

    s.read.parquet(s"$dir/events.parquet").select(
      docId.as("doc_id"), tokens.as("tokens"), nTok.as("n_tok"),
      source.as("source"), part.as("part"))
  }

  // -- oracle ----------------------------------------------------------------

  /** DuckDB twin of the derived table — flags instead of the token list
    * (the constraint outcomes are pure functions of the arithmetic).
    * `pred` restricts the VALIDATED INPUT (not just the output): every
    * downstream verdict — totals, uniqueness, drift baselines — is derived
    * from the filtered relation, exactly like running the suite over a
    * partition subset. */
  private def seqSql(pred: String) =
    s"""seq_all AS (
         SELECT id, part, doc_id, n_tok, size_tokens, bad_token, source FROM (
           SELECT id, 'p' || (id % $Parts) AS part,
                  'doc-' || lpad(CASE WHEN id % $HotMod = $HotRes THEN id % 3
                                      WHEN id % $DupMod = 0 AND id > 0 THEN id - 1
                                      ELSE id END::VARCHAR, 12, '0') AS doc_id,
                  CASE WHEN id % $ZeroMod = $ZeroRes THEN 0
                       WHEN id % $OverMod = $OverRes THEN ${MaxLen * 100}
                       WHEN id % $MismatchMod = $MismatchRes THEN size_tokens + 1
                       ELSE size_tokens END AS n_tok,
                  size_tokens, bad_token,
                  CASE WHEN id % $NullSrcMod = $NullSrcRes THEN NULL
                       WHEN id % $SpamMod = $SpamRes THEN 'spam'
                       WHEN srcb <= 6 THEN 'web'
                       WHEN srcb = 7 THEN 'books'
                       WHEN srcb = 8 THEN 'code'
                       ELSE 'wiki' END AS source
           FROM (
             SELECT id, len, srcb,
                    (id % $BadTokMod = $BadTokRes) AS bad_token,
                    CASE WHEN id % $BadTokMod = $BadTokRes
                         THEN greatest(len - 1, 1) + 1 ELSE len END AS size_tokens
             FROM (
               SELECT event_id AS id,
                      CASE WHEN event_id % $Parts = 0
                           THEN greatest(floor(((event_id * $LenMix % $LenPrime) % $MaxLen + 1) / 2.0), 1)::INT
                           ELSE ((event_id * $LenMix % $LenPrime) % $MaxLen + 1)::INT END AS len,
                      (event_id * $SrcMixA + $SrcMixB) % $SrcPrime % 10 AS srcb
               FROM events)))),
       seq AS (SELECT * FROM seq_all WHERE $pred)"""

  /** Smoothed-KL divergence per part (mirrors Drift.divergences with
    * smoothing 0.5: parts match null-safely, a NULL bucket never matches). */
  private def klSql(hist: String, name: String): String =
    s"""${name}_t AS (SELECT part, sum(c) AS t FROM $hist GROUP BY 1),
        ${name}_b AS (SELECT bucket, sum(c) AS bc FROM $hist GROUP BY 1),
        ${name}_bt AS (SELECT sum(bc) AS bt, count(*)::DOUBLE AS k FROM ${name}_b),
        ${name}_kl AS (
          SELECT part, sum(p * ln(p / q)) AS kl, max(t) AS total FROM (
            SELECT t.part, t.t, (coalesce(h.c, 0) + 0.5) / (t.t + 0.5 * bt.k) AS p,
                   (b.bc + 0.5) / (bt.bt + 0.5 * bt.k) AS q
            FROM ${name}_t t CROSS JOIN ${name}_b b CROSS JOIN ${name}_bt bt
            LEFT JOIN $hist h ON h.part IS NOT DISTINCT FROM t.part AND h.bucket = b.bucket)
          GROUP BY part)"""

  private val verdictIds = Seq(
    "./required:doc_id", "./required:tokens", "./required:n_tok", "./required:source",
    ".doc_id/minLength", ".doc_id/pattern",
    ".tokens/items", ".tokens/minItems", ".tokens/maxItems",
    ".n_tok/minimum", ".n_tok/maximum",
    ".source/enum",
    "dataset/consistency:n_tok=size(tokens)",
    "dataset/unique:doc_id",
    "dataset/referential:source")

  /** Full per-part verdict derivation over the `pred`-filtered input;
    * `extraUnion` appends rows with the same 5-column shape (the resume
    * query's checkpoint rows). */
  private def suiteOracleFor(pred: String, extraUnion: String = ""): String = {
    val cidValues = verdictIds.map(i => s"('$i')").mkString(", ")
    s"""WITH ${seqSql(pred)},
        tot AS (SELECT part, count(*) AS total FROM seq GROUP BY 1),
        dupdocs AS (SELECT doc_id FROM seq GROUP BY doc_id HAVING count(*) > 1),
        vio AS (
          SELECT part, './required:source' AS cid,
                 count(*) FILTER (WHERE source IS NULL) AS v FROM seq GROUP BY 1
          UNION ALL
          SELECT part, '.tokens/items', count(*) FILTER (WHERE bad_token) FROM seq GROUP BY 1
          UNION ALL
          SELECT part, '.n_tok/minimum', count(*) FILTER (WHERE n_tok < 1) FROM seq GROUP BY 1
          UNION ALL
          SELECT part, '.n_tok/maximum', count(*) FILTER (WHERE n_tok > $MaxLen) FROM seq GROUP BY 1
          UNION ALL
          SELECT part, '.source/enum',
                 count(*) FILTER (WHERE source IS NOT NULL
                                  AND source NOT IN ('web','books','code','wiki'))
          FROM seq GROUP BY 1
          UNION ALL
          SELECT part, 'dataset/consistency:n_tok=size(tokens)',
                 count(*) FILTER (WHERE n_tok != size_tokens) FROM seq GROUP BY 1
          UNION ALL
          SELECT part, 'dataset/unique:doc_id',
                 count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM dupdocs))
          FROM seq GROUP BY 1
          UNION ALL
          SELECT part, 'dataset/referential:source',
                 count(*) FILTER (WHERE source IS NOT NULL
                                  AND source NOT IN ('web','books','code','wiki'))
          FROM seq GROUP BY 1),
        hn AS (SELECT part, floor(n_tok / 8.0)::VARCHAR AS bucket, count(*)::DOUBLE AS c
               FROM seq GROUP BY 1, 2),
        hs AS (SELECT part, source AS bucket, count(*)::DOUBLE AS c
               FROM seq GROUP BY 1, 2),
        ${klSql("hn", "dn")},
        ${klSql("hs", "ds")}
        SELECT part, constraint_id, total, violations, pass FROM (
          SELECT t.part, c.cid AS constraint_id, t.total,
                 coalesce(v.v, 0) AS violations, coalesce(v.v, 0) = 0 AS pass
          FROM tot t CROSS JOIN (VALUES $cidValues) c(cid)
          LEFT JOIN vio v ON v.part = t.part AND v.cid = c.cid
          UNION ALL
          SELECT part, 'dataset/drift:n_tok', total::BIGINT,
                 CASE WHEN kl <= 0.05 THEN 0 ELSE 1 END, kl <= 0.05 FROM dn_kl
          UNION ALL
          SELECT part, 'dataset/drift:source', total::BIGINT,
                 CASE WHEN kl <= 0.05 THEN 0 ELSE 1 END, kl <= 0.05 FROM ds_kl
          $extraUnion
        ) ORDER BY part, constraint_id"""
  }

  private val suiteOracle: String = suiteOracleFor("true")

  /** x_resume oracle: run 2 must have validated EXACTLY parts p4..p7 (the
    * full suite derivation over that input subset — totals, uniqueness and
    * drift baselines all computed within the subset, which is what
    * validateSequences sees after the resume filter), and the store must
    * hold run-1 checkpoint rows for EXACTLY p0..p3 with the right totals. */
  private val resumeOracle: String = suiteOracleFor(
    s"id % $Parts >= ${Parts / 2}",
    s"""UNION ALL
        SELECT 'p' || (event_id % $Parts) AS part,
               'checkpoint/validated' AS constraint_id,
               count(*) AS total, 0::BIGINT AS violations, true AS pass
        FROM events WHERE event_id % $Parts < ${Parts / 2} GROUP BY 1""")

  /** Driver-gated checkpoint/resume (VERDICT r3 #6): run 1 validates a
    * partition subset and appends the metrics store; run 2 is handed the
    * FULL table and must resume — `store.remaining` prunes the validated
    * partitions, so its verdicts cover exactly the complement. The output
    * unions run-2 verdicts with the store's run-1 checkpoint rows; a
    * resume that re-validates (duplicate parts in run 2), fails to skip,
    * or records wrong per-part totals is a row/hash mismatch against the
    * independent derivation above. */
  def resumedVerdicts(s: SparkSession, dir: String): DataFrame = {
    // ONE per-JVM store location, wiped per invocation — a fresh temp dir
    // per call leaked a full parquet store every bench/verify rep. The pid
    // suffix keeps concurrent JVMs (and other users' stale dirs, which we
    // could not delete) out of each other's store; the walk stream holds
    // directory handles and must be closed
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_resume_store_${ProcessHandle.current().pid()}")
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
    val store = graft.stats.MetricsStore(root.resolve("store").toString)
    val dim = graft.data.SequenceGen.dimSources(s)
    val full = seqFromEvents(s, dir)
    val firstHalf = (0 until Parts / 2).map(i => s"p$i")
    graft.run.Suite.resumableRun(
      full.where(col("part").isin(firstHalf: _*)), dim, store, runEpoch = 1L)
    val run2 = graft.run.Suite.resumableRun(full, dim, store, runEpoch = 2L)
      .getOrElse(sys.error("resume had nothing left to validate"))
    val checkpointed = store.read(s)
      .where(col("run_epoch") === 1L)
      .select(col("part"), lit("checkpoint/validated").as("constraint_id"),
        col("total"), lit(0L).as("violations"), lit(true).as("pass"))
    run2.verdicts.drop("rank").unionByName(checkpointed)
      .repartition(1).sortWithinPartitions("part", "constraint_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "suite_e2e_verdicts" -> ((s, dir) =>
      graft.run.Suite.validateSequences(seqFromEvents(s, dir),
          graft.data.SequenceGen.dimSources(s))
        .verdicts.drop("rank").repartition(1).sortWithinPartitions("part", "constraint_id")),
    "x_resume" -> (resumedVerdicts _))

  val oracles: Map[String, String] = Map(
    "suite_e2e_verdicts" -> suiteOracle,
    "x_resume" -> resumeOracle)
}
