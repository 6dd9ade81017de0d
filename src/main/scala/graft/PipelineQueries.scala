package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dataset.CrossRow
import graft.drift.Drift
import graft.pipeline.{Dedup, Hashing, Packing, Sampling, Seeded, Sessionize, Similarity, TextAnalysis}

/** Query battery part 2: cross-row operators, drift, stats sketches,
  * dedup/text/similarity pipeline ops — each with a DuckDB oracle.
  *
  * Hash-based operators (MinHash, SimHash, fingerprint, LSH buckets) run
  * with `Hashing.Md5` — a 60-bit md5-derived hash DuckDB computes
  * byte-identically — and the seeded projection matrices (IVF centroids,
  * hyperplanes) are integer literals rendered into the oracle SQL, so ALL
  * pipeline queries have hard cross-engine oracles (round 1 had five
  * `no_oracle` rows here). Production runs use `Hashing.Xx` (xxhash64).
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("embedding", transform(col("embedding"), x => x.cast("double")))

  /** documents ∪ (first 50 docs re-keyed) — planted exact duplicates so the
    * dedup queries have non-empty output. */
  private def docsWithDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.unionByName(d.where(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + 100000))
  }

  /** 12 copies of each of the first 20 docs — every LSH bucket exceeds the
    * cap, exercising the dropped-bucket recall ledger. */
  private def docsManyDups(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).where(col("doc_id") < 20 && col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .select(explode(sequence(lit(0), lit(11))).as("i"), col("doc_id"), col("text"))
      .select((col("doc_id") * 100 + col("i")).as("doc_id"), col("text"))

  /** Session tuned so AQE's skew-join clause is OBSERVABLE at test scale:
    * broadcast off (forces the shuffled join-back regime), low skew/advisory
    * thresholds (events is 10³..10⁵ rows here; production sizes hit the
    * defaults the same way). `newSession()` isolates the conf from the
    * shared battery session. */
  private def skewSession(s: SparkSession): SparkSession = {
    val sess = s.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sess.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    sess.conf.set("spark.sql.shuffle.partitions", "8")
    sess.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    sess.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    sess.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
    sess
  }

  /** Uniqueness under a PLANTED 30%-hot-key regime (VERDICT r3 #7): ONE
    * hot doc_id carries 30% of the table (splitting the heat across several
    * keys dilutes each hot partition below AQE's skewedPartitionFactor —
    * measured: 3×10% keys land ~1.8× the median, no split), every other
    * key unique; `part` is the high-entropy md5 column so the hot shuffle
    * partition can't compress below the skew threshold — the uniqueness
    * join projects to exactly (part, key) before the exchange, so entropy
    * anywhere else is pruned away and skew detection (which reads
    * COMPRESSED map output sizes) sees a tiny all-identical partition.
    * `hot = false` is the uniform twin (identical derivation, no hot key)
    * so the bench battery carries a direct skewed-vs-uniform wall-clock
    * pair. The hot arm ASSERTS the AQE skew split fired in the executed
    * final plan (isSkewJoin) — a run where the split didn't happen fails
    * the query, so the green driver row pins plan shape AND numbers in
    * the same run. Output is the dup-key violation summary (one row per
    * duplicated key with its dup count and violation-row count). */
  private def skewedUniqueness(s: SparkSession, dir: String, hot: Boolean): DataFrame = {
    val sess = skewSession(s)
    val id = col("event_id")
    val uniform = concat(lit("k"), id.cast("string"))
    val key =
      if (hot) when(pmod(id, lit(10)) < 3, lit("hot")).otherwise(uniform)
      else uniform
    // AQE splits a skewed reduce partition at MAP-TASK boundaries — the
    // one-file test parquet is a single input split, i.e. one mapper and
    // nothing to split at (measured: no skew= flag ever appears). A
    // round-robin repartition gives the exchange 16 map tasks, the local
    // stand-in for the many input splits any production table has.
    val df = sess.read.parquet(s"$dir/events.parquet").repartition(16).select(
      key.as("doc_id"),
      md5(id.cast("string")).as("part"))
    val v = CrossRow.uniqueness(df, "doc_id", "part", checkpointDups = true)
    if (hot) {
      // the skew observation must execute the BARE violations frame: a
      // rollup above the join gets its clustering for free from the join's
      // output partitioning, so OptimizeSkewedJoin declines to split there
      // (the split would force an extra shuffle — AQE's default guard).
      // localCheckpoint (VERDICT r4 #5) materializes the full-width frame
      // ONCE on the executors — no corpus-proportional driver collect (the
      // dup set is 30% of the table by construction, a guaranteed driver
      // OOM at 10¹²-row scale) — keeps the executed AQE plan inspectable,
      // and the rollup then runs DISTRIBUTED over the checkpointed rows.
      // Full width matters: pruning to (doc_id, observed) strips the
      // high-entropy md5 part column from the join's shuffle, and AQE skew
      // detection reads COMPRESSED map sizes — the all-"hot" residue then
      // compresses below the threshold and the split intermittently never
      // fires (observed in the full-battery run; the known entropy hazard).
      val bare = v.violations // one instance: executed by the checkpoint,
                              // then probed for the final adaptive plan
      val viol = bare.localCheckpoint()
      val skewed = graft.tools.SuitePlanProbe
        .walk(bare.queryExecution.executedPlan)
        .exists {
          case smj: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
            smj.isSkewJoin
          case shj: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
            shj.isSkewJoin
          case _ => false
        }
      // ADVICE r4 #2: the split firing is environment-sensitive (compressed
      // map-size dependent) — a hard require here can abort the whole verify
      // battery on a different box/codec/Spark patch. The HARD gate lives in
      // PlanSpec ("hot-key partition was not skew-split"); here the
      // observation is a warning, and correctness of the rollup is what the
      // oracle pins.
      if (!skewed)
        System.err.println(
          "[graft] WARN x_skew_uniqueness: AQE did not skew-split the " +
            "hot-key join-back partition in this environment (PlanSpec " +
            "gates this hard)")
      viol.groupBy(col("doc_id"), col("observed"))
        .agg(count(lit(1)).as("n"))
        .orderBy("doc_id", "observed")
    } else
      v.violations.groupBy(col("doc_id"), col("observed"))
        .agg(count(lit(1)).as("n")).orderBy("doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- cross-row operators ------------------------------------------------
    "x_duplicate_keys" -> ((s, dir) =>
      CrossRow.duplicateKeys(docsWithDups(s, dir).withColumn("k", TextAnalysis.contentKey(col("text"))), "k")
        .orderBy("k")),
    "x_skew_uniqueness" -> ((s, dir) => skewedUniqueness(s, dir, hot = true)),
    "x_skew_uniform" -> ((s, dir) => skewedUniqueness(s, dir, hot = false)),
    "x_referential_orphans" -> ((s, dir) => {
      // drop every order of custkeys ≡ 3 (mod 10) so the anti-join has
      // guaranteed orphans to find at any sf
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .where(pmod(col("o_custkey"), lit(10)) =!= 3)
      val customers = s.read.parquet(s"$dir/customer.parquet")
      customers.join(orders, customers("c_custkey") === orders("o_custkey"), "left_anti")
        .select(col("c_custkey")).orderBy("c_custkey")
    }),
    "x_referential_large" -> ((s, dir) => {
      // same orphan semantics through the LARGE-DIM strategy: dim =
      // customers minus custkeys ≡ 3 (mod 10), facts = all orders; the
      // ~10% of orders referencing a removed customer are violations
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .withColumn("part", col("o_orderpriority"))
      val dim = s.read.parquet(s"$dir/customer.parquet")
        .where(pmod(col("c_custkey"), lit(10)) =!= 3)
      CrossRow.referentialLargeDim(orders, "o_custkey", dim, "c_custkey",
          docId = "o_orderkey")
        .violations.orderBy("doc_id")
    }),
    "x_drift_documents" -> ((s, dir) =>
      Drift.divergence(docs(s, dir), col("lang"), part = "source")
        .select(col("part"), round(col("kl"), 3).as("kl"), round(col("psi"), 3).as("psi"),
          col("total").cast("long").as("total"))
        .orderBy("part")),
    "x_partition_stats" -> ((s, dir) =>
      docs(s, dir).groupBy(col("source").as("part"))
        .agg(
          count(lit(1)).as("total"),
          min(col("n_chars")).as("n_chars_min"),
          max(col("n_chars")).as("n_chars_max"),
          round(avg(col("n_chars")), 4).as("n_chars_avg"),
          countDistinct(col("lang")).as("lang_distinct"),
          sum(col("text").isNull.cast("long")).as("text_nulls"))
        .orderBy("part")),
    // the REAL Metrics.partitionStats path (HLL++ and GK estimates
    // included — VERDICT r2 #7): exact columns oracled exactly; each sketch
    // column becomes a VERIFIABLE CLAIM the oracle pins to true — HLL++
    // within 3×rsd of the exact distinct (default rsd 0.05 is a STANDARD
    // DEVIATION — a 1σ bound fails ~1/3 of the time and did at sf0.1's
    // 250-distinct partitions; Spark's HLL++ has no exact sparse mode),
    // GK q50 between the exact p45/p55 (rank error ≤ 1e-4)
    "x_metrics_sketch" -> ((s, dir) => {
      val df = docs(s, dir).withColumn("part", col("source"))
      val stats = graft.stats.Metrics.partitionStats(df, "part", "doc_id", "n_chars", "lang")
      val exact = df.groupBy(col("part")).agg(
        countDistinct(col("doc_id")).as("_ed"),
        countDistinct(col("lang")).as("_el"),
        expr("percentile(n_chars, 0.45)").as("_p45"),
        expr("percentile(n_chars, 0.55)").as("_p55"))
      stats.join(exact, "part")
        .select(
          col("part"), col("total"),
          col("n_chars_min"), col("n_chars_max"),
          round(col("n_chars_avg"), 4).as("n_chars_avg"),
          col("doc_id_nulls"), col("lang_nulls"),
          (abs(col("doc_id_approx_distinct") - col("_ed")) <= greatest(col("_ed") * 0.15, lit(2.0)))
            .as("hll_key_ok"),
          (abs(col("lang_approx_distinct") - col("_el")) <= greatest(col("_el") * 0.15, lit(2.0)))
            .as("hll_cat_ok"),
          element_at(col("n_chars_quantiles"), 1).between(col("_p45"), col("_p55"))
            .as("gk_q50_ok"))
        .orderBy("part")
    }),

    // -- dedup family -------------------------------------------------------
    "p_exact_dup_groups" -> ((s, dir) =>
      Dedup.exactGroups(docsWithDups(s, dir), col("text"), col("doc_id"))
        .orderBy("content_key")),
    "p_exact_drop_list" -> ((s, dir) =>
      Dedup.exactDropList(docsWithDups(s, dir), col("text"), col("doc_id"))
        .orderBy("doc_id")),
    // incremental dedup: history = even doc_ids, batch = odd; the bloom
    // probe's claims are pinned the x_metrics_sketch way — exact counts
    // exact, the sketch's one-sided-error contract as booleans the oracle
    // fixes to TRUE (a single missed true duplicate flips
    // no_false_negatives; an fpp blowout past 5× flips fp_ok)
    "p_bloom_dedup" -> ((s, dir) => {
      val d = docsWithDups(s, dir).where(col("text").isNotNull)
      val hist = d.where(col("doc_id") % 2 === 0)
      val batch = d.where(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), TextAnalysis.contentKey(col("text")).as("k"))
      val histKeys = hist
        .select(TextAnalysis.contentKey(col("text")).as("k")).distinct()
        .localCheckpoint()
      // ADVICE r4 #1: size the sketch FROM the history side instead of a
      // constant — a hardcoded 10k under-sizes the filter as sf grows and
      // the degraded fpp would eventually flip the oracle-pinned fp_ok.
      // The truth join already needs the exact distinct-key frame, so it
      // is localCheckpoint'ed ONCE above and reused for both the exact
      // item count and the join — no extra history scan (r5 review).
      val expected = math.max(1024L, histKeys.count())
      Dedup.bloomMightContain(hist, TextAnalysis.contentKey(col("text")),
          batch, col("k"), expectedItems = expected, fpp = 0.01)
        .join(histKeys.withColumn("truth", lit(true)), Seq("k"), "left")
        .select(col("might_dup"), coalesce(col("truth"), lit(false)).as("truth"))
        .agg(
          count(lit(1)).as("batch_total"),
          sum(col("truth").cast("long")).as("true_dups"),
          (sum((col("truth") && !col("might_dup")).cast("long")) === 0)
            .as("no_false_negatives"),
          (sum((!col("truth") && col("might_dup")).cast("long"))
            <= greatest(ceil(count(lit(1)) * 0.05), lit(5L))).as("fp_ok"))
    }),
    "p_minhash_neardups" -> ((s, dir) =>
      Dedup.nearDuplicates(docsWithDups(s, dir).where(col("text").isNotNull),
          col("text"), col("doc_id"), threshold = 0.9, hash = Hashing.Md5)
        .orderBy("doc_a", "doc_b")),
    "p_neardup_drop_list" -> ((s, dir) =>
      Dedup.nearDupDropList(docsWithDups(s, dir).where(col("text").isNotNull),
          col("text"), col("doc_id"), threshold = 0.9, hash = Hashing.Md5)
        .orderBy("doc_id")),
    "p_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardNearDuplicates(docsWithDups(s, dir).where(col("text").isNotNull),
          col("text"), col("doc_id"), threshold = 0.8)
        .orderBy("doc_a", "doc_b")),
    "p_minhash_dropped_buckets" -> ((s, dir) =>
      Dedup.minhashBucketStats(docsManyDups(s, dir), col("text"), col("doc_id"),
          maxBucket = 8, hash = Hashing.Md5)
        .orderBy("band", "bucket")),
    "p_simhash" -> ((s, dir) =>
      Dedup.simhashByKey(docsWithDups(s, dir), col("text"), col("doc_id"),
          bits = 60, hash = Hashing.Md5)
        .orderBy("doc_id")),
    "p_simhash_neardups" -> ((s, dir) =>
      Dedup.simhashNearDuplicates(docsWithDups(s, dir).where(col("text").isNotNull),
          col("text"), col("doc_id"), maxHamming = 6, bands = 4,
          bits = 60, hash = Hashing.Md5)
        .orderBy("doc_a", "doc_b")),
    "p_embedding_neardups" -> ((s, dir) => { // planted exact-copy vector
      val e = emb(s, dir)
      val planted = e.unionByName(
        e.where(col("vec_id") === 7)
          .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"), col("label")))
      Dedup.embeddingNearDups(planted, col("embedding"), col("vec_id"),
          dim = 64, threshold = 0.9999)
        .orderBy("id_a", "id_b")
    }),

    "p_embedding_drop_list" -> ((s, dir) => {
      // the generic dropListFromPairs over the EMBEDDING pair generator:
      // planted exact-copy vector (7 → 1000007) guarantees a cluster whose
      // min-id representative must survive
      val e = emb(s, dir)
      val planted = e.unionByName(
        e.where(col("vec_id") === 7)
          .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"), col("label")))
      Dedup.dropListFromPairs(
          Dedup.embeddingNearDups(planted, col("embedding"), col("vec_id"),
              dim = 64, threshold = 0.9999)
            .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
        .orderBy("doc_id")
    }),

    // line-level dedup over the dup-planted corpus: the +100000 planted
    // copies make every line of a copied doc document-frequency ≥ 2
    "p_line_dedup" -> ((s, dir) =>
      Dedup.lineDupStats(docsWithDups(s, dir), col("text"), col("doc_id"))
        .orderBy("doc_id")),
    // global bigram counts — the statistic tokenizer training starts from
    "p_top_ngrams" -> ((s, dir) =>
      TextAnalysis.topNgrams(docs(s, dir), col("text"), n = 2, k = 100)),
    // broadcast-dictionary scoring against the corpus's own top-500
    // unigrams; only non-null ids are scored (groupBy would merge null
    // ids into one row where the oracle's join rollup cannot)
    "p_vocab_score" -> ((s, dir) => {
      val d = docs(s, dir)
      val vocab = TextAnalysis.topNgrams(d, col("text"), n = 1, k = 500)
        .withColumnRenamed("ngram", "word")
      TextAnalysis.vocabScore(d.where(col("doc_id").isNotNull),
          col("text"), col("doc_id"), vocab)
        .orderBy("doc_id")
    }),

    // -- decontamination + mixing ------------------------------------------
    "p_decontaminate" -> ((s, dir) => {
      // eval set = every 97th doc; flag the rest of the corpus on shared
      // 3-word shingles (same shingle definition as the Jaccard family)
      val d = docs(s, dir)
      Dedup.contaminatedDocs(
          d.where(col("doc_id") % 97 =!= 0), col("text"), col("doc_id"),
          d.where(col("doc_id") % 97 === 0), col("text"), col("doc_id"))
        .orderBy("doc_id")
    }),
    "p_quota_sample" -> ((s, dir) =>
      Sampling.quotaSample(docs(s, dir).select(col("doc_id"), col("source")),
          "source", "doc_id", 50, Hashing.Md5)
        .orderBy("source", "doc_id")),
    "p_mixture" -> ((s, dir) =>
      Sampling.mixtureReport(docs(s, dir), "source", "text")
        .orderBy("source")),
    // token-budget mixing: per-source budgets derived IN-QUERY from the
    // corpus (sources ending in '1' get 2× their total — exercising the
    // ppm cap / keep-all path; the rest get a third), so the oracle can
    // re-derive everything with no data-dependent literals
    "p_token_budget" -> ((s, dir) => {
      val d = docs(s, dir)
      def tok = TextAnalysis.wsTokenCount(col("text"))
      val budgets = d.groupBy(col("source"))
        .agg(sum(tok.cast("long")).as("_t"))
        .select(col("source"),
          when(col("source").endsWith("1"), col("_t") * 2)
            .otherwise(floor(col("_t") / 3)).as("budget"))
      Sampling.tokenBudgetSample(d, "source", "doc_id", tok, budgets, Hashing.Md5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("kept_docs"),
          sum(tok.cast("long")).as("kept_tokens"))
        .orderBy("source")
    }),
    "p_split_stats" -> ((s, dir) =>
      Sampling.splitAssign(docs(s, dir), "doc_id", 10000L, 10000L, Hashing.Md5)
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("docs"),
          min(col("bucket")).as("min_bucket"),
          max(col("bucket")).as("max_bucket"))
        .orderBy("source", "split")),
    "p_pack_stats" -> ((s, dir) =>
      Packing.packStats(docs(s, dir), TextAnalysis.wsTokenCount(col("text")),
          col("doc_id"), col("source"), ctx = 256)
        .orderBy("stream")),

    // gap-based sessionization over the events table (30-minute rule)
    "p_sessions" -> ((s, dir) =>
      Sessionize.sessions(s.read.parquet(s"$dir/events.parquet"),
          col("user_id"), col("ts"), col("event_id"), gapSeconds = 1800)
        .orderBy("user_id", "session_idx")),

    // -- text analysis ------------------------------------------------------
    "p_pii_scan" -> ((s, dir) => {
      // the corpus text is synthetic, so PII shapes are PLANTED from doc_id
      // (generator-contract oracle, the p_image_meta pattern): the oracle
      // builds the same augmented text in SQL and the engine's regex scan +
      // redaction must agree byte-for-byte. Plain `%` (sign-of-dividend)
      // everywhere, defensively: the generated corpus has only
      // non-negative doc_ids today, but pmod would silently diverge from
      // DuckDB's `%` the day a negative id appears.
      val planted = concat(
        col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
            lit("."), ((col("doc_id") * 7) % 256).cast("string"))).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(" call +1 555 0100")).otherwise(lit("")),
        when(col("doc_id") % 17 === 0,
          concat(lit(" ssn 123-45-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")))
      TextAnalysis.piiScan(
          docs(s, dir).select(col("doc_id"), planted.as("text")),
          col("text"), col("doc_id"))
        .orderBy("doc_id")
    }),
    "p_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(docs(s, dir), col("text"), col("doc_id"))
        .orderBy("doc_id")),
    "p_token_counts" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
          TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy("doc_id")),
    "p_lang_id" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.languageId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),
    "p_lang_id_accuracy" -> ((s, dir) =>
      docs(s, dir).select(
          (TextAnalysis.languageId(col("text")) === col("lang")).cast("long").as("hit"))
        .agg(sum(col("hit")).as("hits"), count(lit(1)).as("total"))),
    "p_quality" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),
    "p_fingerprint" -> ((s, dir) =>
      TextAnalysis.withShingles(docsWithDups(s, dir).select(col("doc_id"), col("text")),
          col("text"))
        .select(col("doc_id"),
          TextAnalysis.fingerprintFromShingles(col("_sh"), Hashing.Md5.plain).as("fp"))
        .orderBy("doc_id")),

    // -- similarity search --------------------------------------------------
    "p_ann_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e, col("vec_id"), col("embedding"),
          e.where(col("vec_id") < 5), col("vec_id"), col("embedding"), k = 5)
        .orderBy("query_id", "rank")
    }),
    "p_ann_ivf_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfTopK(e, col("vec_id"), col("embedding"),
          e.where(col("vec_id") < 5), col("vec_id"), col("embedding"),
          k = 5, numCentroids = 16, dim = 64, nprobe = 4)
        .orderBy("query_id", "rank")
    }),
    "p_ann_ivf_trained" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfTopKWith(e, col("vec_id"), col("embedding"),
          e.where(col("vec_id") < 5), col("vec_id"), col("embedding"),
          trainedCents(s, dir).map(_.map(_.toDouble)), k = 5, nprobe = 4)
        .orderBy("query_id", "rank")
    }),
    // one row: hit counts of trained vs seeded IVF against the brute-force
    // ground truth at the SAME probe budget; the oracle (dynamicOracles)
    // recomputes both counts in DuckDB and pins trained_not_worse to TRUE
    "p_ann_recall_claim" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.where(col("vec_id") < 5)
      def ids(df: DataFrame) = df.select(col("query_id"), col("corpus_id"))
      val gt = ids(Similarity.bruteForceTopK(e, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 10))
      val tr = ids(Similarity.ivfTopKWith(e, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"),
        trainedCents(s, dir).map(_.map(_.toDouble)), k = 10, nprobe = 4))
      val sd = ids(Similarity.ivfTopK(e, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"),
        k = 10, numCentroids = 16, dim = 64, nprobe = 4))
      val ht = tr.join(gt, Seq("query_id", "corpus_id"))
        .agg(count(lit(1)).as("hits_trained"))
      val hs = sd.join(gt, Seq("query_id", "corpus_id"))
        .agg(count(lit(1)).as("hits_seeded"))
      ht.crossJoin(hs).select(col("hits_trained"), col("hits_seeded"),
        (col("hits_trained") >= col("hits_seeded")).as("trained_not_worse"))
    }),

    // -- dynamic-JSON (variant) mode ----------------------------------------
    "v_json_props_violations" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val spec = graft.spec.SpecParser.parse(
        """{"type":"object","required":["k"],
           "properties":{"k":{"type":"integer","minimum":0,"maximum":50}}}""")
      graft.run.Validator.validateJson(ev, spec, "props", docId = "event_id", part = None)
        .violations.drop("rank").drop("part")
        .repartition(1).sortWithinPartitions("doc_id", "constraint_id")
    }),

    // -- relational coverage (window / sort-limit / set ops) ----------------
    "q_window_top_orders" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
        .select(col("o_custkey"), col("rk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "rk")
    }),
    "q_topk_longest_docs" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), col("n_chars"))
        .orderBy(col("n_chars").desc, col("doc_id")).limit(10)),
    "q_set_ops" -> ((s, dir) => {
      val d = docs(s, dir)
      val en = d.where(col("lang") === "en").select(col("doc_id"))
      val src1 = d.where(col("source") === "src1").select(col("doc_id"))
      en.intersect(src1).union(en.except(src1).limit(0)).orderBy("doc_id")
    }),
    "q_join_broadcast_dim" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val orders = s.read.parquet(s"$dir/orders.parquet")
      li.join(broadcast(orders), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .orderBy("o_orderpriority")
    })
  )

  // -- DuckDB oracle SQL ----------------------------------------------------

  private val normWords =
    "list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}]+'), w -> len(w) > 0)"
  private val contentKeySql = s"md5(array_to_string($normWords, ' '))"
  private val docsWithDupsSql =
    """(SELECT * FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
        FROM documents WHERE doc_id < 50)"""
  private val wsTokSql =
    "CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END"
  private val bpeTokSql =
    """len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+'))"""
  private def langScore(re: String) =
    s"len(regexp_extract_all(lower(text), '$re'))"
  private val langCaseSql = {
    val scores = TextAnalysis.LangProfiles.map { case (l, re) => l -> langScore(re.replace("\\", "\\")) }
    val best = s"greatest(${scores.map(_._2).mkString(", ")})"
    val cases = scores.map { case (l, s) => s"WHEN $s = __best AND __best > 0 THEN '$l'" }
      .mkString(" ")
    s"""CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
        $cases ELSE 'und' END""" -> best
  }

  /** DuckDB twin of `Hashing.Md5`. */
  private def h64(x: String) = graft.pipeline.Hashing.Md5Sql.plain(x)
  private def h64s(x: String, seed: String) = graft.pipeline.Hashing.Md5Sql.seeded(x, seed)

  /** DuckDB twin of `TextAnalysis.shinglesFromWords` (k=3): NB
    * `array_to_string([], ' ')` is NULL in DuckDB (Spark gives ""), hence
    * the len=0 arm. */
  private val shinglesSql =
    """CASE WHEN len(words) = 0 THEN ['']
            WHEN len(words) <= 3 THEN [array_to_string(words, ' ')]
            ELSE list_transform(generate_series(1, len(words) - 2),
                                i -> array_to_string(words[i:i+2], ' ')) END"""

  /** Shared MinHash CTE chain over a (doc_id, text) relation: words →
    * shingles → one base hash per shingle → 32 affine-lane minima
    * (Hashing.Mix — exact integer twins of the Spark lanes) → 8 band
    * buckets. */
  private def minhashCtes(rel: String): String = {
    val sigExprs = (0 until 32)
      .map(i => s"list_min(list_transform(hb, x -> ${Hashing.Mix.laneSql("x", i)}))")
      .mkString(", ")
    s"""wd AS (SELECT doc_id, $normWords AS words FROM $rel),
        shd AS (SELECT doc_id, $shinglesSql AS sh FROM wd),
        shb AS (SELECT doc_id, sh,
                       list_transform(sh, s -> ${Hashing.Mix.baseSql("s")}) AS hb
                FROM shd),
        sig AS (SELECT doc_id, [$sigExprs] AS sig FROM shb),
        bucketed AS (SELECT doc_id, g.b AS band,
                  ${h64s("array_to_string(sig[4*g.b+1 : 4*g.b+4], ',')", "g.b")} AS bucket
                FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) g),
        bsize AS (SELECT band, bucket, count(*) AS c FROM bucketed GROUP BY 1, 2)"""
  }

  /** LSH candidates + exact Jaccard over the minhash CTE chain → `ver`. */
  private val verifiedPairsCtes: String =
    """cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM bucketed a
               JOIN bucketed b ON a.band = b.band AND a.bucket = b.bucket
                              AND a.doc_id < b.doc_id
               JOIN bsize s ON s.band = a.band AND s.bucket = a.bucket
               WHERE s.c <= 64),
       dsh AS (SELECT doc_id, list_distinct(sh) AS sh FROM shd),
       ver AS (SELECT doc_a, doc_b,
                      len(list_intersect(x.sh, y.sh))::DOUBLE
                        / len(list_distinct(list_concat(x.sh, y.sh))) AS jaccard
               FROM cand
               JOIN dsh x ON x.doc_id = doc_a
               JOIN dsh y ON y.doc_id = doc_b)"""

  /** 60-bit SimHash per doc over a `d(doc_id, text)` CTE (wordless docs → 0,
    * matching explode_outer semantics). */
  private val simhashCtes: String =
    s"""w AS (SELECT doc_id, unnest($normWords) AS word FROM d),
        h AS (SELECT doc_id, ${h64("word")} AS h FROM w),
        bits AS (SELECT doc_id, g.i,
                   CASE WHEN sum(CASE WHEN (h >> g.i) & 1 = 1 THEN 1 ELSE -1 END) > 0
                        THEN (1::BIGINT << g.i) ELSE 0 END AS bit
                 FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i) g
                 GROUP BY doc_id, g.i),
        s AS (SELECT doc_id, sum(bit)::BIGINT AS simhash FROM bits GROUP BY doc_id),
        sm AS (SELECT d.doc_id, coalesce(s.simhash, 0) AS simhash
               FROM d LEFT JOIN s USING (doc_id))"""

  /** Cosine exactly as `Dedup.cosine` computes it (sequential dot folds). */
  private def cosSql(a: String, b: String) =
    s"(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))))"

  private val centroidsSqlValues: String =
    Similarity.centroids(16, 64).zipWithIndex
      .map { case (v, i) => s"(${i + 1}, ${Seeded.sqlList(v)}::DOUBLE[])" }
      .mkString(", ")

  /** TRAINED centroid matrix per sf dir (spherical k-means on a
    * deterministically ordered 512-vector sample, quantized to an int grid
    * — Similarity.trainCentroidsQuantized). Cached so the query plan and
    * the Verify-time generated oracle SQL embed the IDENTICAL matrix. */
  private val trainedCache =
    scala.collection.concurrent.TrieMap[String, Array[Array[Int]]]()
  def trainedCents(s: SparkSession, dir: String): Array[Array[Int]] =
    trainedCache.getOrElseUpdate(dir, {
      // sample size must keep pace with corpus size: 512 vectors trained
      // centroids that LOST to seeded ones on the 2000-vector sf0.1 corpus
      // (23 vs 28 ground-truth hits) — 4096 covers every test corpus while
      // staying a trivially driver-sized training set
      val sample = Similarity.sampleVectors(
        emb(s, dir).orderBy("vec_id"), col("embedding"), 4096)
      Similarity.trainCentroidsQuantized(sample, k = 16, iters = 20)
    })
  private def trainedSqlValues(s: SparkSession, dir: String): String =
    trainedCents(s, dir).zipWithIndex
      .map { case (v, i) => s"(${i + 1}, ${Seeded.sqlList(v)}::DOUBLE[])" }
      .mkString(", ")

  /** IVF top-k oracle SQL parameterized by the literal centroid VALUES —
    * shared by the seeded (static) and trained (Verify-time) variants. */
  private def ivfTopkSql(centsVals: String, k: Int, nprobe: Int): String =
    s"""WITH cents(cid, cv) AS (VALUES $centsVals),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cscore AS (SELECT e.vec_id, c.cid, ${cosSql("e.v", "c.cv")} AS s
                   FROM e CROSS JOIN cents c),
        assign AS (SELECT vec_id, cid FROM (
                     SELECT vec_id, cid,
                            row_number() OVER (PARTITION BY vec_id
                                               ORDER BY s DESC, cid) AS rn
                     FROM cscore) WHERE rn = 1),
        probes AS (SELECT vec_id AS query_id, cid FROM (
                     SELECT vec_id, cid,
                            row_number() OVER (PARTITION BY vec_id
                                               ORDER BY s DESC, cid) AS rn
                     FROM cscore WHERE vec_id < 5) WHERE rn <= $nprobe),
        scored AS (SELECT p.query_id, a.vec_id AS corpus_id,
                          ${cosSql("cv2.v", "qv.v")} AS cos
                   FROM probes p
                   JOIN assign a ON a.cid = p.cid
                   JOIN e cv2 ON cv2.vec_id = a.vec_id
                   JOIN e qv ON qv.vec_id = p.query_id
                   WHERE a.vec_id != p.query_id),
        ranked AS (SELECT query_id, corpus_id, cos,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY cos DESC, corpus_id) AS rank
                   FROM scored)
        SELECT query_id, rank::INT AS rank, corpus_id, round(cos, 4) AS cos
        FROM ranked WHERE rank <= $k ORDER BY query_id, rank"""

  /** One parameterized IVF top-k SET (query_id, corpus_id) as CTEs named
    * with suffix `p` over centroid cte `cents` — composed twice by the
    * recall-claim oracle. */
  private def ivfSetCtes(p: String, cents: String, k: Int, nprobe: Int): String =
    s"""cs$p AS (SELECT e.vec_id, c.cid, ${cosSql("e.v", "c.cv")} AS s
                 FROM e CROSS JOIN $cents c),
        asg$p AS (SELECT vec_id, cid FROM (
                   SELECT vec_id, cid,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY s DESC, cid) AS rn
                   FROM cs$p) WHERE rn = 1),
        pr$p AS (SELECT vec_id AS query_id, cid FROM (
                   SELECT vec_id, cid,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY s DESC, cid) AS rn
                   FROM cs$p WHERE vec_id < 5) WHERE rn <= $nprobe),
        scd$p AS (SELECT p.query_id, a.vec_id AS corpus_id,
                         ${cosSql("cv2.v", "qv.v")} AS cos
                  FROM pr$p p
                  JOIN asg$p a ON a.cid = p.cid
                  JOIN e cv2 ON cv2.vec_id = a.vec_id
                  JOIN e qv ON qv.vec_id = p.query_id
                  WHERE a.vec_id != p.query_id),
        top$p AS (SELECT query_id, corpus_id FROM (
                   SELECT query_id, corpus_id,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY cos DESC, corpus_id) AS rank
                   FROM scd$p) WHERE rank <= $k)"""

  /** Recall-CLAIM oracle: recomputes ground truth (brute-force top-10) and
    * both IVF top-10 sets (trained + seeded) entirely in DuckDB, emits the
    * two hit counts — and pins `trained_not_worse` to literal TRUE, so a
    * trained matrix that fails to beat-or-match the seeded baseline at the
    * same probe budget is a hash MISMATCH, not a silently-agreeing row. */
  private def recallClaimSql(trainedVals: String): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        tc(cid, cv) AS (VALUES $trainedVals),
        sc(cid, cv) AS (VALUES $centroidsSqlValues),
        gt AS (SELECT query_id, corpus_id FROM (
                 SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                        row_number() OVER (PARTITION BY q.vec_id
                                           ORDER BY ${cosSql("c.v", "q.v")} DESC,
                                                    c.vec_id) AS rank
                 FROM e c CROSS JOIN (SELECT * FROM e WHERE vec_id < 5) q
                 WHERE c.vec_id != q.vec_id) WHERE rank <= 10),
        ${ivfSetCtes("t", "tc", 10, 4)},
        ${ivfSetCtes("s", "sc", 10, 4)}
        SELECT
          (SELECT count(*) FROM topt t JOIN gt g
             ON t.query_id = g.query_id AND t.corpus_id = g.corpus_id)
            AS hits_trained,
          (SELECT count(*) FROM tops t JOIN gt g
             ON t.query_id = g.query_id AND t.corpus_id = g.corpus_id)
            AS hits_seeded,
          true AS trained_not_worse"""

  /** Oracles that must be generated at Verify time because they embed
    * DATA-DEPENDENT literals (the trained centroid matrix differs per sf
    * dir, while `SparkEntry.oracleSql` is static) — Verify evaluates these
    * with the live session + sf dir and merges them into oracle_sql.json,
    * so the driver's DuckDB gate covers the trained path too. */
  val dynamicOracles: Map[String, (SparkSession, String) => String] = Map(
    "p_ann_ivf_trained" -> ((s, dir) =>
      ivfTopkSql(trainedSqlValues(s, dir), k = 5, nprobe = 4)),
    "p_ann_recall_claim" -> ((s, dir) =>
      recallClaimSql(trainedSqlValues(s, dir)))
  )

  private val hyperplanesSqlValues: String =
    Seeded.matrix(12, 64, 42L).zipWithIndex
      .map { case (v, p) => s"($p, ${Seeded.sqlList(v)}::DOUBLE[])" }
      .mkString(", ")

  val oracles: Map[String, String] = Map(
    "x_duplicate_keys" ->
      s"""SELECT $contentKeySql AS k, count(*) AS cnt
          FROM $docsWithDupsSql GROUP BY 1 HAVING count(*) > 1 ORDER BY k""",
    // the ONE hot key (event_id % 10 < 3 → 30% of the table) is the only
    // duplicate; every 'k'||id key is unique by construction
    "x_skew_uniqueness" ->
      """SELECT 'hot' AS doc_id,
                count(*)::VARCHAR AS observed,
                count(*) AS n
         FROM events WHERE event_id % 10 < 3""",
    "x_skew_uniform" ->
      """SELECT 'x' AS doc_id, 'x' AS observed, 0::BIGINT AS n WHERE false""",
    "x_referential_orphans" ->
      """SELECT c_custkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_custkey % 10 != 3)
         ORDER BY c_custkey""",
    "x_referential_large" ->
      """SELECT o_orderpriority AS part,
                CAST(o_orderkey AS VARCHAR) AS doc_id,
                1001 AS rank,
                'dataset/referential:o_custkey' AS constraint_id,
                '.o_custkey' AS path,
                CAST(o_custkey AS VARCHAR) AS observed,
                'Expected "o_custkey" to reference a value in the dimension table' AS message
         FROM orders
         WHERE o_custkey IS NOT NULL
           AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 10 != 3)
         ORDER BY doc_id""",
    "x_drift_documents" ->
      """WITH h AS (SELECT source AS part, lang AS bucket, count(*)::DOUBLE AS c
                    FROM documents GROUP BY 1, 2),
         t AS (SELECT part, sum(c) AS t FROM h GROUP BY 1),
         b AS (SELECT bucket, sum(c) AS bc FROM h GROUP BY 1),
         bt AS (SELECT sum(bc) AS bt, count(*)::DOUBLE AS k FROM b),
         grid AS (SELECT t.part, t.t, b.bucket, b.bc, bt.bt, bt.k,
                         coalesce(h.c, 0) AS c
                  FROM t CROSS JOIN b CROSS JOIN bt
                  LEFT JOIN h ON h.part IS NOT DISTINCT FROM t.part
                                AND h.bucket = b.bucket),
         pq AS (SELECT part, t, (c + 0.5) / (t + 0.5 * k) AS p,
                       (bc + 0.5) / (bt + 0.5 * k) AS q FROM grid)
         SELECT part, round(sum(p * ln(p / q)), 3) AS kl,
                round(sum((p - q) * ln(p / q)), 3) AS psi,
                max(t)::BIGINT AS total
         FROM pq GROUP BY part ORDER BY part""",
    "x_partition_stats" ->
      """SELECT source AS part, count(*) AS total,
                min(n_chars) AS n_chars_min, max(n_chars) AS n_chars_max,
                round(avg(n_chars), 4) AS n_chars_avg,
                count(DISTINCT lang) AS lang_distinct,
                count(*) FILTER (WHERE text IS NULL) AS text_nulls
         FROM documents GROUP BY 1 ORDER BY part""",
    "x_metrics_sketch" ->
      """SELECT source AS part, count(*) AS total,
                min(n_chars) AS n_chars_min, max(n_chars) AS n_chars_max,
                round(avg(n_chars), 4) AS n_chars_avg,
                count(*) FILTER (WHERE doc_id IS NULL) AS doc_id_nulls,
                count(*) FILTER (WHERE lang IS NULL) AS lang_nulls,
                true AS hll_key_ok, true AS hll_cat_ok,
                true AS gk_q50_ok
         FROM documents GROUP BY 1 ORDER BY part""",
    "p_exact_dup_groups" ->
      s"""SELECT $contentKeySql AS content_key, count(*) AS cnt,
                 min(doc_id) AS keep_doc_id
          FROM $docsWithDupsSql GROUP BY 1 HAVING count(*) > 1 ORDER BY content_key""",
    "p_exact_drop_list" ->
      s"""WITH keyed AS (SELECT $contentKeySql AS content_key, doc_id FROM $docsWithDupsSql),
          groups AS (SELECT content_key, count(*) AS cnt, min(doc_id) AS keep_doc_id
                     FROM keyed GROUP BY 1 HAVING count(*) > 1)
          SELECT k.doc_id, k.content_key, g.keep_doc_id
          FROM keyed k JOIN groups g USING (content_key)
          WHERE k.doc_id != g.keep_doc_id ORDER BY k.doc_id""",
    // the exact columns are recomputed from scratch (set membership via
    // IN); the two sketch-contract booleans are pinned TRUE
    "p_bloom_dedup" ->
      s"""WITH d AS (SELECT doc_id, text FROM $docsWithDupsSql dd WHERE text IS NOT NULL),
          hist AS (SELECT DISTINCT $contentKeySql AS k FROM d WHERE doc_id % 2 = 0),
          batch AS (SELECT $contentKeySql AS k FROM d WHERE doc_id % 2 <> 0)
          SELECT count(*) AS batch_total,
                 sum(CASE WHEN k IN (SELECT k FROM hist) THEN 1 ELSE 0 END)::BIGINT
                   AS true_dups,
                 TRUE AS no_false_negatives,
                 TRUE AS fp_ok
          FROM batch""",
    "p_minhash_neardups" ->
      s"""WITH d AS (SELECT doc_id, text FROM $docsWithDupsSql dd WHERE text IS NOT NULL),
          ${minhashCtes("d")},
          $verifiedPairsCtes
          SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard
          FROM ver WHERE jaccard >= 0.9 ORDER BY doc_a, doc_b""",
    "p_neardup_drop_list" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, text FROM $docsWithDupsSql dd WHERE text IS NOT NULL),
          ${minhashCtes("d")},
          $verifiedPairsCtes,
          pairs AS (SELECT doc_a, doc_b FROM ver WHERE jaccard >= 0.9),
          e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
          nodes AS (SELECT DISTINCT a AS id FROM e),
          reach(id, r) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.a, reach.r FROM reach JOIN e ON e.b = reach.id),
          comp AS (SELECT id, min(r) AS label FROM reach GROUP BY id)
          SELECT id AS doc_id, label AS keep_doc_id
          FROM comp WHERE id != label ORDER BY doc_id""",
    // Oracle is the COMPLETE inverted-index join (all pairs sharing ANY
    // shingle) — the Spark side's prefix filter claims exactness, so its
    // output must equal the unfiltered ground truth, not approximate it.
    "p_ngram_jaccard" ->
      s"""WITH d AS (SELECT doc_id, text FROM $docsWithDupsSql dd WHERE text IS NOT NULL),
          wd AS (SELECT doc_id, $normWords AS words FROM d),
          shd AS (SELECT doc_id, $shinglesSql AS sh FROM wd),
          dsh AS (SELECT doc_id, list_distinct(sh) AS sh FROM shd),
          -- the '' zero-word sentinel is not shared content (operator twin)
          ex AS (SELECT doc_id, unnest(sh) AS s FROM dsh),
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   WHERE a.s <> ''),
          ver AS (SELECT doc_a, doc_b,
                         len(list_intersect(x.sh, y.sh))::DOUBLE
                           / len(list_distinct(list_concat(x.sh, y.sh))) AS jaccard
                  FROM cand
                  JOIN dsh x ON x.doc_id = doc_a
                  JOIN dsh y ON y.doc_id = doc_b)
          SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard
          FROM ver WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""",
    "p_minhash_dropped_buckets" ->
      s"""WITH d AS (SELECT doc_id * 100 + g.i AS doc_id, text
                     FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS i) g
                     WHERE documents.doc_id < 20 AND text IS NOT NULL),
          ${minhashCtes("d")}
          SELECT band, bucket, c::BIGINT AS bucket_size
          FROM bsize WHERE c > 8 ORDER BY band, bucket""",
    "p_simhash" ->
      s"""WITH d AS (SELECT doc_id, text FROM $docsWithDupsSql dd),
          ${simhashCtes}
          SELECT doc_id, simhash FROM sm ORDER BY doc_id""",
    "p_simhash_neardups" ->
      s"""WITH d AS (SELECT doc_id, text FROM $docsWithDupsSql dd WHERE text IS NOT NULL),
          ${simhashCtes},
          bucketed AS (SELECT doc_id, g.b AS band,
                              (simhash >> (g.b * 15)) & 32767 AS bucket
                       FROM sm CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) g),
          bsize AS (SELECT band, bucket, count(*) AS c FROM bucketed GROUP BY 1, 2),
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM bucketed a
                   JOIN bucketed b ON a.band = b.band AND a.bucket = b.bucket
                                  AND a.doc_id < b.doc_id
                   JOIN bsize s2 ON s2.band = a.band AND s2.bucket = a.bucket
                   WHERE s2.c <= 64)
          SELECT doc_a, doc_b, bit_count(xor(x.simhash, y.simhash))::INT AS hamming
          FROM cand
          JOIN sm x ON x.doc_id = doc_a
          JOIN sm y ON y.doc_id = doc_b
          WHERE bit_count(xor(x.simhash, y.simhash)) <= 6
          ORDER BY doc_a, doc_b""",
    "p_fingerprint" ->
      s"""WITH d AS (SELECT doc_id, text FROM $docsWithDupsSql dd),
          wd AS (SELECT doc_id, $normWords AS words FROM d),
          shd AS (SELECT doc_id, $shinglesSql AS sh FROM wd)
          SELECT doc_id, list_min(list_transform(sh, s -> ${h64("s")})) AS fp
          FROM shd ORDER BY doc_id""",
    "p_embedding_neardups" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          all_e AS (SELECT * FROM e
                    UNION ALL
                    SELECT vec_id + 1000000, v FROM e WHERE vec_id = 7),
          pl(p, plane) AS (VALUES $hyperplanesSqlValues),
          b AS (SELECT vec_id,
                       sum(CASE WHEN list_dot_product(v, plane) > 0
                                THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
                FROM all_e CROSS JOIN pl GROUP BY vec_id),
          bv AS (SELECT b.vec_id, b.bucket, e2.v
                 FROM b JOIN all_e e2 ON e2.vec_id = b.vec_id),
          bs AS (SELECT bucket, count(*) AS c FROM bv GROUP BY 1),
          pairs AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
                           ${cosSql("x.v", "y.v")} AS cos
                    FROM bv x
                    JOIN bv y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
                    JOIN bs ON bs.bucket = x.bucket
                    WHERE bs.c BETWEEN 2 AND 256)
          SELECT DISTINCT id_a, id_b, round(cos, 4) AS cos
          FROM pairs WHERE cos >= 0.9999 ORDER BY id_a, id_b""",
    // same LSH-bucketed pair derivation as p_embedding_neardups, closed
    // transitively by the recursive CTE (the p_neardup_drop_list pattern)
    "p_embedding_drop_list" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          all_e AS (SELECT * FROM e
                    UNION ALL
                    SELECT vec_id + 1000000, v FROM e WHERE vec_id = 7),
          pl(p, plane) AS (VALUES $hyperplanesSqlValues),
          b AS (SELECT vec_id,
                       sum(CASE WHEN list_dot_product(v, plane) > 0
                                THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
                FROM all_e CROSS JOIN pl GROUP BY vec_id),
          bv AS (SELECT b.vec_id, b.bucket, e2.v
                 FROM b JOIN all_e e2 ON e2.vec_id = b.vec_id),
          bs AS (SELECT bucket, count(*) AS c FROM bv GROUP BY 1),
          prs AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
                  FROM bv x
                  JOIN bv y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
                  JOIN bs ON bs.bucket = x.bucket
                  WHERE bs.c BETWEEN 2 AND 256
                    AND ${cosSql("x.v", "y.v")} >= 0.9999),
          ed AS (SELECT id_a AS a, id_b AS b FROM prs
                 UNION ALL SELECT id_b, id_a FROM prs),
          nodes AS (SELECT DISTINCT a AS id FROM ed),
          reach(id, r) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT ed.a, reach.r FROM reach JOIN ed ON ed.b = reach.id),
          comp AS (SELECT id, min(r) AS label FROM reach GROUP BY id)
          SELECT id AS doc_id, label AS keep_doc_id
          FROM comp WHERE id != label ORDER BY doc_id""",
    // same word-normalization + k=3 shingle twin as the Jaccard family;
    // eval shingles distinct'd, corpus rows counted by distinct overlap
    "p_decontaminate" ->
      s"""WITH wd AS (SELECT doc_id, $normWords AS words FROM documents),
          shd AS (SELECT doc_id, $shinglesSql AS sh FROM wd),
          cs AS (SELECT doc_id, unnest(sh) AS s FROM shd WHERE doc_id % 97 <> 0),
          es AS (SELECT DISTINCT s FROM
                   (SELECT unnest(sh) AS s FROM shd WHERE doc_id % 97 = 0) e
                 WHERE s <> '')
          SELECT cs.doc_id, count(DISTINCT cs.s) AS matched_shingles
          FROM cs JOIN es ON cs.s = es.s
          GROUP BY cs.doc_id ORDER BY doc_id""",
    // membership is a pure function of md5(doc_id string form) — ties
    // broken by doc_id; DuckDB reproduces the Spark sample bit-for-bit
    "p_quota_sample" ->
      s"""SELECT doc_id, source FROM (
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY ${h64("doc_id::VARCHAR")}, doc_id) AS rn
            FROM documents) t
          WHERE rn <= 50 ORDER BY source, doc_id""",
    "p_mixture" ->
      s"""WITH pk AS (SELECT source, count(*) AS docs,
                             sum(($wsTokSql)::BIGINT)::BIGINT AS tokens
                      FROM documents GROUP BY source),
          t AS (SELECT sum(docs) AS td, sum(tokens) AS tt FROM pk)
          SELECT source, docs, tokens,
                 floor(docs::DOUBLE * 1000000.0 / td::DOUBLE)::BIGINT AS doc_ppm,
                 floor(tokens::DOUBLE * 1000000.0 / tt::DOUBLE)::BIGINT AS token_ppm
          FROM pk CROSS JOIN t ORDER BY source""",
    // token-budget sampling re-derived end-to-end: totals → budgets →
    // keep-ppm (identical IEEE double expression) → md5-ppm membership →
    // per-source rollup
    "p_token_budget" ->
      s"""WITH tot AS (SELECT source, sum($wsTokSql)::BIGINT AS t
                       FROM documents GROUP BY source),
          bud AS (SELECT source,
                         CASE WHEN source LIKE '%1' THEN t * 2
                              ELSE floor(t / 3)::BIGINT END AS budget
                  FROM tot),
          frac AS (SELECT source,
                          floor(least(1000000.0,
                            budget::DOUBLE * 1000000.0 / t::DOUBLE))::BIGINT
                            AS keep_ppm
                   FROM tot JOIN bud USING (source)
                   WHERE budget > 0),
          kept AS (SELECT d.source, $wsTokSql AS tok
                   FROM documents d JOIN frac USING (source)
                   WHERE (${h64("doc_id::VARCHAR")} % 1000000) < keep_ppm)
          SELECT source, count(*) AS kept_docs, sum(tok)::BIGINT AS kept_tokens
          FROM kept GROUP BY source ORDER BY source""",
    // split membership is a pure function of md5(doc_id string) ppm
    // buckets — min/max bucket per cell make the oracle hash-sensitive to
    // every assignment, not just the counts
    "p_split_stats" ->
      s"""WITH b AS (SELECT source,
                            (${h64("doc_id::VARCHAR")} % 1000000) AS bucket
                     FROM documents),
          s AS (SELECT source, bucket,
                       CASE WHEN bucket < 10000 THEN 'val'
                            WHEN bucket < 20000 THEN 'test'
                            ELSE 'train' END AS split
                FROM b)
          SELECT source, split, count(*) AS docs,
                 min(bucket) AS min_bucket, max(bucket) AS max_bucket
          FROM s GROUP BY source, split ORDER BY source, split""",
    // concat-and-chop placement re-derived from the same running sum; all
    // bin arithmetic is BIGINT floor division (// here, div in Spark) so
    // the compare is integer-exact
    "p_pack_stats" ->
      s"""WITH tk AS (SELECT doc_id, source AS stream,
                             coalesce(($wsTokSql), 0)::BIGINT AS tok
                      FROM documents),
          c AS (SELECT stream, tok,
                       sum(tok) OVER (PARTITION BY stream ORDER BY doc_id, tok
                                      ROWS UNBOUNDED PRECEDING) AS e
                FROM tk),
          a AS (SELECT stream, tok,
                       (e - tok) // 256 AS fb,
                       (greatest(e, e - tok + 1) - 1) // 256 AS lb
                FROM c)
          SELECT stream, count(*) AS docs, sum(tok)::BIGINT AS total_tokens,
                 ((sum(tok) + 255) // 256)::BIGINT AS n_bins,
                 sum(CASE WHEN fb <> lb THEN 1 ELSE 0 END)::BIGINT AS straddling_docs,
                 (((sum(tok) + 255) // 256) * 256 - sum(tok))::BIGINT AS tail_waste
          FROM a GROUP BY stream ORDER BY stream""",
    // line dedup re-derived: per-doc distinct trimmed lines → window df →
    // rollup; the engine groups by md5(line), the oracle by the line text
    // itself — equal grouping (md5 is collision-free at this scale), so a
    // hash-side error cannot hide
    "p_line_dedup" ->
      s"""WITH ls AS (SELECT doc_id,
                             list_distinct(list_filter(
                               list_transform(string_split(text, chr(10)),
                                              x -> trim(x)),
                               x -> len(x) > 0)) AS lls
                      FROM $docsWithDupsSql),
          dl AS (SELECT doc_id, unnest(lls) AS line FROM ls),
          dfr AS (SELECT doc_id,
                         count(*) OVER (PARTITION BY line) AS dfreq
                  FROM dl)
          SELECT doc_id, count(*) AS lines,
                 sum(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END)::BIGINT AS dup_lines,
                 floor(sum(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END)::DOUBLE
                       * 1000000.0 / count(*)::DOUBLE)::BIGINT AS dup_line_ppm
          FROM dfr GROUP BY doc_id ORDER BY doc_id""",
    // exact bigrams only (rows under 2 words contribute nothing), total
    // occurrence counts, ties broken on the n-gram string
    "p_top_ngrams" ->
      s"""WITH wd AS (SELECT $normWords AS words FROM documents),
          ng AS (SELECT unnest(CASE WHEN len(words) < 2 THEN []::VARCHAR[]
                       ELSE list_transform(generate_series(1, len(words) - 1),
                                           i -> words[i] || ' ' || words[i+1])
                       END) AS ngram
                 FROM wd)
          SELECT ngram, count(*) AS cnt FROM ng
          GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 100""",
    // sessionization re-derived: epoch_us lag → gap flags → running sum →
    // rollup; all time arithmetic in integer micros
    "p_sessions" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
                           lag(epoch_us(ts)) OVER
                             (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                    FROM events WHERE ts IS NOT NULL),
          s AS (SELECT user_id, event_id, tus,
                       CASE WHEN prev IS NULL OR tus - prev > 1800000000
                            THEN 1 ELSE 0 END AS opener,
                       (sum(CASE WHEN prev IS NULL OR tus - prev > 1800000000
                                 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY user_id ORDER BY tus, event_id
                                ROWS UNBOUNDED PRECEDING))::BIGINT AS session_idx
                FROM o)
          SELECT user_id, session_idx, count(*) AS events,
                 (max(tus) - min(tus))::BIGINT AS duration_us,
                 min(CASE WHEN opener = 1 THEN event_id END) AS first_event
          FROM s GROUP BY user_id, session_idx
          ORDER BY user_id, session_idx""",
    // vocabulary from ALL docs; scoring re-derived per non-null-id doc via
    // a LEFT JOIN rollup (zero-word docs keep their row with known 0;
    // null-text docs keep a NULL word count, matching the engine)
    "p_vocab_score" ->
      s"""WITH wd AS (SELECT doc_id, $normWords AS words FROM documents),
          uw AS (SELECT unnest(words) AS word FROM wd),
          vocab AS (SELECT word, count(*) AS cnt FROM uw GROUP BY word
                    ORDER BY cnt DESC, word LIMIT 500),
          wds AS (SELECT * FROM wd WHERE doc_id IS NOT NULL),
          dw AS (SELECT doc_id, unnest(words) AS word FROM wds),
          sc AS (SELECT dw.doc_id,
                        sum(CASE WHEN v.word IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                          AS known_words,
                        sum(coalesce(v.cnt, 0))::BIGINT AS known_count_sum
                 FROM dw LEFT JOIN vocab v USING (word) GROUP BY dw.doc_id)
          SELECT w.doc_id, len(w.words) AS words,
                 coalesce(sc.known_words, 0) AS known_words,
                 coalesce(sc.known_count_sum, 0) AS known_count_sum
          FROM wds w LEFT JOIN sc USING (doc_id)
          ORDER BY doc_id""",
    // PII oracle: the identical pattern text (PiiPatterns is the single
    // source) over the identically-augmented text — counts AND the fully
    // redacted string byte-for-byte
    "p_pii_scan" -> {
      val counts = TextAnalysis.PiiPatterns.map { case (n, re, _) =>
        s"len(regexp_extract_all(text, '$re')) AS $n"
      }.mkString(", ")
      val redacted = TextAnalysis.PiiPatterns.foldLeft("text") {
        case (acc, (_, re, tag)) => s"regexp_replace($acc, '$re', '$tag', 'g')"
      }
      s"""WITH aug AS (
            SELECT doc_id, text ||
              CASE WHEN doc_id % 7 = 0
                   THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                   ELSE '' END ||
              CASE WHEN doc_id % 11 = 0
                   THEN ' host 10.0.' || (doc_id % 256)::VARCHAR || '.' ||
                        ((doc_id * 7) % 256)::VARCHAR
                   ELSE '' END ||
              CASE WHEN doc_id % 13 = 0 THEN ' call +1 555 0100' ELSE '' END ||
              CASE WHEN doc_id % 17 = 0
                   THEN ' ssn 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                   ELSE '' END AS text
            FROM documents)
          SELECT doc_id, $counts, $redacted AS redacted
          FROM aug ORDER BY doc_id"""
    },
    // the oracle counts per-distinct-bigram occurrences (n² at test scale);
    // the engine's run-length-over-sorted derivation must agree exactly
    "p_repetition" ->
      s"""WITH wd AS (SELECT doc_id, $normWords AS words FROM documents),
          bgd AS (SELECT doc_id, words,
                   CASE WHEN len(words) < 2 THEN []::VARCHAR[]
                        ELSE list_transform(generate_series(1, len(words) - 1),
                                            i -> words[i] || ' ' || words[i+1]) END AS bg
                  FROM wd),
          tp AS (SELECT doc_id, words, bg,
                   CASE WHEN len(bg) = 0 THEN 0
                        ELSE list_max(list_transform(list_distinct(bg),
                               b -> len(list_filter(bg, x -> x = b)))) END AS top
                 FROM bgd)
          SELECT doc_id,
                 len(words) AS words,
                 CASE WHEN len(words) > 0
                      THEN round(1.0 - len(list_distinct(words))::DOUBLE / len(words), 4)
                      ELSE 0.0 END AS dup_word_frac,
                 len(bg) AS bigrams,
                 top AS top_bigram_count,
                 CASE WHEN len(bg) > 0 THEN round(top::DOUBLE / len(bg), 4)
                      ELSE 0.0 END AS top_bigram_frac
          FROM tp ORDER BY doc_id""",
    "p_token_counts" ->
      s"""SELECT doc_id, $wsTokSql AS ws_tokens, $bpeTokSql AS bpe_tokens
          FROM documents ORDER BY doc_id""",
    "p_lang_id" -> {
      val (caseSql, best) = langCaseSql
      s"""SELECT doc_id, $caseSql AS lang_pred
          FROM (SELECT doc_id, text, $best AS __best FROM documents)
          ORDER BY doc_id"""
    },
    "p_lang_id_accuracy" -> {
      val (caseSql, best) = langCaseSql
      s"""SELECT sum(CASE WHEN ($caseSql) = lang THEN 1 ELSE 0 END)::BIGINT AS hits,
                 count(*) AS total
          FROM (SELECT doc_id, text, lang, $best AS __best FROM documents)"""
    },
    "p_quality" ->
      s"""SELECT doc_id, round((
            (CASE WHEN words >= 10 AND words <= 10000 THEN 1.0 ELSE 0.0 END) +
            (CASE WHEN words > 0 AND n_chars_d / words >= 2 AND n_chars_d / words <= 12
                  THEN 1.0 ELSE 0.0 END) +
            (CASE WHEN n_chars_d > 0 AND punct / n_chars_d <= 0.2 THEN 1.0 ELSE 0.0 END) +
            least(CASE WHEN n_chars_d > 0 THEN alpha / n_chars_d ELSE 0.0 END * 1.25, 1.0)
          ) / 4.0, 4) AS quality
          FROM (SELECT doc_id,
                       length(text)::DOUBLE AS n_chars_d,
                       ($wsTokSql)::DOUBLE AS words,
                       len(regexp_extract_all(text, '[.,;:!?]'))::DOUBLE AS punct,
                       len(regexp_extract_all(text, '[\\p{L}]'))::DOUBLE AS alpha
                FROM documents)
          ORDER BY doc_id""",
    "p_ann_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                  list_cosine_similarity(c.v, q.v) AS cos
           FROM e c CROSS JOIN (SELECT * FROM e WHERE vec_id < 5) q
           WHERE c.vec_id != q.vec_id),
         ranked AS (
           SELECT query_id, corpus_id, cos,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, corpus_id) AS rank
           FROM scored)
         SELECT query_id, rank::INT AS rank, corpus_id, round(cos, 4) AS cos
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    "p_ann_ivf_topk" -> ivfTopkSql(centroidsSqlValues, k = 5, nprobe = 4),
    "v_json_props_violations" ->
      """WITH k AS (SELECT event_id, CAST(json_extract(props, '$.k') AS DOUBLE) AS kv,
                           json_extract(props, '$.k') IS NOT NULL AS has_k
                    FROM events)
         SELECT event_id AS doc_id, constraint_id, path, observed, message FROM (
           SELECT event_id, './required:k' AS constraint_id, '.' AS path,
                  props AS observed,
                  'Expected required property "k" to be set' AS message
           FROM events WHERE json_extract(props, '$.k') IS NULL
           UNION ALL
           SELECT event_id, '.k/type:integer', '.k', CAST(kv AS VARCHAR),
                  'Expected numeric value to be an integer'
           FROM k WHERE has_k AND kv != floor(kv)
           UNION ALL
           SELECT event_id, '.k/minimum', '.k', CAST(kv AS VARCHAR),
                  'Expected numeric value be greater than or equal to 0'
           FROM k WHERE has_k AND kv < 0
           UNION ALL
           SELECT event_id, '.k/maximum', '.k', CAST(kv AS VARCHAR),
                  'Expected numeric value be less than or equal to 50'
           FROM k WHERE has_k AND kv > 50
         ) ORDER BY doc_id, constraint_id""",
    "q_window_top_orders" ->
      """SELECT o_custkey, rk::INT AS rk, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""",
    "q_topk_longest_docs" ->
      """SELECT doc_id, n_chars FROM documents
         ORDER BY n_chars DESC, doc_id LIMIT 10""",
    "q_set_ops" ->
      """SELECT doc_id FROM documents WHERE lang = 'en'
         INTERSECT
         SELECT doc_id FROM documents WHERE source = 'src1'
         ORDER BY doc_id""",
    "q_join_broadcast_dim" ->
      """SELECT o_orderpriority, count(*) AS n,
                round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY 1"""
  )
}
