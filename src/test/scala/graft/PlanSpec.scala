package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dataset.CrossRow
import graft.run.Validator
import graft.spec.SpecParser

import Harness.spark

/** Physical-plan quality gates: these assertions fail if a change breaks
  * column pruning, filter pushdown, partial aggregation, or broadcast
  * strategy — the properties the 100 TB story depends on. */
class PlanSpec extends AnyFunSuite {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push down to the parquet scan") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey")).where(col("l_orderkey") > 100)
    val p = planOf(df)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint>"), p)
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), GreaterThan(l_orderkey,100)]"), p)
  }

  test("uniqueness candidate fetch scans only key+part and keeps one _kh exchange") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("part", col("source"))
    // gate the UN-checkpointed build plan (uniqueness itself wraps this in a
    // lazy localCheckpoint, which hides the lineage from explain)
    val p = planOf(CrossRow.dupCandidates(df, "doc_id", "part"))
    // neither the detection branch nor the row fetch may read text/lang/n_chars
    assert(!p.contains("ReadSchema: struct<doc_id:bigint,text"), "dup scan reads full width:\n" + p)
    // fused shape: exactly one full-data exchange (the 8 B/row hash detection)
    val khExchanges = "hashpartitioning\\(_kh".r.findAllIn(p).length
    assert(khExchanges == 1, s"expected 1 _kh exchange, got $khExchanges:\n" + p)
  }

  test("dup detection: one full-data exchange, partial-agg salt stage, no salt column") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = planOf(CrossRow.duplicateKeys(df, "doc_id"))
    // stage 1 (per-input-partition partial counts) must be the aggregate's
    // PARTIAL mode — no materialized salt column, no (key, salt) exchange
    assert(p.contains("partial_count"), "no map-side partial count:\n" + p)
    assert(!p.contains("_salt"), "salt materialized as a column (extra exchange):\n" + p)
    // exactly one full-data exchange on the key hash feeds the dup filter
    val khExchanges = "hashpartitioning\\(_kh".r.findAllIn(p).length
    assert(khExchanges == 1, s"expected 1 _kh exchange, got $khExchanges:\n" + p)
  }

  test("verdict aggregation is partially aggregated (map-side combine)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val v = Validator.validate(df, SpecParser.parse(SparkEntry.DocSpecJson),
      docId = "doc_id", part = None)
    val p = planOf(v.verdicts)
    // two HashAggregates around the exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Exchange"), p)
  }

  test("referential integrity uses a broadcast join, never shuffling the fact side") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("part", col("lang"))
    val dim = graft.data.SequenceGen.dimSources(spark)
    val v = CrossRow.referential(df, "source", dim, "source")
    val p = planOf(v.violations)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("referentialLargeDim never shuffles fact rows even when the dim can't broadcast") {
    // emulate a registry-sized dim: no automatic broadcast anywhere. The
    // only exchanges allowed are keyed on the FK column (fact-side distinct
    // partial-agg output + dim side of the anti-join); fact rows reach the
    // violation output through the broadcast-hinted orphan-set join only.
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val df = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("part", col("lang"))
    val dim = graft.data.SequenceGen.dimSources(s)
    val v = CrossRow.referentialLargeDim(df, "source", dim, "source")
    val p = planOf(v.violations)
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(_.contains("source#")),
      "exchange not keyed on the FK column:\n" + p)
    assert(!p.contains("doc_id#") || !exchanges.exists(_.contains("doc_id#")),
      "fact rows shuffled:\n" + p)
    val anti = p.linesIterator.filter(_.contains("LeftAnti")).toSeq
    assert(anti.nonEmpty && anti.forall(l => !l.contains("Broadcast")),
      "anti-join must be the shuffled form (dim too big to broadcast):\n" + p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "orphan set not broadcast back to fact rows:\n" + p)
    // partial distinct on the fact side: partial + final aggregate pair
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("packStats: the window's stream exchange is reused by the stats groupBy") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = planOf(graft.pipeline.Packing.packStats(df,
      graft.pipeline.TextAnalysis.wsTokenCount(col("text")),
      col("doc_id"), col("source"), ctx = 256))
    // placement (window over stream) and rollup (groupBy stream) must share
    // ONE exchange on the stream key — a second hashpartitioning(stream…)
    // means the groupBy re-shuffled what the window already co-located
    val streamEx = "hashpartitioning\\(stream".r.findAllIn(p).length
    assert(streamEx == 1, s"expected 1 stream exchange, got $streamEx:\n" + p)
    // the scan must not read lang/n_chars (only text + doc_id + source)
    assert(!p.contains("n_chars"), "pack scan reads unused columns:\n" + p)
  }

  test("splitAssign is a pure map-side projection — zero exchanges") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = planOf(graft.pipeline.Sampling.splitAssign(df, "doc_id"))
    assert(!p.contains("Exchange"), "split assignment shuffled:\n" + p)
  }

  test("quotaSample rank filter compiles to WindowGroupLimit (partial per-task top-k)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"))
    val p = planOf(graft.pipeline.Sampling.quotaSample(df, "source", "doc_id", 50))
    // partial mode must run BEFORE the exchange: shuffle volume is then
    // O(quota × tasks-per-key), never the table
    assert(p.contains("WindowGroupLimit"), "no WindowGroupLimit:\n" + p)
    assert(p.linesIterator.exists(l => l.contains("WindowGroupLimit") && l.contains("Partial")),
      "no PARTIAL WindowGroupLimit before the exchange:\n" + p)
  }

  test("bloom membership probe is map-only — no exchange or join on the batch side") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = planOf(graft.pipeline.Dedup.bloomMightContain(
      d.where(col("doc_id") % 2 === 0), col("doc_id"),
      d.where(col("doc_id") % 2 =!= 0), col("doc_id"), expectedItems = 10000L))
    // the whole point vs an anti-join: the batch side sees only a foldable
    // literal sketch — any Exchange/Join here means corpus-sized data moved
    assert(!p.contains("Exchange") && !p.contains("Join"),
      "bloom probe shuffled or joined:\n" + p)
    assert(p.contains("might_contain"), "no bloom probe in plan:\n" + p)
  }

  test("topNgrams: TakeOrderedAndProject top-k, no staged-lambda recompute in a Filter") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = planOf(graft.pipeline.TextAnalysis.topNgrams(df, col("text")))
    // local per-task top-k + driver merge — a global Sort here would
    // materialize every distinct n-gram ordered
    assert(p.contains("TakeOrderedAndProject"), "no TakeOrderedAndProject:\n" + p)
    assert(!p.linesIterator.exists(l => l.trim.startsWith("Filter") && l.contains("array_join")),
      "inferred filter re-inlined the n-gram lambda:\n" + p)
  }

  test("lineDupStats: a cross-document statistic in exactly two exchanges") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = planOf(graft.pipeline.Dedup.lineDupStats(df, col("text"), col("doc_id")))
    // window df over the line hash + per-doc rollup; within-doc dedup is
    // map-side array_distinct, so no third shuffle exists to pay
    val ex = "Exchange".r.findAllIn(p).length
    assert(ex == 2, s"expected 2 exchanges, got $ex:\n" + p)
  }

  test("sessionize: windows + session rollup share ONE user exchange") {
    val df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val p = planOf(graft.pipeline.Sessionize.sessions(df,
      col("user_id"), col("ts"), col("event_id"), gapSeconds = 1800))
    // lag + running sum share one partition/sort, and the rollup's
    // (user, session) clustering is satisfied by the user partitioning —
    // a second exchange means the groupBy re-shuffled the window output
    val ex = "Exchange".r.findAllIn(p).length
    assert(ex == 1, s"expected 1 exchange, got $ex:\n" + p)
  }

  test("piiScan is a pure map-side projection — zero exchanges") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = planOf(graft.pipeline.TextAnalysis.piiScan(df, col("text"), col("doc_id")))
    assert(!p.contains("Exchange"), "pii scan shuffled:\n" + p)
    // only text + doc_id read: redaction must not widen the scan
    assert(!p.contains("n_chars"), "pii scan reads unused columns:\n" + p)
  }

  test("decontamination broadcasts the eval shingles; corpus side never shuffles rows") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val flagged = graft.pipeline.Dedup.contaminatedDocs(
      df.where(col("doc_id") % 97 =!= 0), col("text"), col("doc_id"),
      df.where(col("doc_id") % 97 === 0), col("text"), col("doc_id"))
    val p = planOf(flagged)
    assert(p.contains("BroadcastHashJoin"), "eval side not broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), "corpus-sized shuffle join:\n" + p)
    // the only row exchanges after the join carry matched (doc_id, shingle)
    // rows; the corpus shingle explode itself must not be re-keyed
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.forall(l => l.contains("doc_id#") || l.contains("_s#")),
      "unexpected exchange keys:\n" + p)
    // and no inferred filter may re-inline the staged O(words²) shingle
    // lambda below the Generate (the known explode hazard)
    assert(!p.linesIterator.exists(l => l.contains("Filter") && l.contains("array_join")),
      "shingle lambda re-inlined into a Filter:\n" + p)
  }

  test("row checks compile to a single scan with zero shuffles before the verdict agg") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val v = Validator.validate(df, SpecParser.parse(SparkEntry.DocSpecJson),
      docId = "doc_id", part = None)
    val p = planOf(v.verdicts)
    assert("Scan parquet".r.findAllIn(p).size == 1, "row verdicts should scan once:\n" + p)
    assert("Exchange".r.findAllIn(p).size <= 2, "at most verdict agg + sort exchanges:\n" + p)
  }

  /** The (null-safe, cast-wrapped) resume `isin` must still reach
    * PartitionFilters — completed partitions are then never read. */
  private def assertPrunes(remaining: org.apache.spark.sql.DataFrame): Unit = {
    val p = planOf(remaining)
    assert(p.contains("PartitionFilters: [") &&
      !p.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").trim.isEmpty,
      "resume filter did not reach partition pruning:\n" + p)
  }

  test("resume filter prunes completed partitions at the file listing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prune").toString
    spark.range(100)
      .selectExpr("id", "concat('p', id % 4) AS part")
      .write.mode("overwrite").partitionBy("part").parquet(s"$dir/data")
    val store = graft.stats.MetricsStore(s"$dir/metrics")
    store.append(
      spark.sql("SELECT 'p0' AS part, 25L AS total"), "spechash", 1L)
    val remaining = store.remaining(spark.read.parquet(s"$dir/data"), "spechash")
    assertPrunes(remaining)
    assert(remaining.select(countDistinct(col("part"))).collect()(0).getLong(0) == 3)
    assert(remaining.count() == 75)
  }

  test("a store holding rows of an older stats shape still resumes, prunes and reads") {
    import graft.stats.{Metrics, MetricsStore}
    val dir = java.nio.file.Files.createTempDirectory("graft-store-shape").toString
    graft.data.SequenceGen.sequences(spark, 400L, numParts = 4)
      .write.mode("overwrite").partitionBy("part").parquet(s"$dir/data")
    val data = spark.read.parquet(s"$dir/data")
    val store = MetricsStore(s"$dir/metrics")
    // rows as stores written before the t-digest was dropped hold them:
    // today's stats plus an `n_tok_tdigest` centroid-state struct
    val oldShape = Metrics.partitionStats(data.where(col("part").isin("p000", "p001")))
      .withColumn("n_tok_tdigest", struct(
        array(col("n_tok_avg")).as("means"), array(col("total").cast("double")).as("weights")))
    assert(oldShape.schema("n_tok_tdigest").dataType.simpleString ==
      "struct<means:array<double>,weights:array<double>>")
    store.append(oldShape, "spechash", 1L)
    store.append(Metrics.partitionStats(data.where(col("part") === "p002")), "spechash", 2L)
    assert(store.completedParts(spark, "spechash").sorted == Seq("p000", "p001", "p002"))
    val remaining = store.remaining(data, "spechash")
    assertPrunes(remaining)
    assert(remaining.select("part").distinct().collect().map(_.getString(0)).toSeq == Seq("p003"))
    assert(remaining.count() == data.where(col("part") === "p003").count())
    val stored = store.read(spark).select("part", "total", "spec_hash", "run_epoch").collect()
    assert(stored.map(_.getString(0)).sorted.toSeq == Seq("p000", "p001", "p002"))
    assert(stored.map(_.getLong(1)).sum == 300L)
  }

  test("IVF bucketed layout: probes prune non-probed centroid partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).collect()(0).getInt(0)
    graft.pipeline.Similarity.ivfAssign(emb, col("embedding"), 8, dim)
      .write.mode("overwrite").partitionBy("centroid").parquet(dir)
    val probed = spark.read.parquet(dir).where(col("centroid").isin(1, 3))
    val p = planOf(probed)
    assert(p.contains("PartitionFilters: [") && p.contains("centroid"),
      "centroid probe filter did not prune partitions:\n" + p)
    // only the probed buckets' rows are read
    val total = spark.read.parquet(dir).count()
    assert(probed.count() < total)
  }

  test("variant violations keep derivations staged — no pushed-down recompute") {
    // regression gate for the r2 fix: a Filter sunk below the staged
    // projections re-inlines schema_of_variant/variant_get per CHECK
    // (NOTES_r2.md). For this 2-node spec, exactly 2 type derivations and
    // 1 parse must survive in the physical plan — duplication means a rule
    // (InferFiltersFromGenerate + PushDownPredicates) re-inlined them.
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val spec = SpecParser.parse(
      """{"type":"object","required":["k"],
         "properties":{"k":{"type":"integer","minimum":0,"maximum":50}}}""")
    val p = planOf(Validator.validateJson(ev, spec, "props", "event_id", None).violations)
    assert("SchemaOfVariant".r.findAllIn(p).size <= 2, "type derivation duplicated:\n" + p)
    assert("parseJson".r.findAllIn(p).size <= 1, "parse_json duplicated:\n" + p)
  }

  test("bucket cap filters BELOW every collect_list — no over-cap aggregation buffer") {
    // VERDICT r2 #2 gate: an over-cap (boilerplate) bucket must be dropped
    // by a Filter on the window-counted bucket_size BEFORE any collect_list
    // buffers it — structurally: Aggregate(collect_list) → Filter(bucket
    // _size) → Window in the optimized plan, for both the text-LSH and the
    // embedding pipelines.
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    import org.apache.spark.sql.catalyst.plans.logical
    def gate(df: org.apache.spark.sql.DataFrame): Unit = {
      val aggs = df.queryExecution.optimizedPlan.collect {
        case a: logical.Aggregate
            if a.aggregateExpressions.exists(_.exists(_.isInstanceOf[CollectList])) => a
      }
      assert(aggs.nonEmpty, "no collect_list aggregate found")
      aggs.foreach { a =>
        val capFilters = a.child.collect {
          case f: logical.Filter if f.condition.exists {
            case at: AttributeReference => at.name == "bucket_size"
            case _ => false
          } => f
        }
        assert(capFilters.nonEmpty,
          "collect_list has no bucket_size cap filter below it:\n" + a.treeString)
        assert(capFilters.exists(_.child.collect { case w: logical.Window => w }.nonEmpty),
          "cap filter is not fed by a window count:\n" + a.treeString)
      }
    }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    gate(graft.pipeline.Dedup.minhashCandidates(docs, col("text"), col("doc_id")))
    gate(graft.pipeline.Dedup.simhashCandidates(docs, col("text"), col("doc_id")))
    gate(graft.pipeline.Dedup.simhashNearDuplicates(docs, col("text"), col("doc_id")))
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val d = emb.select(size(col("embedding"))).collect()(0).getInt(0)
    gate(graft.pipeline.Dedup.embeddingNearDups(emb, col("embedding"), col("vec_id"), d))
  }

  test("near-dup verify payloads ride the bucket collect: no join, one window") {
    // the simhash and the vector travel inside the collected bucket, so the
    // Hamming / cosine verify reads them out of the pair: a join back onto
    // the hash pipeline would execute it again, a second window would size
    // the buckets twice
    import org.apache.spark.sql.catalyst.plans.logical
    def gate(df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.optimizedPlan
      assert(plan.collect { case j: logical.Join => j }.isEmpty, "join in:\n" + plan.treeString)
      assert(plan.collect { case w: logical.Window => w }.size == 1,
        "expected one window in:\n" + plan.treeString)
    }
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma delta")).toDF("doc_id", "text")
    gate(graft.pipeline.Dedup.simhashNearDuplicates(docs, col("text"), col("doc_id")))
    val emb = Seq((1L, Array(1.0, 2.0, 3.0)), (2L, Array(1.0, 2.0, 3.5))).toDF("vec_id", "embedding")
    gate(graft.pipeline.Dedup.embeddingNearDups(emb, col("embedding"), col("vec_id"), 3))
  }

  test("uniqueness join-back: AQE splits the hot-key partition when the dup set can't broadcast") {
    // North-rule skew clause. The dup→row join-back normally broadcasts (dup
    // set ≪ table); in the degenerate case — table-scale dup set, broadcast
    // impossible — it becomes a shuffled join keyed on doc_id, and a hot key
    // (SequenceGen plants 1% on 3 hot ids; here 1/3 on one) lands all its
    // rows in one shuffle partition. With checkpointDups=true (the
    // documented mitigation — OptimizeSkewedJoin cannot split through the
    // dup side's in-plan final aggregate, see CrossRow.uniqueness scaladoc)
    // AQE must split that partition; SortMergeJoin then prints skew=true in
    // the FINAL adaptive plan (the initial plan never shows it).
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    // every key is a dup; 1/3 of rows share ONE hot key. `part` is
    // high-entropy so the hot shuffle partition's bytes can't compress away
    // below the skew threshold (skew detection reads compressed map sizes).
    val df = s.range(200000).selectExpr(
      "CASE WHEN id % 3 = 0 THEN 'hot' ELSE concat('k', id % 50000) END AS doc_id",
      "md5(cast(id AS string)) AS part")
    val v = CrossRow.uniqueness(df, "doc_id", "part", checkpointDups = true)
    // collect() runs THIS frame's QueryExecution (count() would spawn a
    // fresh one and leave this plan un-finalized)
    assert(v.violations.collect().length > 0)
    val p = planOf(v.violations) // executed → final adaptive plan
    assert(p.contains("skew=true"), "hot-key partition was not skew-split:\n" + p)
  }

  test("suite verdicts action reads the table ONCE (other branches ride checkpoints)") {
    // row checks are the only consumer that needs the full-width row scan;
    // uniqueness candidates and the drift cube materialize once in their
    // own checkpoint lineages, and referential verdict counts + per-part
    // totals re-aggregate the cube — a second FileSourceScan in the final
    // adaptive plan means a fusion regressed
    val dir = "/tmp/graft_test/suite_scan_gate"
    graft.data.SequenceGen.sequences(spark, 20000L, 4)
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val v = graft.run.Suite.validateSequences(df, graft.data.SequenceGen.dimSources(spark))
    val agg = v.verdicts.agg(sum(col("violations")))
    agg.collect() // finalize AQE
    val nodes = graft.tools.SuitePlanProbe.walk(agg.queryExecution.executedPlan)
    val scans = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(scans == 1, s"expected 1 FileSourceScan in suite verdicts, got $scans")
  }

  test("minhash signature stage computes shingles once — no inferred-filter recompute") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val shf = graft.pipeline.Dedup.shingleFrame(df, col("text"), col("doc_id"))
    val p = planOf(graft.pipeline.Dedup.minhashSignatures(shf, 8))
    // shingle construction (array_join over word slices) must appear in ONE
    // projection only; a second occurrence means a filter was pushed below
    // the staging and re-derives the O(words²) lambda per row
    assert("array_join".r.findAllIn(p).size <= 2, "shingles recomputed:\n" + p)
  }

  test("ngram prefix index computes shingles once — no inferred-filter recompute") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val shf = graft.pipeline.Dedup.shingleFrame(df, col("text"), col("doc_id"))
    val p = planOf(graft.pipeline.Dedup.ngramPrefixCandidates(shf, 0.8))
    // InferFiltersFromGenerate + PushDownPredicates would sink a size>0
    // filter below the shingle staging, re-inlining the O(words²) lambda
    // into a per-row Filter — explode_outer keeps Filters lambda-free. The
    // staging projections themselves legitimately contain the lambda (the
    // pre-AQE plan prints both self-join sides and the dfreq arm; runtime
    // ReuseExchange collapses them).
    assert(!p.linesIterator.exists(l => l.contains("Filter") && l.contains("array_join")),
      "shingle lambda re-inlined into a Filter:\n" + p)
    assert("array_join".r.findAllIn(p).size <= 8, "unexpected extra shingle stagings:\n" + p)
  }
}
