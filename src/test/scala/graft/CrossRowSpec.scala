package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.data.SequenceGen
import graft.dataset.CrossRow
import graft.drift.Drift
import graft.run.{Suite, Validator}
import graft.spec.SpecParser

import Harness.spark

/** Cross-row operators: salted dedup, referential, consistency, drift —
  * over the deterministic generated sequences table. */
class CrossRowSpec extends AnyFunSuite {

  lazy val seqs = SequenceGen.sequences(spark, 3000L, numParts = 4).cache()
  lazy val dim = SequenceGen.dimSources(spark)

  test("generator is deterministic and partitioning-invariant") {
    val a = SequenceGen.sequences(spark, 500L, 4).orderBy("doc_id", "n_tok")
      .collect().map(_.toString)
    val b = SequenceGen.sequences(spark, 500L, 4).repartition(7).orderBy("doc_id", "n_tok")
      .collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("generator bytes are PINNED across code changes (cross-release signature)") {
    // order-insensitive full-row hash signature of sequences(50000, 16),
    // recorded before the overflow-safe mod-Vocab token rewrite and
    // verified identical after it (the same hash + count, below) — scaling runs depend on
    // "identical bytes at every parallelism AND every code revision"
    import org.apache.spark.sql.functions._
    val sig = SequenceGen.sequences(spark, 50000L, 16)
      .select(xxhash64(col("doc_id"), col("tokens"), col("n_tok"),
        col("source"), col("part")).as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(1000003L))),
        sum(pmod(col("h"), lit(999983L))), sum(pmod(col("h"), lit(7919L))))
      .collect()(0)
    assert(sig.toSeq == Seq(50000L, 25028523574L, 25036729454L, 198084015L), sig.toSeq)
  }

  test("duplicateKeys finds exactly the injected duplicates (salted two-stage)") {
    val dups = CrossRow.duplicateKeys(seqs, "doc_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // hot ids: rows where id % 101 == 17 collapse onto doc-…0000..0002
    val hot = dups.filter(_._2 > 5)
    assert(hot.keySet == Set("doc-000000000000", "doc-000000000001", "doc-000000000002"))
    // plain duplicates: id % 1000 == 0 (id>0) reuses id-1 → cnt == 2
    assert(dups("doc-000000000999") == 2)
    assert(dups("doc-000000001999") == 2)
    // invariant under repartitioning (the salting correctness property)
    val dups2 = CrossRow.duplicateKeys(seqs.repartition(11), "doc_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dups == dups2)
  }

  test("NULL keys never collide: duplicateKeys and uniqueness both ignore them") {
    val df = seqs.withColumn("doc_id",
      when(col("doc_id").isin("doc-000000000999", "doc-000000000100", "doc-000000000101"),
        lit(null).cast("string")).otherwise(col("doc_id")))
    assert(df.where(col("doc_id").isNull).count() > 1)
    val dups = CrossRow.duplicateKeys(df, "doc_id").collect().map(_.getString(0)).toSet
    assert(!dups.contains(null), s"a NULL key was reported as duplicated: $dups")
    val flagged = CrossRow.uniqueness(df, "doc_id", "part").violations
    assert(flagged.where(col("doc_id").isNull).count() == 0)
    assert(flagged.select("doc_id").distinct().collect().map(_.getString(0)).toSet == dups)
  }

  test("uniqueness validation counts every row of a duplicated key as violating") {
    val v = CrossRow.uniqueness(seqs, "doc_id", "part")
    val perPart = v.verdicts.collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    val totalViolations = perPart.values.sum
    val expected = CrossRow.duplicateKeys(seqs, "doc_id")
      .agg(sum("cnt")).collect()(0).getLong(0)
    assert(totalViolations == expected)
    assert(v.violations.count() == expected)
  }

  test("referential: unknown sources flagged, nulls are not FK violations") {
    val v = CrossRow.referential(seqs, "source", dim, "source")
    val observed = v.violations.select("observed").distinct().collect().map(_.getString(0)).toSet
    assert(observed == Set("spam"))
    val expected = seqs.where(col("source") === "spam").count()
    assert(v.violations.count() == expected)
  }

  test("referentialLargeDim is row-for-row identical to the broadcast referential") {
    // same contract, different physical strategy (distinct-FK anti-join for
    // dims too big to broadcast) — outputs must be indistinguishable
    val a = CrossRow.referential(seqs, "source", dim, "source")
    val b = CrossRow.referentialLargeDim(seqs, "source", dim, "source")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(a.violations) == rows(b.violations))
    assert(rows(a.verdicts) == rows(b.verdicts))
    assert(b.violations.count() == seqs.where(col("source") === "spam").count())
  }

  test("suite FK verdicts derived from violations equal CrossRow.referential verdicts") {
    // Suite runs the FK check inside the row pass and derives its verdicts
    // from the violation rows; the counts must be indistinguishable from the
    // standalone check's, including null-FK exclusion and zero-violation parts
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val derived = Suite.validateSequences(seqs, dim).verdicts
      .where(col("rank") === CrossRow.BaseRank + 1)
    assert(rows(derived) == rows(CrossRow.referential(seqs, "source", dim, "source").verdicts))
    assert(derived.agg(sum(col("violations"))).collect()(0).getLong(0) ==
      seqs.where(col("source") === "spam").count())
  }

  test("a NULL part keeps its counts: every verdict equals its partition's violation rows") {
    // p003 becomes the NULL partition, with a duplicated doc_id, an orphan
    // source and a row-rule break planted in it
    val planted = seqs.where(col("part") === "p001").limit(3)
      .withColumn("doc_id", lit("doc-000000000500"))
      .withColumn("source", lit("nowhere"))
      .withColumn("n_tok", lit(0).cast(seqs.schema("n_tok").dataType))
    val df = seqs.unionByName(planted.withColumn("part", lit("p003")))
      .withColumn("part", when(col("part") =!= "p003", col("part")))
    val v = Suite.validateSequences(df, dim)
    val counts = v.violations.groupBy("part", "rank").count().collect()
      .map(r => (Option(r.getString(0)), r.getInt(1)) -> r.getLong(2)).toMap
    val verdicts = v.verdicts.collect()
    for (id <- Seq("dataset/unique:doc_id", "dataset/referential:source", ".n_tok/minimum"))
      assert(verdicts.exists(r => r.isNullAt(0) && r.getString(2) == id && r.getLong(4) > 0),
        s"NULL partition lost its $id violations")
    verdicts.foreach { r =>
      val key = (Option(r.getString(0)), r.getInt(1))
      assert(r.getLong(4) == counts.getOrElse(key, 0L), s"verdict $r vs violation rows")
      assert(r.getBoolean(5) == (r.getLong(4) == 0))
    }
    assert(verdicts.filter(_.isNullAt(0)).map(_.getLong(3)).toSet ==
      Set(df.where(col("part").isNull).count()))
    // the standalone cross-row checks agree on the NULL partition
    val uniq = CrossRow.uniqueness(df, "doc_id", "part")
    val ref = CrossRow.referential(df, "source", dim, "source")
    for (c <- Seq(uniq, ref)) {
      val n = c.verdicts.where(col("part").isNull).collect()
      assert(n.length == 1 && n.head.getLong(4) == c.violations.where(col("part").isNull).count())
    }
  }

  test("consistency check flags n_tok != size(tokens) rows in the row pass") {
    val check = CrossRow.consistency("n_tok=size(tokens)",
      col("n_tok") === size(col("tokens")), col("n_tok"))
    val v = Validator.run(seqs, Vector(check), "doc_id", Some("part"))
    val expected = seqs.where(col("n_tok") =!= size(col("tokens"))).count()
    assert(expected > 0)
    assert(v.violations.count() == expected)
    assert(v.violations.select("constraint_id").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("dataset/consistency:n_tok=size(tokens)"))
  }

  test("drift: the shifted partition p000 diverges most and trips the check") {
    val big = SequenceGen.sequences(spark, 8000L, numParts = 4)
    val div = Drift.divergence(big, Drift.widthBucket(col("n_tok"), 8.0))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val p0 = div("p000")
    val others = div.removed("p000").values
    assert(others.forall(_ < p0), s"expected p000 max divergence, got $div")
    val v = Drift.validation(big, Drift.widthBucket(col("n_tok"), 8.0), "n_tok",
      klThreshold = others.max * 2)
    val failing = v.verdicts.where(!col("pass")).select("part").collect().map(_.getString(0))
    assert(failing.toSeq == Seq("p000"))
    assert(v.violations.count() == 1)
  }

  test("drift: relabeling a partition to NULL leaves its kl, psi and total unchanged") {
    val nulled = seqs.withColumn("part", when(col("part") =!= "p000", col("part")))
    for (b <- Seq(Drift.widthBucket(col("n_tok"), 8.0), col("source"))) {
      def div(df: DataFrame) = Drift.divergence(df, b).collect()
        .map(r => Option(r.getString(0)) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
      val before = div(seqs)
      assert(div(nulled) == before.map { case (p, v) => p.filter(_ != "p000") -> v })
    }
    // nor do the suite's drift verdicts and violation rows for it
    def driftRows(df: DataFrame) = {
      val v = Suite.validateSequences(df, dim)
      Seq(v.verdicts, v.violations.drop("doc_id")).map(_.where(col("rank") >= Drift.BaseRank)
        .withColumn("part", coalesce(col("part"), lit("p000")))
        .collect().map(_.toString).sorted.toSeq)
    }
    val rows = driftRows(seqs)
    assert(rows(1).exists(_.startsWith("[p000,")), s"p000 has no drift violation: $rows")
    assert(driftRows(nulled) == rows)
  }

  test("driver-side drift math agrees with an independent SQL grid") {
    // a NULL part, a one-row partition (missing almost every bucket) and
    // the NULL source bucket the generator injects
    val oneRow = seqs.where(col("source") === "books").orderBy("doc_id", "n_tok").limit(1)
      .withColumn("part", lit("p9"))
    val df = seqs.unionByName(oneRow).withColumn("part", when(col("part") =!= "p003", col("part")))
    assert(df.where(col("source").isNull).count() > 0)
    df.createOrReplaceTempView("drift_grid_input")
    val dims = Seq(
      (Drift.widthBucket(col("n_tok"), 8.0), "CAST(floor(CAST(n_tok AS DOUBLE) / 8.0D) AS BIGINT)"),
      (col("source"), "source"))
    for ((bucket, bucketSql) <- dims) {
      val expected = spark.sql(s"""
        WITH h AS (SELECT part, CAST($bucketSql AS STRING) AS bucket, count(*) AS c
                   FROM drift_grid_input GROUP BY 1, 2),
             t AS (SELECT part, sum(c) AS t FROM h GROUP BY part),
             b AS (SELECT bucket, sum(c) AS bc FROM h GROUP BY bucket),
             bt AS (SELECT sum(bc) AS bt, count(*) AS k FROM b),
             pq AS (SELECT t.part, t.t, (coalesce(h.c, 0) + 0.5D) / (t.t + 0.5D * bt.k) AS p,
                           (b.bc + 0.5D) / (bt.bt + 0.5D * bt.k) AS q
                    FROM t CROSS JOIN b CROSS JOIN bt
                    LEFT JOIN h ON h.part IS NOT DISTINCT FROM t.part AND h.bucket = b.bucket)
        SELECT part, sum(p * ln(p / q)) AS kl, sum((p - q) * ln(p / q)) AS psi,
               max(t) AS total
        FROM pq GROUP BY part""")
      def byPart(f: DataFrame) = f.select("part", "kl", "psi", "total").collect()
        .map(r => Option(r.getString(0)) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
      val got = byPart(Drift.divergence(df, bucket))
      val want = byPart(expected)
      assert(got.keySet == want.keySet && got.keySet.contains(None) && got.keySet.contains(Some("p9")))
      for ((p, (kl, psi, total)) <- want) {
        val (gkl, gpsi, gtotal) = got(p)
        assert(math.abs(gkl - kl) <= 1e-12 && math.abs(gpsi - psi) <= 1e-12 && gtotal == total,
          s"part $p: driver ($gkl, $gpsi, $gtotal) vs SQL ($kl, $psi, $total)")
      }
    }
    // the suite's two-dimension drift verdicts equal the one-dimension checks
    def rows(f: DataFrame) = f.collect().map(_.toString).sorted.toSeq
    val suite = Suite.validateSequences(df, dim).verdicts.where(col("rank") >= Drift.BaseRank)
    val single = dims.zipWithIndex.map { case ((bucket, _), i) =>
      Drift.validation(df, bucket, Seq("n_tok", "source")(i), 0.05, rank = Drift.BaseRank + i)
        .verdicts
    }.reduce(_ unionByName _)
    assert(rows(suite) == rows(single))
  }

  test("full suite unions row + cross-row + drift verdicts") {
    val v = Suite.validateSequences(seqs, dim)
    val ids = v.verdicts.select("constraint_id").distinct().collect().map(_.getString(0)).toSet
    assert(ids.contains("./required:source"))
    assert(ids.contains(".tokens/items"))
    assert(ids.contains(".n_tok/minimum"))
    assert(ids.contains("dataset/unique:doc_id"))
    assert(ids.contains("dataset/referential:source"))
    assert(ids.contains("dataset/consistency:n_tok=size(tokens)"))
    assert(ids.contains("dataset/drift:n_tok"))
    assert(ids.contains("dataset/drift:source"))
    // every injected violation class shows up
    val vio = v.violations.groupBy("constraint_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vio.contains(".tokens/items"))       // out-of-domain tokens
    assert(vio.contains(".n_tok/minimum"))      // injected zeros
    assert(vio.contains(".n_tok/maximum"))      // injected oversize
    assert(vio.contains(".source/enum"))        // spam
    assert(vio.contains("./required:source"))   // nulls
    assert(vio.contains("dataset/unique:doc_id"))
    assert(vio.contains("dataset/referential:source"))
    assert(vio.contains("dataset/consistency:n_tok=size(tokens)"))
  }

  test("checkpoint/resume: second run skips validated partitions") {
    import graft.stats.MetricsStore
    val dir = java.nio.file.Files.createTempDirectory("graft-metrics").toString
    val store = MetricsStore(s"$dir/metrics")
    // a crashing sink must NOT mark anything validated (metrics append
    // happens only after the sink materializes results)
    intercept[RuntimeException] {
      graft.run.Suite.resumableRun(seqs, dim, store,
        sink = _ => throw new RuntimeException("simulated sink crash"))
    }
    assert(graft.run.Suite.resumableRun(seqs, dim, store).isDefined,
      "crashed run left no checkpoint → everything still to-do")
    val second = graft.run.Suite.resumableRun(seqs, dim, store)
    assert(second.isEmpty, "all partitions already validated → resume skips everything")
    // partial resume: a fresh store with only half the partitions marked done
    val done = store.completedParts(spark, graft.spec.SpecJson.hash(
      SpecParser.parse(SequenceGen.SeqSpecJson)))
    assert(done.toSet == Set("p000", "p001", "p002", "p003"))
  }
}
