package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import Harness.{inBothModes, spark}

/** Native graft_dot expression: registration via SparkSessionExtensions,
  * bit-parity with the HOF fold, null semantics, SQL surface, and
  * whole-stage-codegen participation. */
class ExtSpec extends AnyFunSuite {
  import spark.implicits._

  test("graft_dot is registered and bit-identical to the aggregate/zip_with fold") {
    assert(spark.catalog.functionExists("graft_dot"))
    val rnd = new scala.util.Random(1)
    val rows = Seq.fill(100)((Array.fill(64)(rnd.nextDouble()), Array.fill(64)(rnd.nextDouble())))
    val both = rows.toDF("a", "b").select(
        call_function("graft_dot", col("a"), col("b")).as("n"),
        aggregate(zip_with(col("a"), col("b"), (p, q) => p * q),
          lit(0.0d), (acc, v) => acc + v).as("h"))
      .collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1), "not bit-identical"))
  }

  test("graft_dot null semantics match zip_with padding/propagation") {
    // length mismatch → null (zip_with pads with null)
    val mism = Seq((Array(1.0, 2.0), Array(1.0))).toDF("a", "b")
      .select(call_function("graft_dot", col("a"), col("b"))).collect()(0)
    assert(mism.isNullAt(0))
    // null element → null
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, cast(null as double)), array(1.0d, 2.0d))").collect()(0)
    assert(r.isNullAt(0))
    // SQL surface + empty arrays → 0.0
    assert(spark.sql("SELECT graft_dot(array(1.0d,2.0d), array(3.0d,4.0d))")
      .collect()(0).getDouble(0) == 11.0)
    assert(spark.sql("SELECT graft_dot(cast(array() as array<double>), cast(array() as array<double>))")
      .collect()(0).getDouble(0) == 0.0)
  }

  test("graft_variant_kind agrees with schema_of_variant gates on every JSON shape") {
    assert(spark.catalog.functionExists("graft_variant_kind"))
    // the schema-string rule type gates used before the native kind: the
    // prefix of schema_of_variant, and is_variant_null for JSON null
    def prefixKind(tpe: String, jsonNull: Boolean): Int =
      if (tpe.startsWith("OBJECT")) 0
      else if (tpe.startsWith("ARRAY")) 1
      else if (tpe == "STRING") 2
      else if ("^(BIGINT|INT|SMALLINT|TINYINT|DOUBLE|FLOAT|DECIMAL)".r.findFirstIn(tpe).isDefined) 3
      else if (tpe == "BOOLEAN") 4
      else if (jsonNull) 5
      else 6
    def json(j: String) = s"parse_json('${j.replace("'", "''")}')"
    val shapes = Seq(
      json("""{"a":1}""") -> 0, json("{}") -> 0, json("""{"a":{"b":[1]}}""") -> 0,
      json("[1,2]") -> 1, json("[]") -> 1, json("""[null,"x",{}]""") -> 1,
      json("\"s\"") -> 2, json("\"\"") -> 2,
      json("5") -> 3, json("-5") -> 3, json("5.5") -> 3, json("1e60") -> 3, json("0.1") -> 3,
      json("1E2") -> 3, json("300") -> 3, json("70000") -> 3, json("9223372036854775807") -> 3,
      json("12345678901234567890123456789012345678") -> 3, json("1e400") -> 3,
      json("true") -> 4, json("false") -> 4, json("null") -> 5,
      // kinds parse_json never yields: FLOAT is a number, the rest are other
      "cast(cast(2.5 as float) as variant)" -> 3, "cast(date'2024-01-15' as variant)" -> 6,
      "cast(timestamp'2024-01-15 10:00:00' as variant)" -> 6, "cast(X'0102' as variant)" -> 6)
    shapes.foreach { case (v, expected) =>
      val r = spark.sql(
        s"SELECT graft_variant_kind($v), schema_of_variant($v), is_variant_null($v)").collect()(0)
      val prefix = prefixKind(r.getString(1), r.getBoolean(2))
      assert(r.getInt(0) == expected && prefix == expected,
        s"$v (${r.getString(1)}): kind ${r.getInt(0)}, schema prefix $prefix, expected $expected")
    }
    // SQL-null variant → null kind
    assert(spark.sql("SELECT graft_variant_kind(cast(null as variant))")
      .collect()(0).isNullAt(0))
  }

  /** In "generated" mode, `fn` must sit in a whole-stage codegen span. A
    * CodegenFallback expression (`forall`) keeps its whole projection out of
    * whole-stage codegen, so a native-vs-forall comparison runs each side as
    * its own query, matched by row id. */
  private def assertCodegen(mode: String, df: org.apache.spark.sql.DataFrame, fn: String): Unit =
    if (mode == "generated")
      assert(df.queryExecution.executedPlan.toString.linesIterator
        .exists(l => l.contains("*(") && l.contains(fn)),
        s"$fn not whole-stage codegen'd:\n" + df.queryExecution.executedPlan)

  test("graft_all_in_range matches the forall+pred composition on every edge") {
    assert(spark.catalog.functionExists("graft_all_in_range"))
    val vocab = 32000L
    // random arrays + targeted edges: null array, empty, null element,
    // boundary values 0 / vocab-1 / vocab / -1, min/max longs
    val rnd = new scala.util.Random(7)
    val data: Seq[Option[Seq[Option[Long]]]] =
      Seq.fill(200)(Some(Seq.fill(rnd.nextInt(6))(Some(rnd.between(-2L, vocab + 2L))))) ++
        Seq(None, Some(Seq.empty), Some(Seq(Some(0L))), Some(Seq(Some(vocab - 1))),
          Some(Seq(Some(vocab))), Some(Seq(Some(-1L))), Some(Seq(None)),
          Some(Seq(Some(0L), None, Some(5L))), Some(Seq(Some(Long.MinValue))),
          Some(Seq(Some(Long.MaxValue))))
    val df = data.zipWithIndex.toDF("a", "id")
    // each bound side inclusive and strict, plus the open lower side
    // (MinValue sentinel) with an inclusive upper
    val bounds = Seq((0L, vocab, false, true), (0L, vocab, true, false),
      (0L, vocab - 1, false, false), (-1L, vocab, true, true), (Long.MinValue, 10L, false, false))
    val native = bounds.map { case (lo, hi, ls, hs) =>
      call_function("graft_all_in_range", col("a"), lit(lo), lit(hi), lit(ls), lit(hs))
    }
    val hof = bounds.map { case (lo, hi, ls, hs) =>
      forall(col("a"), e => e.isNotNull && (if (ls) e > lo else e >= lo) &&
        (if (hs) e < hi else e <= hi))
    }
    inBothModes { mode =>
      val nq = df.select(col("id") +: native: _*)
      assertCodegen(mode, nq, "graft_all_in_range")
      val ns = nq.collect().map(r => r.getInt(0) -> r).toMap
      val hs = df.select(col("id") +: hof: _*).collect().map(r => r.getInt(0) -> r).toMap
      assert(ns.size == data.size && hs.keySet == ns.keySet)
      var falses = 0
      for ((id, n) <- ns; k <- bounds.indices) {
        val (nv, hv) = (n.get(1 + k), hs(id).get(1 + k))
        assert(nv == hv, s"$mode: ${bounds(k)} on ${data(id)}: native=$nv forall=$hv")
        if (nv == false) falses += 1
      }
      assert(falses > 0 && falses < ns.size * bounds.size, s"vacuous corpus: $falses false")
    }
    // narrower integral element types go through their own getter
    val ints = Seq(Seq(1, 2, 3), Seq(0, 10), Seq(-5), Seq(11)).zipWithIndex.toDF("a", "id")
    inBothModes { mode =>
      val nq = ints.select(col("id"), call_function("graft_all_in_range", col("a"),
        lit(Long.MinValue), lit(10L), lit(false), lit(false)))
      assertCodegen(mode, nq, "graft_all_in_range")
      val hs = ints.select(col("id"), forall(col("a"), e => e.isNotNull && e <= 10))
        .collect().map(r => r.getInt(0) -> r.getBoolean(1)).toMap
      val ns = nq.collect().map(r => r.getInt(0) -> r.getBoolean(1)).toMap
      assert(ns == hs && ns.values.toSet == Set(true, false), s"$mode: $ns vs $hs")
    }
  }

  test("typed items range-check compiles to graft_all_in_range and stays in codegen") {
    import graft.spec.SpecParser
    import graft.run.Validator
    val df = spark.range(50)
      .select(col("id").cast("string").as("doc_id"),
        array(col("id").cast("int"), lit(3)).as("tokens"))
    val spec = SpecParser.parse(
      """{"type":"object","required":["tokens"],
         "properties":{"tokens":{"type":"array",
           "items":{"type":"integer","minimum":0,"exclusiveMaximum":10}}}}""")
    val v = Validator.validate(df, spec, docId = "doc_id", part = None)
    val p = v.verdicts.queryExecution.executedPlan.toString
    assert(p.contains("graft_all_in_range"),
      "items range check did not use the native expression:\n" + p)
    assert(!p.contains("forall("), "interpreted forall still present:\n" + p)
    // and the verdict counts are what the composable form would produce:
    // ids 0-9 pass (0..9 in range, 3 in range), 10-49 fail on the first elem
    val counts = v.verdicts.collect()
      .map(r => r.getAs[String]("constraint_id") -> r.getAs[Long]("violations")).toMap
    assert(counts(".tokens/items") == 40L, counts.toString)
  }

  /** Every pure-range `items` shape the variant walk can hand to the native
    * loop: each lower side × each upper side × `integer` off/on. Sides
    * cover absent, inclusive, strict, two bounds tied (strict wins), two
    * bounds where either is the tighter, two decimals that meet as one
    * double, and an infinite bound. */
  private def rangeSpecs: Seq[graft.spec.NumSpec] = {
    import graft.spec.NumSpec
    type Side = (Option[BigDecimal], Option[BigDecimal]) // (inclusive, strict)
    val lowers: Seq[Side] = Seq(
      (None, None), (Some(BigDecimal(0)), None), (None, Some(BigDecimal(0))),
      (Some(BigDecimal(0)), Some(BigDecimal(0))), (Some(BigDecimal(-1)), Some(BigDecimal("0.5"))),
      (Some(BigDecimal("0.5")), Some(BigDecimal(-1))),
      (Some(BigDecimal("0.10000000000000000001")), Some(BigDecimal("0.1"))))
    val uppers: Seq[Side] = Seq(
      (None, None), (Some(BigDecimal(50000)), None), (None, Some(BigDecimal(50000))),
      (Some(BigDecimal(50000)), Some(BigDecimal(50000))),
      (Some(BigDecimal("49999.5")), Some(BigDecimal(60000))),
      (Some(BigDecimal(60000)), Some(BigDecimal(49999))),
      (None, Some(BigDecimal("1e400"))))
    for (lo <- lowers; hi <- uppers; integer <- Seq(false, true))
      yield NumSpec(integer = integer, minimum = lo._1, exclusiveMinimum = lo._2,
        maximum = hi._1, exclusiveMaximum = hi._2)
  }

  test("graft_variant_all_in_range matches the variant walk's forall+pred on every edge") {
    import graft.compile.VariantCompiler
    assert(spark.catalog.functionExists("graft_variant_all_in_range"))
    val edges = Vector("0", "49999", "50000", "-1", "0.5", "1.0", "-0.0", "0.1", "3",
      "49999.5", "49999.999999999999999999", "0.000000000000000000000000000001",
      "9007199254740993", "-9223372036854775808", "12345678901234567890123456789012345678",
      "1e400", "-1e400", "1e-400", "1E2", "60000", "\"7\"", "true", "false", "null", "[]",
      "{}", "[1]", "{\"a\":1}")
    val rnd = new scala.util.Random(5)
    def element(): String = rnd.nextInt(10) match {
      case x if x < 5 => rnd.between(-3, 50004).toString
      case 5 => (rnd.between(-30, 500030) / 10.0).toString
      case _ => edges(rnd.nextInt(edges.size))
    }
    val texts: Seq[String] =
      edges.map(e => s"[$e]") ++ Seq("[]", "[0,49999]", "[0,50000]", "[null,1]", "[1,\"2\"]") ++
        Seq.fill(300)(Seq.fill(rnd.nextInt(6))(element()).mkString("[", ",", "]")) :+ null
    val fromJson = texts.zipWithIndex.toDF("j", "id")
      .select(col("id"), col("j"), try_variant_get(parse_json(col("j")), "$", "array<variant>").as("a"))
    // arrays JSON text cannot express: a SQL-null element, NaN and
    // ±Infinity doubles (parse_json reads 1e400 as Infinity, never NaN),
    // and FLOAT numbers
    val built = spark.sql(
      """SELECT id, 'built' AS j, a FROM VALUES
        |  (-1, array(parse_json('1'), cast(null as variant))),
        |  (-2, array(cast(cast('NaN' as double) as variant))),
        |  (-3, array(cast(cast('Infinity' as double) as variant))),
        |  (-4, array(cast(cast('-Infinity' as double) as variant))),
        |  (-5, array(cast(cast(2.5 as float) as variant), cast(7 as variant))),
        |  (-6, array(cast(cast('NaN' as double) as variant), cast(cast(1.0 as double) as variant))),
        |  (-7, array(cast(cast(0.1 as float) as variant)))
        |  AS t(id, a)""".stripMargin)
    val df = fromJson.unionByName(built)
    val specs = rangeSpecs
    def arg(b: Option[(Double, Boolean)]) = b.fold(lit(null).cast("double"))(x => lit(x._1))
    val native = specs.map { sub =>
      val (lo, hi) = graft.compile.KeywordWalk.rangeItems(sub).get
        .tightest(_.toDouble, org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles)
      call_function("graft_variant_all_in_range", col("a"), arg(lo), arg(hi),
        lit(lo.exists(_._2)), lit(hi.exists(_._2)), lit(sub.integer))
    }
    // the walk's element predicate: a root-value compile of the items
    // subschema over the element is exactly `pred(sub, element)` (the
    // variant gate ignores nullFailsGate), conjoined over its checks
    val hof = specs.map(sub =>
      forall(col("a"), e => VariantCompiler.compile(sub, e).map(_.pass).reduce(_ && _)))
    // the same check as the walk emits it (bounds folded and wired by
    // `VariantCompiler`): the `items` check of an array spec over the JSON
    // rows, whose wrapper passes the non-array (null) row
    val walked = specs.map { sub =>
      val items = VariantCompiler.compile(graft.spec.ArrSpec(items = Some(sub)), parse_json(col("j")))
        .find(_.keyword == "items").get.pass
      assert(items.toString.contains("graft_variant_all_in_range"), items.toString)
      items
    }
    inBothModes { mode =>
      val nq = df.select(col("id") +: col("j") +: native: _*)
      assertCodegen(mode, nq, "graft_variant_all_in_range")
      val ns = nq.collect().map(r => r.getInt(0) -> r).toMap
      val hs = df.select(col("id") +: hof: _*).collect().map(r => r.getInt(0) -> r).toMap
      assert(ns.size == texts.size + 7 && hs.keySet == ns.keySet)
      var falses, nulls = 0
      for ((id, n) <- ns; k <- specs.indices) {
        val (nv, hv) = (n.get(2 + k), hs(id).get(1 + k))
        assert(nv == hv, s"$mode: ${specs(k)} on ${n.getString(1)} (row $id): native=$nv forall=$hv")
        if (nv == false) falses += 1
        if (nv == null) nulls += 1
      }
      assert(falses > ns.size * specs.size / 4 && nulls == specs.size,
        s"vacuous corpus: $falses false, $nulls null")
      for (r <- fromJson.select(col("id") +: walked: _*).collect(); k <- specs.indices) {
        val expected = Option(hs(r.getInt(0)).get(1 + k)).getOrElse(true)
        assert(r.get(1 + k) == expected,
          s"$mode: walked ${specs(k)} on ${ns(r.getInt(0)).getString(1)}: ${r.get(1 + k)} vs $expected")
      }
    }
  }

  /** json_runtime-shaped rows (doc_id, json, part) over generated
    * sequences: some with a fractional token, some with n_tok as a string,
    * plus the generator's out-of-domain tokens. */
  private def jsonSequences(seqs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val d = pmod(xxhash64(col("doc_id"), lit(5)), lit(100))
    val text = concat(lit("{\"doc_id\":\""), col("doc_id"), lit("\",\"tokens\":["),
      array_join(col("tokens"), ","), when(d < 4, lit(",0.5")).otherwise(lit("")),
      lit("],\"n_tok\":"),
      when(d >= 4 && d < 8, format_string("\"%d\"", col("n_tok")))
        .otherwise(col("n_tok").cast("string")),
      when(col("source").isNull, lit(""))
        .otherwise(concat(lit(",\"source\":\""), col("source"), lit("\""))),
      lit("}"))
    seqs.select(col("doc_id"), text.as("json"), col("part"))
  }

  private def sortedRows(f: org.apache.spark.sql.DataFrame): Seq[String] =
    f.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("the variant walk's pure-range items compiles to graft_variant_all_in_range") {
    import graft.data.SequenceGen
    import graft.run.Validator
    import graft.spec.SpecParser
    val df = jsonSequences(SequenceGen.sequences(spark, 3000, numParts = 4))
    val fast = Validator.validateJson(df, SpecParser.parse(SequenceGen.SeqSpecJson), "json")
    for (frame <- Seq(fast.verdicts, fast.violations)) {
      val p = frame.queryExecution.executedPlan.toString
      assert(p.contains("graft_variant_all_in_range"),
        "items range check did not use the native expression:\n" + p)
      assert(!p.contains("forall("), "interpreted forall still present:\n" + p)
    }
    // multipleOf:1 says nothing `integer` does not, but keeps the items
    // subschema off the native path: the composable forall decides instead
    val composableJson = SequenceGen.SeqSpecJson.replace(
      s""""exclusiveMaximum":${SequenceGen.Vocab}}""",
      s""""exclusiveMaximum":${SequenceGen.Vocab},"multipleOf":1}""")
    assert(composableJson != SequenceGen.SeqSpecJson)
    val composable = Validator.validateJson(df, SpecParser.parse(composableJson), "json")
    assert(composable.violations.queryExecution.executedPlan.toString.contains("forall("))
    assert(sortedRows(fast.verdicts) == sortedRows(composable.verdicts))
    assert(sortedRows(fast.violations) == sortedRows(composable.violations))
    val items = fast.verdicts.where(col("constraint_id") === ".tokens/items")
      .agg(sum("violations")).collect()(0).getLong(0)
    assert(items > 100, s"only $items .tokens/items violations — vacuous comparison")
  }

  test("a spec compiled with no active session still gets the native expressions") {
    import org.apache.spark.sql.SparkSession
    import graft.data.SequenceGen
    import graft.run.{Validation, Validator}
    import graft.spec.SpecParser
    val seqs = SequenceGen.sequences(spark, 3000, numParts = 4)
    val json = jsonSequences(seqs)
    val spec = SpecParser.parse(SequenceGen.SeqSpecJson)
    // compile (and build the lazy frames) on a thread with no active
    // session; execution below runs with the session restored
    def sessionless(run: => Validation): Validation = {
      SparkSession.clearActiveSession()
      try {
        assert(SparkSession.getActiveSession.isEmpty)
        run
      } finally SparkSession.setActiveSession(spark)
    }
    val cases = Seq(
      ("typed", Seq("graft_all_in_range"),
        sessionless(Validator.validate(seqs, spec)), Validator.validate(seqs, spec)),
      ("variant", Seq("graft_variant_kind", "graft_variant_all_in_range"),
        sessionless(Validator.validateJson(json, spec, "json")),
        Validator.validateJson(json, spec, "json")))
    for ((backend, natives, bare, normal) <- cases) {
      for (frame <- Seq(bare.verdicts, bare.violations)) {
        val p = frame.queryExecution.executedPlan.toString
        natives.foreach(fn => assert(p.contains(fn), s"$backend: no $fn in\n$p"))
        assert(!p.contains("schema_of_variant") && !p.contains("forall("),
          s"$backend: fallback form in\n$p")
      }
      assert(sortedRows(bare.verdicts) == sortedRows(normal.verdicts), backend)
      assert(sortedRows(bare.violations) == sortedRows(normal.violations), backend)
      assert(bare.violations.where(col("constraint_id") === ".tokens/items").count() > 0,
        s"$backend: no .tokens/items violation — vacuous comparison")
    }
  }

  test("graft_dot runs inside whole-stage codegen (the HOF form cannot)") {
    // non-literal input so ConvertToLocalRelation can't fold the projection
    val df = spark.range(10)
      .select(array(col("id").cast("double"), lit(2.0d)).as("a"),
              array(lit(3.0d), col("id").cast("double")).as("b"))
      .select(call_function("graft_dot", col("a"), col("b")).as("d"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("graft_dot")),
      "graft_dot not inside a WholeStageCodegen span:\n" + p)
  }
}
