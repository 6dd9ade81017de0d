package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.run.Validator
import graft.spec.SpecParser

import Harness.{inBothModes, spark}

/** Differential fuzz between the engine's two independent column backends
  * under one keyword walk.
  *
  * The typed-column compiler (`compile/Compiler.scala`) and the dynamic-JSON
  * variant compiler (`compile/VariantCompiler.scala`) implement the same
  * reference semantics (/root/reference/src/validator.cr) against different
  * value representations. For any row of the closed 6-column shape, rendering
  * it to JSON (`to_json` drops null fields, matching the typed mode's
  * "absent ≡ null" presence rule — Compiler.scala scaladoc) and validating
  * the JSON with the variant compiler must produce the SAME ordered
  * violations `(doc_id, path, constraint_id)` as validating the typed row
  * directly. Seeded random schemas × seeded random rows check that
  * equivalence over a far larger spec space than the hand-written parity
  * suites — any disagreement is a bug in one of the backends (null
  * propagation, gating, presence semantics, numeric widening). Both share
  * `KeywordWalk`, so a walk bug (order, ids, paths, messages) shows the
  * same in both and is invisible here; the golden `*ValidatorSpec`s and
  * the driver oracles pin those.
  *
  * Compared: ordered (doc_id, path, constraint_id), and per constraint id
  * each backend's verdict count against those violations. Every trial runs
  * in both evaluation modes (`Harness.inBothModes`): the violation frame
  * evaluates its checks through `eval` (its `filter` is CodegenFallback),
  * while the verdict aggregate runs them as generated code in "generated"
  * mode, so the verdict comparison is what puts the native expressions'
  * generated code under the fuzz. Messages and `observed` are NOT compared: items/contains subschema messages collapse differently
  * by design (the variant mode counts its runtime type gate as a second
  * check — KeywordWalk scaladoc "Differences"), and observed formatting
  * follows the column type (int "5" vs variant double "5.0").
  *
  * Excluded from generation (documented representation divergences, each
  * pinned by its own parity spec instead):
  *  - propertyNames: typed mode validates ALL schema field names driver-side
  *    (even null-valued columns); variant mode sees only present keys.
  *  - patternProperties / additionalProperties:<schema>: typed mode emits one
  *    check per matched COLUMN (child path); variant mode collapses to one
  *    check per keyword (parent path).
  *  - object-valued enum/const: canonical-JSON field order differs between
  *    the schema-ordered typed rendering and the variant serialization.
  *  - format:"regex" (opt-in UDF) and reference-unsupported formats.
  */
class DifferentialFuzzSpec extends AnyFunSuite {

  private val rowSchema = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("n_tok", IntegerType, nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("tokens", ArrayType(IntegerType, containsNull = true), nullable = true),
    StructField("flag", BooleanType, nullable = true),
    StructField("score", DoubleType, nullable = true)))

  private val stringPool = Vector(
    "web", "books", "code", "wiki", "a", "abcdef", "x1", "",
    "550e8400-e29b-41d4-a716-446655440000", "not-a-uuid",
    "2024-01-15", "a@b.co", "UPPER", "host-name.example.com")

  private def genRows(rnd: Random, n: Int): Seq[Row] =
    (0 until n).map { i =>
      val nTok: Any = if (rnd.nextInt(100) < 15) null else Int.box(rnd.between(-5, 21))
      val source: Any = if (rnd.nextInt(100) < 10) null
        else stringPool(rnd.nextInt(stringPool.size))
      val tokens: Any =
        if (rnd.nextInt(100) < 15) null
        else (0 until rnd.nextInt(7)).map { _ =>
          if (rnd.nextInt(100) < 10) null else Int.box(rnd.between(-5, 16))
        }
      val flag: Any = if (rnd.nextInt(100) < 20) null else Boolean.box(rnd.nextBoolean())
      val score: Any = if (rnd.nextInt(100) < 20) null
        else Double.box(rnd.between(-8, 17) * 0.5)
      Row(f"d$i%04d", nTok, source, tokens, flag, score)
    }

  // -- schema JSON generation ------------------------------------------------

  private def quote(s: String): String = graft.spec.JsonVal.quote(s)
  private def obj(fields: Seq[String]): String = fields.mkString("{", ",", "}")
  private def kv(k: String, v: String): String = s"${quote(k)}:$v"
  private def pick[T](rnd: Random, xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
  private def subset[T](rnd: Random, xs: Seq[T], pKeep: Int): Seq[T] =
    xs.filter(_ => rnd.nextInt(100) < pKeep)

  private val patternPool = Vector("^a", "[0-9]+", "^[a-z]{1,6}$", "o", "^\\d{4}-")
  private val formatPool = Vector("uuid", "date", "email", "hostname")

  /** number / integer schema with a random keyword subset (possibly none —
    * a bare runtime gate). */
  private def numSchema(rnd: Random): String = {
    val integer = rnd.nextBoolean()
    val fs = Vector.newBuilder[String]
    fs += kv("type", if (integer) "\"integer\"" else "\"number\"")
    if (rnd.nextInt(100) < 50) fs += kv("minimum", rnd.between(-5, 12).toString)
    if (rnd.nextInt(100) < 40) fs += kv("maximum", rnd.between(0, 20).toString)
    if (rnd.nextInt(100) < 20) fs += kv("exclusiveMinimum", rnd.between(-5, 10).toString)
    if (rnd.nextInt(100) < 20) fs += kv("exclusiveMaximum", rnd.between(0, 18).toString)
    if (rnd.nextInt(100) < 25) fs += kv("multipleOf", pick(rnd, Vector("1", "2", "3", "5")))
    if (rnd.nextInt(100) < 15)
      fs += kv("enum", (0 until rnd.between(1, 4)).map(_ => rnd.between(-3, 12)).mkString("[", ",", "]"))
    obj(fs.result())
  }

  private def strSchema(rnd: Random): String = {
    val fs = Vector.newBuilder[String]
    fs += kv("type", "\"string\"")
    if (rnd.nextInt(100) < 40) fs += kv("minLength", rnd.between(0, 8).toString)
    if (rnd.nextInt(100) < 30) fs += kv("maxLength", rnd.between(2, 14).toString)
    if (rnd.nextInt(100) < 30) fs += kv("pattern", quote(pick(rnd, patternPool)))
    if (rnd.nextInt(100) < 20) fs += kv("format", quote(pick(rnd, formatPool)))
    if (rnd.nextInt(100) < 20)
      fs += kv("enum", subset(rnd, stringPool.take(6), 40).map(quote).mkString("[", ",", "]"))
    obj(fs.result())
  }

  private def arrSchema(rnd: Random): String = {
    val fs = Vector.newBuilder[String]
    fs += kv("type", "\"array\"")
    val prefix = rnd.nextInt(100) < 25
    if (prefix) {
      fs += kv("prefixItems",
        (0 until rnd.between(1, 4)).map(_ => elemSchema(rnd)).mkString("[", ",", "]"))
      if (rnd.nextInt(100) < 40) fs += kv("items", "false") // tuple close
    } else if (rnd.nextInt(100) < 60) {
      fs += kv("items", elemSchema(rnd))
    }
    if (rnd.nextInt(100) < 30) {
      fs += kv("contains", elemSchema(rnd))
      if (rnd.nextInt(100) < 50) fs += kv("minContains", rnd.between(0, 4).toString)
      if (rnd.nextInt(100) < 50) fs += kv("maxContains", rnd.between(1, 5).toString)
    }
    if (rnd.nextInt(100) < 30) fs += kv("minItems", rnd.between(0, 5).toString)
    if (rnd.nextInt(100) < 30) fs += kv("maxItems", rnd.between(2, 7).toString)
    if (rnd.nextInt(100) < 30) fs += kv("uniqueItems", "true")
    if (rnd.nextInt(100) < 10)
      fs += kv("enum", Vector("[1,2,3]", "[]", "[0]").mkString("[", ",", "]"))
    obj(fs.result())
  }

  /** Array-element subschema: int ranges (the token-domain shape, incl. the
    * native graft_all_in_range fast path), occasional null/string/bool to
    * exercise runtime-gate failures on elements. */
  private def elemSchema(rnd: Random): String = rnd.nextInt(100) match {
    case x if x < 60 => numSchema(rnd)
    case x if x < 75 => """{"type":"null"}"""
    case x if x < 90 => strSchema(rnd)
    case _           => """{"type":"boolean"}"""
  }

  /** Typeless generic schema (enum/const/composites) typed to fit `column`. */
  private def genericSchema(rnd: Random, column: String): String = {
    val fs = Vector.newBuilder[String]
    val enumJson = column match {
      case "n_tok"  => (0 until rnd.between(1, 4)).map(_ => rnd.between(-3, 12)).mkString("[", ",", "]")
      case "source" => subset(rnd, stringPool.take(6), 50).map(quote).mkString("[", ",", "]")
      case "tokens" => Vector("[1,2,3]", "[]").mkString("[", ",", "]")
      case "flag"   => "[true]"
      case _        => "[0.5,1.5,2]"
    }
    val constJson = column match {
      case "n_tok"  => rnd.between(-2, 10).toString
      case "source" => quote(pick(rnd, stringPool.take(6)))
      case "tokens" => "[1,2,3]"
      case "flag"   => "true"
      case _        => "1.5"
    }
    rnd.nextInt(3) match {
      case 0 => fs += kv("enum", enumJson)
      case 1 => fs += kv("const", constJson)
      case _ =>
        fs += kv(pick(rnd, Vector("anyOf", "oneOf", "allOf", "not")),
          (0 until rnd.between(1, 3)).map(_ => typedSchemaFor(rnd, column))
            .mkString("[", ",", "]"))
    }
    obj(fs.result())
  }

  /** Schema matching `column`'s static type. */
  private def typedSchemaFor(rnd: Random, column: String): String = column match {
    case "n_tok"  => numSchema(rnd)
    case "source" => strSchema(rnd)
    case "tokens" => arrSchema(rnd)
    case "flag"   => """{"type":"boolean"}"""
    case "score"  => numSchema(rnd)
    case _        => strSchema(rnd)
  }

  /** Schema deliberately MISmatching `column`'s type — the static-gate
    * short-circuit (typed) must agree with the runtime gate (variant). */
  private def wrongTypeSchemaFor(rnd: Random, column: String): String = column match {
    case "n_tok" | "score" => pick(rnd, Vector(strSchema(rnd), arrSchema(rnd)))
    case "source"          => pick(rnd, Vector(numSchema(rnd), arrSchema(rnd)))
    case "tokens"          => pick(rnd, Vector(numSchema(rnd), strSchema(rnd)))
    case _                 => numSchema(rnd)
  }

  private def propSchema(rnd: Random, column: String): String = rnd.nextInt(100) match {
    case x if x < 55 => typedSchemaFor(rnd, column)
    case x if x < 65 => wrongTypeSchemaFor(rnd, column)
    case x if x < 75 => """{"type":"null"}"""
    case _           => genericSchema(rnd, column)
  }

  private val dataColumns = Vector("n_tok", "source", "tokens", "flag", "score")

  /** Object-schema child for root composites (required / bounds / one
    * property check — shapes whose pred semantics align across modes). */
  private def compositeChild(rnd: Random): String = rnd.nextInt(3) match {
    case 0 => obj(Seq(kv("type", "\"object\""),
      kv("required", subset(rnd, dataColumns, 40).padTo(1, pick(rnd, dataColumns))
        .map(quote).mkString("[", ",", "]"))))
    case 1 => obj(Seq(kv("type", "\"object\""),
      kv("minProperties", rnd.between(0, 7).toString)))
    case _ =>
      val c = pick(rnd, dataColumns)
      obj(Seq(kv("type", "\"object\""),
        kv("properties", obj(Seq(kv(c, typedSchemaFor(rnd, c)))))))
  }

  private def rootSchema(rnd: Random): String = {
    val fs = Vector.newBuilder[String]
    fs += kv("type", "\"object\"")
    val props = subset(rnd, dataColumns, 60) match {
      case Seq() => Vector(pick(rnd, dataColumns))
      case xs    => xs.toVector
    }
    fs += kv("properties", obj(props.map(c => kv(c, propSchema(rnd, c)))))
    if (rnd.nextInt(100) < 40) {
      val reqPool = "doc_id" +: dataColumns :+ "ghost_prop"
      val req = subset(rnd, reqPool, 30)
      if (req.nonEmpty) fs += kv("required", req.map(quote).mkString("[", ",", "]"))
    }
    if (rnd.nextInt(100) < 30) {
      val dep = pick(rnd, dataColumns)
      val reqs = subset(rnd, dataColumns.filter(_ != dep), 40).padTo(1, "n_tok").distinct
      fs += kv("dependentRequired", obj(Seq(kv(dep, reqs.map(quote).mkString("[", ",", "]")))))
    }
    if (rnd.nextInt(100) < 25) {
      val dep = pick(rnd, dataColumns)
      fs += kv("dependentSchemas", obj(Seq(kv(dep, obj(Seq(kv("type", "\"object\""),
        kv("required", subset(rnd, dataColumns, 40).padTo(1, "source").distinct
          .map(quote).mkString("[", ",", "]"))))))))
    }
    if (rnd.nextInt(100) < 25) fs += kv("minProperties", rnd.between(0, 7).toString)
    if (rnd.nextInt(100) < 25) fs += kv("maxProperties", rnd.between(2, 8).toString)
    if (rnd.nextInt(100) < 20) fs += kv("additionalProperties", "false")
    if (rnd.nextInt(100) < 30) {
      val kind = pick(rnd, Vector("anyOf", "oneOf", "allOf", "not"))
      fs += kv(kind, (0 until rnd.between(1, 3)).map(_ => compositeChild(rnd))
        .mkString("[", ",", "]"))
    }
    obj(fs.result())
  }

  // -- the differential ------------------------------------------------------

  private def orderedVios(v: graft.run.Validation): Vector[(String, String, String)] =
    v.violations.select("doc_id", "rank", "path", "constraint_id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
      .sortBy(t => (t._1, t._2))
      .map(t => (t._1, t._3, t._4)).toVector

  /** Violation count per constraint id, from the verdict frame. */
  private def verdictCounts(v: graft.run.Validation, id: String => String): Map[String, Long] =
    v.verdicts.where(col("violations") > 0).select("constraint_id", "violations").collect()
      .toSeq.groupMapReduce(r => id(r.getString(0)))(_.getLong(1))(_ + _)

  /** In each evaluation mode, the typed and variant runs (rebuilt per mode,
    * so each plans under that mode's conf) must produce the same ordered
    * violations, and each backend's verdict counts must match them.
    * `typedId` maps a typed constraint id onto the variant one; `rowsOf`
    * renders the input rows of the diverging docs. Returns the (agreed)
    * violation count so callers can assert the corpus actually exercises
    * failures — all-green agreement would be vacuous. */
  private def agree(label: String, schemaJson: String, typedRun: => graft.run.Validation,
                    variantRun: => graft.run.Validation, typedId: String => String,
                    rowsOf: Set[String] => String): Int = {
    var agreed = 0
    inBothModes { mode =>
      val (tv, vv) = (typedRun, variantRun)
      val typed = orderedVios(tv).map { case (d, p, id) => (d, p, typedId(id)) }
      val variant = orderedVios(vv)
      if (typed != variant) {
        val onlyTyped = typed.diff(variant).take(8)
        val onlyVariant = variant.diff(typed).take(8)
        fail(
          s"""$label ($mode): typed and variant violations diverge
             |schema: $schemaJson
             |typed only   : $onlyTyped
             |variant only : $onlyVariant
             |${rowsOf((onlyTyped ++ onlyVariant).map(_._1).take(3).toSet)}""".stripMargin)
      }
      val counts = typed.groupMapReduce(_._3)(_ => 1L)(_ + _)
      for ((backend, v, id) <- Seq(("typed", tv, typedId), ("variant", vv, identity[String] _))) {
        val fromVerdicts = verdictCounts(v, id)
        assert(fromVerdicts == counts,
          s"""$label ($mode): $backend verdict counts diverge from the violations
             |schema: $schemaJson
             |verdicts  : $fromVerdicts
             |violations: $counts""".stripMargin)
      }
      agreed = typed.size
    }
    agreed
  }

  private def runTrial(trial: Int, schemaJson: String, rows: Seq[Row]): Int = {
    import scala.jdk.CollectionConverters._
    val spec = SpecParser.parse(schemaJson)
    val df = spark.createDataFrame(rows.asJava, rowSchema)
    def js = df.select(col("doc_id"),
      to_json(struct(rowSchema.fieldNames.map(col).toIndexedSeq: _*),
        Map("ignoreNullFields" -> "true").asJava).as("js"))
    agree(s"trial $trial", schemaJson, Validator.validate(df, spec, "doc_id", None),
      Validator.validateJson(js, spec, "js", "doc_id", None), identity,
      docs => "rows: " + rows.filter(r => docs.contains(r.getString(0))).mkString("; "))
  }

  test("typed and variant compilers agree on seeded random schemas x rows") {
    // fixed seed: the trial corpus is part of the test contract. The env
    // knobs support one-off deep soaks (e.g. GRAFT_FUZZ_TRIALS=500) without
    // changing what CI runs; a non-default seed explores fresh corpora.
    val seed = sys.env.get("GRAFT_FUZZ_SEED").map(java.lang.Long.decode(_).longValue)
      .getOrElse(0x5EED5L)
    val rnd = new Random(seed)
    val trials = sys.env.getOrElse("GRAFT_FUZZ_TRIALS", "48").toInt
    val rowsPerTrial = sys.env.getOrElse("GRAFT_FUZZ_ROWS", "80").toInt
    var vios = 0L
    for (t <- 0 until trials) {
      val schemaJson = rootSchema(rnd)
      val rows = genRows(rnd, rowsPerTrial)
      vios += runTrial(t, schemaJson, rows)
    }
    assert(vios > trials * 10L,
      s"suspiciously few violations across the corpus ($vios) — generator drifted?")
  }

  test("typed and variant compilers agree on the all-null / empty-edge corpus") {
    // directed worst cases the random corpus may under-sample
    val rows = Seq(
      Row("e0", null, null, null, null, null),
      Row("e1", Int.box(0), "", Seq.empty[Any], Boolean.box(false), Double.box(0.0)),
      Row("e2", Int.box(-5), "a", Seq(null, null), Boolean.box(true), Double.box(-0.5)),
      Row("e3", Int.box(20), "550e8400-e29b-41d4-a716-446655440000",
        Seq(Int.box(1), null, Int.box(1)), null, Double.box(8.0)))
    val rnd = new Random(0xD1FFL)
    var vios = 0L
    for (t <- 0 until 12) vios += runTrial(1000 + t, rootSchema(rnd), rows)
    assert(vios > 0, "edge corpus produced zero violations — vacuous agreement")
  }

  // -- root-value mode (compileColumn vs variant root) ----------------------

  /** One root-value trial: a single column `v` of `dt`, each row carrying the
    * typed value and its hand-rendered JSON text (to_json cannot serialize
    * scalar roots). Typed mode is `validateColumn` (nullFailsGate — a null
    * value fails the type gate, like `as_f` on JSON null in the reference);
    * variant mode parses the same JSON text. Constraint ids differ only by
    * the documented prefix (".v/…" vs "./…"), normalized before compare. */
  private def runRootTrial(trial: Int, schemaJson: String, dt: DataType,
                           values: Seq[(Any, String)], castVariant: Boolean = false): Int = {
    import scala.jdk.CollectionConverters._
    val spec = SpecParser.parse(schemaJson)
    val schema = StructType(Seq(
      StructField("doc_id", StringType, nullable = false),
      StructField("v", dt, nullable = true),
      StructField("js", StringType, nullable = false)))
    val rows = values.zipWithIndex.map { case ((tv, js), i) => Row(f"d$i%04d", tv, js) }
    val df = spark.createDataFrame(rows.asJava, schema)
    agree(s"root trial $trial", schemaJson, Validator.validateColumn(df, spec, "v", "doc_id", None),
      if (castVariant) validateVariant(df, spec, col("v").cast(VariantType))
      else Validator.validateJson(df, spec, "js", "doc_id", None),
      _.replaceFirst("^\\.v(?=[/.~])", "."),
      docs => "values: " + rows.filter(r => docs.contains(r.getString(0))).mkString("; "))
  }

  /** `Validator.validateJson`'s staged compile over a variant built by `v`
    * instead of parsed JSON text: a cast from a typed column yields DOUBLE
    * variants JSON text cannot express (NaN, ±Infinity). */
  private def validateVariant(df: DataFrame, spec: graft.spec.Spec, v: Column): graft.run.Validation = {
    val (staged, checks) = graft.compile.VariantCompiler.compileStaged(spec, col("_variant"))
    val withStaged = staged.foldLeft(df.withColumn("_variant", v)) {
      case (acc, (name, expr)) => acc.withColumn(name, expr)
    }
    Validator.run(withStaged, checks, "doc_id", None)
  }

  private def renderJson(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case d: java.lang.Double  => d.toString
    case xs: Seq[_]           => xs.map(renderJson).mkString("[", ",", "]")
    case other                => other.toString // Int / Boolean
  }

  private def genRootValues(rnd: Random, dt: DataType, n: Int): Seq[(Any, String)] =
    (0 until n).map { _ =>
      val tv: Any =
        if (rnd.nextInt(100) < 15) null
        else dt match {
          case IntegerType => Int.box(rnd.between(-5, 21))
          case DoubleType  => Double.box(rnd.between(-8, 17) * 0.5)
          case StringType  => stringPool(rnd.nextInt(stringPool.size))
          case BooleanType => Boolean.box(rnd.nextBoolean())
          case _: ArrayType =>
            (0 until rnd.nextInt(7)).map { _ =>
              if (rnd.nextInt(100) < 10) null else Int.box(rnd.between(-5, 16))
            }
        }
      (tv, renderJson(tv))
    }

  test("root-value mode: typed and variant compilers agree on random values") {
    val rnd = new Random(sys.env.get("GRAFT_FUZZ_SEED")
      .map(java.lang.Long.decode(_).longValue ^ 0x0057EEDL)
      .getOrElse(0x0057EEDL))
    val cases: Vector[(DataType, Random => String)] = Vector(
      (IntegerType, numSchema _),
      (DoubleType, numSchema _),
      (StringType, strSchema _),
      (ArrayType(IntegerType, containsNull = true), arrSchema _),
      (IntegerType, (r: Random) => genericSchema(r, "n_tok")),
      (StringType, (r: Random) => genericSchema(r, "source")),
      (ArrayType(IntegerType, containsNull = true), (r: Random) => genericSchema(r, "tokens")),
      (IntegerType, (r: Random) => strSchema(r)),  // wrong-type gate
      (StringType, (r: Random) => numSchema(r)),   // wrong-type gate
      (IntegerType, (_: Random) => """{"type":"null"}"""),
      (BooleanType, (_: Random) => """{"type":"boolean"}"""))
    // reps knob mirrors the object-root soak knobs: the M14 mutation near-miss
    // showed this corpus is the unique killer for ungated-null bugs, so deep
    // soaks should scale it too. CI default (4 reps = 44 trials) unchanged.
    val reps = sys.env.getOrElse("GRAFT_FUZZ_ROOT_REPS", "4").toInt
    var t = 0
    var vios = 0L
    for (_ <- 0 until reps; (dt, gen) <- cases) {
      vios += runRootTrial(2000 + t, gen(rnd), dt, genRootValues(rnd, dt, 48))
      t += 1
    }
    assert(t == reps * cases.size)
    assert(vios > t * 10L,
      s"suspiciously few violations across the root corpus ($vios) — generator drifted?")
  }

  test("items bound strictness: directed boundary corpus (native range fast path)") {
    // Found by mutation analysis: dropping the exclusive-LOWER strictness
    // flag in the typed backend's graft_all_in_range wiring survived
    // the random corpus (elements rarely land exactly on an exclusive bound
    // of a native-eligible items schema) and every other test (ExtSpec pins
    // the expression and the exclusiveMaximum wiring, not exclusiveMinimum).
    // These trials put every bound kind's boundary value in the data, so a
    // strictness or tie-break regression in EITHER compiler diverges.
    val itemSchemas = Seq(
      """{"type":"integer","exclusiveMinimum":3}""",
      """{"type":"integer","exclusiveMaximum":9}""",
      """{"type":"integer","minimum":3,"exclusiveMinimum":3}""", // strict wins the tie
      """{"type":"integer","maximum":9,"exclusiveMaximum":9}""",
      """{"type":"integer","minimum":4,"exclusiveMinimum":3}""", // non-strict 4 is tighter
      """{"type":"integer","exclusiveMinimum":3,"exclusiveMaximum":4}""", // empty range
      """{"type":"integer","minimum":3,"maximum":9}""")
    val rows = ((0 to 12).map(i => Seq(Int.box(i))) ++
      Seq(Seq(Int.box(3), Int.box(9)), Seq(Int.box(4), Int.box(8)), Seq.empty[Any]))
      .zipWithIndex.map { case (toks, i) =>
        Row(f"b$i%04d", Int.box(1), "web", toks, Boolean.box(true), Double.box(1.0))
      }
    var vios = 0L
    itemSchemas.zipWithIndex.foreach { case (s, i) =>
      val schema = s"""{"type":"object","properties":{"tokens":{"type":"array","items":$s}}}"""
      vios += runTrial(3000 + i, schema, rows)
    }
    assert(vios > 0, "boundary corpus produced zero violations — vacuous agreement")
  }

  test("items over fractional and non-JSON numbers: directed corpus (native variant loop)") {
    // The random corpus has integral tokens only. Fractional JSON numbers
    // parse as DECIMAL variants; a cast from a double column gives DOUBLE
    // variants, including NaN, ±Infinity and -0.0, which JSON text cannot
    // express. The typed side compares doubles through `forall`, so each
    // element kind, the integrality test and Spark's double ordering (NaN
    // above every value, -0.0 = 0.0) of the variant range loop diverge
    // here if they regress.
    val itemSchemas = Seq(
      """{"type":"number","minimum":0}""",
      """{"type":"number","exclusiveMinimum":0,"maximum":4}""",
      """{"type":"number","maximum":4}""",
      """{"type":"number","minimum":-0.5,"exclusiveMaximum":2.5}""",
      """{"type":"integer","minimum":-2,"exclusiveMaximum":6}""",
      """{"type":"integer"}""")
    val dt = ArrayType(DoubleType, containsNull = true)
    val finite = Vector(-2.0, -0.5, -0.0, 0.0, 0.5, 1.0, 2.5, 3.0, 4.0, 5.5, 6.0)
    val rnd = new Random(0xF2AC7L)
    def arrays(pool: Vector[Any]): Seq[Seq[Any]] =
      pool.map(Seq(_)) ++ Seq.fill(40)(Seq.fill(rnd.nextInt(5))(pool(rnd.nextInt(pool.size))))
    val jsonValues = (arrays(finite :+ null) :+ null).map(a => (a, renderJson(a)))
    val castValues = (arrays(finite ++ Vector(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, null)) :+ null).map(a => (a, ""))
    var vios = 0L
    itemSchemas.zipWithIndex.foreach { case (s, i) =>
      val schema = s"""{"type":"array","items":$s}"""
      vios += runRootTrial(4000 + i, schema, dt, jsonValues)
      vios += runRootTrial(4100 + i, schema, dt, castValues, castVariant = true)
    }
    assert(vios > 0, "fractional corpus produced zero violations — vacuous agreement")
  }

  test("collapsed keywords agree at doc level (patternProperties / additionalProperties:schema)") {
    // These keywords are excluded from the row-level fuzz because the modes
    // collapse differently BY DESIGN (typed: one check per matched schema
    // column, child path; variant: one check per keyword, offending keys in
    // observed). The semantics still coincide one level up: the SET of
    // documents with >=1 violation must be identical, since both modes test
    // the same present keys against the same subschema.
    import scala.jdk.CollectionConverters._
    def vioDocs(v: graft.run.Validation): Set[String] =
      v.violations.select("doc_id").distinct().collect().map(_.getString(0)).toSet

    val rnd = new Random(0xC0115EL)
    val rePool = Vector("^s", "tok", "^(flag|score)$", "_", "^doc")
    for (t <- 0 until 16) {
      val schemaJson =
        if (t % 2 == 0) {
          val sub = pick(rnd, Vector(numSchema(rnd), strSchema(rnd), """{"type":"null"}"""))
          s"""{"type":"object","patternProperties":${obj(Seq(kv(pick(rnd, rePool), sub)))}}"""
        } else {
          val declared = subset(rnd, dataColumns, 50).padTo(1, "source").distinct
          val sub = pick(rnd, Vector(numSchema(rnd), strSchema(rnd)))
          s"""{"type":"object","properties":${obj(declared.map(c => kv(c, typedSchemaFor(rnd, c))))},""" +
            s""""additionalProperties":$sub}"""
        }
      val spec = SpecParser.parse(schemaJson)
      val rows = genRows(rnd, 64)
      val df = spark.createDataFrame(rows.asJava, rowSchema)
      val typedDocs = vioDocs(Validator.validate(df, spec, "doc_id", None))
      val js = df.select(col("doc_id"),
        to_json(struct(rowSchema.fieldNames.map(col).toIndexedSeq: _*),
          Map("ignoreNullFields" -> "true").asJava).as("js"))
      val variantDocs = vioDocs(Validator.validateJson(js, spec, "js", "doc_id", None))
      assert(typedDocs == variantDocs,
        s"""trial $t: violating-doc sets diverge
           |schema: $schemaJson
           |typed only   : ${(typedDocs -- variantDocs).take(6)}
           |variant only : ${(variantDocs -- typedDocs).take(6)}""".stripMargin)
    }
  }

  // -- parser/serializer robustness over the same corpus ---------------------

  test("serialize/parse round-trip is a fixed point on the random schema corpus") {
    import graft.spec.{JsonVal, SpecJson}
    val rnd = new Random(0x207D7219L)
    for (t <- 0 until 80) {
      val schemaJson = rootSchema(rnd)
      val spec1 = SpecParser.parse(schemaJson)
      val ser1 = SpecJson.serialize(spec1)
      val spec2 = SpecParser.parse(ser1)
      assert(spec2 == spec1, s"trial $t: re-parsed spec differs\nschema: $schemaJson\nser: $ser1")
      assert(SpecJson.serialize(spec2) == ser1, s"trial $t: serialization not a fixed point")
      // the canonical form is also semantically identical JSON per Jackson
      assert(JsonVal.parse(ser1) == SpecJson.toJson(spec1))
    }
  }

  test("malformed schemas fail fast with SpecError, never an internal error") {
    import graft.spec.{JArr, JBool, JNull, JNum, JObj, JStr, JsonVal, SpecError}
    val junk = Vector[JsonVal](JNum(BigDecimal(5)), JStr("x"), JBool(true),
      JArr(Vector.empty), JObj(Vector.empty), JNull)
    val rnd = new Random(0xBADF00DL)

    def mutate(node: JsonVal): JsonVal = node match {
      case JObj(fields) if fields.nonEmpty =>
        val i = rnd.nextInt(fields.size)
        val (k, v) = fields(i)
        val nv = if (rnd.nextInt(100) < 60) junk(rnd.nextInt(junk.size)) else mutate(v)
        JObj(fields.updated(i, (k, nv)))
      case JArr(items) if items.nonEmpty =>
        JArr(items.updated(rnd.nextInt(items.size), junk(rnd.nextInt(junk.size))))
      case _ => junk(rnd.nextInt(junk.size))
    }

    var rejected = 0
    for (t <- 0 until 120) {
      val tree = JsonVal.parse(rootSchema(rnd))
      val mutated = mutate(mutate(tree)).render
      try { SpecParser.parse(mutated); () }
      catch {
        case _: SpecError => rejected += 1 // the contract: driver-side fail-fast
        case e: Throwable =>
          fail(s"trial $t: non-SpecError ${e.getClass.getName}: ${e.getMessage}\nschema: $mutated")
      }
      // parseOpt must swallow anything parse throws
      SpecParser.parseOpt(mutated)
    }
    assert(rejected > 10, s"only $rejected/120 mutants rejected — mutator too gentle?")
  }

  test("the comparator detects a known-divergent construct (harness has teeth)") {
    // propertyNames is EXCLUDED from generation because the modes genuinely
    // differ: typed validates all schema field names driver-side (one check
    // per name, child path), variant validates only the present runtime keys
    // (one collapsed check, parent path). This test pins that the
    // differential harness would catch such a divergence — i.e. the green
    // fuzz runs above are evidence of agreement, not of a blind comparator.
    val schema =
      """{"type":"object",
         |"properties":{"n_tok":{"type":"integer"}},
         |"propertyNames":{"minLength":20}}""".stripMargin.replaceAll("\n", "")
    val rows = Seq(Row("t0", Int.box(5), "web", Seq(Int.box(1)),
      Boolean.box(true), Double.box(1.0)))
    val e = intercept[org.scalatest.exceptions.TestFailedException] {
      runTrial(9999, schema, rows)
    }
    assert(e.getMessage.contains("diverge"))
  }
}
