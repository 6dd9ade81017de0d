package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, rng}

import graft.run.Validator
import graft.spec.{SpecJson, SpecParser}

import Harness.spark

/** Whole-corpus parity: every schema fixture the reference tests against
  * (the .json files of `reference_fixtures/` on the test classpath, rebuilt
  * from the schemas the validator specs inline — see its README.md) must
  * parse, round-trip, and compile in BOTH engine modes; plus property-based
  * agreement between the two independent column backends under one keyword
  * walk. */
class ReferenceCorpusSpec extends AnyFunSuite {

  val fixtureDir = new File(getClass.getResource("/reference_fixtures").toURI)

  test("all 36 reference schema fixtures parse, round-trip, and compile (variant mode)") {
    val files = fixtureDir.listFiles().filter(_.getName.endsWith(".json")).sortBy(_.getName)
    assert(files.length == 36)
    files.foreach { f =>
      val spec = SpecParser.parseFile(f.getPath)
      // round-trip stability
      assert(SpecParser.parse(SpecJson.serialize(spec)) == spec, f.getName)
      // compiles to a runnable check set in dynamic mode
      val checks = graft.compile.VariantCompiler.compile(
        spec, org.apache.spark.sql.functions.parse_json(
          org.apache.spark.sql.functions.lit("{}")))
      assert(checks.nonEmpty || spec == graft.spec.ObjSpec(), f.getName)
    }
  }

  test("all 36 fixtures STAGED-compile and execute end-to-end (variant mode)") {
    import spark.implicits._
    // a few value shapes so every staged derivation path is exercised
    val rows = Seq((1L, """{"a":1,"b":"x","c":[1,2],"d":{"e":true}}"""),
                   (2L, """[1,"two",null]"""), (3L, """"str""""),
                   (4L, """42"""), (5L, """null""")).toDF("doc_id", "json")
    val files = fixtureDir.listFiles().filter(_.getName.endsWith(".json")).sortBy(_.getName)
    files.foreach { f =>
      val spec = SpecParser.parseFile(f.getPath)
      val v = Validator.validateJson(rows, spec, "json", "doc_id", None)
      v.verdicts.collect() // staged plan must build AND run for every fixture
      v.violations.collect()
    }
  }

  /** The two column backends are independent implementations of the same
    * semantics under one keyword walk; on data expressible in both modes
    * they must agree. */
  test("typed-column and variant compilers agree on verdicts (property)") {
    import spark.implicits._
    val schema =
      """{"type":"object",
          "required":["doc_id","source"],
          "properties":{
            "doc_id":{"type":"string","minLength":3,"pattern":"^d"},
            "n_tok":{"type":"integer","minimum":1,"maximum":100,"multipleOf":1},
            "source":{"type":"string","enum":["web","books","code"]}}}"""
    val spec = SpecParser.parse(schema)

    val genRow = for {
      docId <- Gen.oneOf(Gen.const(null: String), Gen.alphaStr.map("d" + _), Gen.const("x"))
      nTok <- Gen.oneOf(Gen.const(null: Integer), Gen.choose(-5, 120).map(Integer.valueOf))
      source <- Gen.oneOf(null, "web", "books", "code", "spam")
    } yield (docId, nTok, source)

    (1 to 8).foreach { trial =>
      val rows = Gen.listOfN(60, genRow)
        .apply(Gen.Parameters.default, rng.Seed(42L + trial)).get
      locally {
        val df = rows.zipWithIndex
          .map { case ((d, n, s), i) => (i.toString, d, if (n == null) null else n, s) }
          .toDF("rid", "doc_id", "n_tok", "source")

        val typed = Validator.run(df,
          graft.compile.Compiler.compile(spec,
            org.apache.spark.sql.types.StructType(df.schema.filterNot(_.name == "rid"))),
          "rid", None)
        // variant mode via to_json of the row — to_json drops null fields,
        // matching typed mode's null ≡ absent convention
        val json = df.select(org.apache.spark.sql.functions.col("rid"),
          org.apache.spark.sql.functions.to_json(
            org.apache.spark.sql.functions.struct(
              org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col("n_tok"),
              org.apache.spark.sql.functions.col("source"))).as("js"))
        val variant = Validator.validateJson(json, spec, "js", "rid", None)

        def keyset(v: graft.run.Validation): Set[(String, String, String)] =
          v.violations.select("doc_id", "constraint_id", "message").collect()
            .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

        assert(keyset(typed) == keyset(variant))
      }
    }
  }
}
