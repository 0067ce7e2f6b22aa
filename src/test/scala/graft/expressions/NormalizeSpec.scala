package graft.expressions

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** norm_text kernel semantics: NFC folding, pinned-locale casefold,
  * zero-width stripping, whitespace collapse — plus idempotence (a
  * normalization that isn't a projection corrupts re-runs) and the
  * fingerprint-folding property the operator exists for.
  */
class NormalizeSpec extends AnyFunSuite {

  private def n(s: String): String =
    Norm.normText(UTF8String.fromString(s)).toString

  test("NFC folds composed and decomposed renderings to one form") {
    val composed = "caf" + '\u00e9' // e-acute, one code point
    val decomposed = "cafe" + '\u0301' // e + combining acute
    assert(composed != decomposed, "fixture must start byte-different")
    assert(n(composed) == n(decomposed))
    assert(n(decomposed) == "caf" + '\u00e9')
  }

  test("lowercase is ROOT-locale pinned") {
    assert(n("HeLLo WORLD") == "hello world")
    // the Turkish hazard: capital I must fold to plain i regardless of
    // any default locale (under tr-TR toLowerCase it would be dotless)
    assert(n("I") == "i")
  }

  test("zero-width characters strip; NBSP and whitespace runs collapse; ends trim") {
    assert(n("a\u200Bb\u200C\u200Dc\uFEFFd") == "abcd")
    assert(n("a\u00A0b") == "a b")
    assert(n("  a \t\n b\r\n  ") == "a b")
    assert(n("\u200B   ") == "")
    assert(n("") == "")
  }

  test("idempotence: normalizing a normalized string is the identity (property)") {
    val safeChar: Gen[Char] = Gen.frequency(
      (8, Gen.asciiPrintableChar),
      (2, Gen.oneOf(
        "éÉüÜñ́ ​﻿\t\n ".toSeq)))
    val strGen: Gen[String] = Gen.listOf(safeChar).map(_.mkString)
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500),
      Prop.forAll(strGen) { s => val once = n(s); n(once) == once })
    assert(res.passed, s"norm_text not idempotent: ${res.status}")
  }

  test("only-junk strings normalize to empty, never throw") {
    assert(n("​") == "" && n(" ") == "" && n(" ") == "")
  }
}

/** The Spark surface: SQL function registration, codegen, NULL handling,
  * and the fingerprint-folding composition.
  */
class NormalizeSparkSpec extends SparkSuite {

  import spark.implicits._
  import org.apache.spark.sql.functions.col

  test("norm_text folds rendering variants onto ONE fingerprint (the point of the op)") {
    val docs = Seq(
      (1L, "The  Quick Brown Fox"),
      (2L, "the quick brown fox"),
      (3L, "THE\u200B QUICK BROWN FOX "),
      (4L, "an actually different document"))
      .toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"),
        graft.operators.TextOps.normalizedFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L) && fps(2L) == fps(3L))
    assert(fps(4L) != fps(1L))
  }

  test("SQL registration + whole-stage codegen + NULL passthrough") {
    val row = spark.sql(
      "SELECT norm_text('  Caf\u00e9\u200B  TIME ') AS t, " +
        "norm_text(CAST(NULL AS STRING)) AS nl").collect().head
    assert(row.getString(0) == "caf\u00e9 time" && row.isNullAt(1))
    // the expression must stay inside WholeStageCodegen (static kernel
    // call, no CodegenFallback) — the input must depend on a runtime
    // column or constant folding evaluates it at plan time and the test
    // proves nothing
    val df = spark.range(2)
      .selectExpr("norm_text(concat('A  B', CAST(id AS STRING))) AS nt")
      .filter(col("nt") === "a b0")
    assert(df.count() == 1)
    // in executedPlan.toString a codegen'd stage prints as `*(id) Op` —
    // the norm_text Project/Filter lines must carry the star (a
    // CodegenFallback expression would print them unstarred)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.filter(_.contains("norm_text"))
        .forall(_.replaceFirst("^[\\s+:-]*", "").startsWith("*(")),
      s"norm_text fell out of whole-stage codegen:\n$plan")
  }
}
