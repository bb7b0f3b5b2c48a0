package graft

import graft.plans.{NfcNormalize, VectorExpressions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The NFC expression must agree with java.text.Normalizer on BOTH
  * execution paths (whole-stage codegen and interpreted eval), be
  * idempotent, and actually compose decomposed sequences. */
class NfcSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def normalizeViaSpark(strings: Seq[String], codegen: Boolean): Seq[String] = {
    VectorExpressions.register(spark)
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
      val s = spark
      import s.implicits._
      strings.toDF("s")
        .select(NfcNormalize.nfc_normalize(col("s")).as("n"))
        .collect().map(_.getString(0)).toSeq
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("composes known decompositions and is a no-op on composed text") {
    val in = Seq(
      "café",               // e + combining acute -> é
      "café",                // already composed
      "Ångström",     // A+ring, o+diaeresis -> composed
      "plain ascii",
      "")
    val want = in.map(java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC))
    assert(normalizeViaSpark(in, codegen = true) == want)
    assert(want(0) == "caf\u00e9")
    assert(want(0).length == 4)
    assert(in(0).length == 5, "input really was decomposed")
  }

  test("property: codegen ≡ interpreted ≡ Normalizer, and idempotent") {
    val genStr: Gen[String] = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar,
      Gen.oneOf('\u0301', '\u0308', '\u030a', '\u00e9', '\u00c5',
        '\u0123', '\u4e16', '\u00df'),
      Gen.choose(' ', '\u024f')))
      .map(_.mkString)
    val batches = (1 to 6).flatMap { i =>
      Gen.listOfN(30, genStr)
        .apply(Gen.Parameters.default, Seed(42L + i))
    }
    batches.foreach { raw =>
      val want = raw.map(java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC))
      assert(normalizeViaSpark(raw, codegen = true) == want)
      assert(normalizeViaSpark(raw, codegen = false) == want)
      assert(want.map(java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC)) == want,
        "idempotence")
    }
  }
}
