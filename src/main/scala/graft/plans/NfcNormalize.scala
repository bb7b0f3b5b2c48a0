package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen'd expression.
  *
  * Text dedup and fingerprinting break when the same visible string
  * arrives in different code-point sequences ("é" as U+00E9 vs
  * e + combining U+0301): digests differ, joins miss, near-dup shingles
  * shift. Canonical composition (NFC, UAX #15) is the standard fix and
  * Spark has no built-in for it — a Scala UDF would box every row and
  * fence off whole-stage codegen, so this is the custom-`Expression`
  * path (SURVEY.md §7.4): `doGenCode` emits a static
  * `java.text.Normalizer` call with an `isNormalized` fast path (the
  * common already-composed case does no allocation beyond the check),
  * keeping the normalization inside the fused stage. Both
  * `java.text.Normalizer` and the DuckDB oracle's `nfc_normalize`
  * implement UAX #15 canonical composition, so normalized output
  * hash-matches cross-engine (pinned by nu01).
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires a string input, got ${child.dataType.simpleString}")

  override def nullSafeEval(s: Any): Any = {
    val u = s.asInstanceOf[UTF8String]
    val str = u.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) u
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("str")
      s"""
         |String $tmp = $c.toString();
         |${ev.value} =
         |  java.text.Normalizer.isNormalized($tmp, java.text.Normalizer.Form.NFC)
         |    ? $c
         |    : org.apache.spark.unsafe.types.UTF8String.fromString(
         |        java.text.Normalizer.normalize($tmp, java.text.Normalizer.Form.NFC));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize {
  /** Column API (through the session function registry). */
  def nfc_normalize(c: Column): Column = call_function("nfc_normalize", c)
}
