package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native Catalyst expression with
  * whole-stage codegen — the canonicalization step of a text-cleaning
  * pipeline (decomposed accents, compatibility variants typed by
  * different sources hash differently until composed to one canonical
  * form, which silently breaks exact dedup and fingerprinting).
  *
  * `java.text.Normalizer` implements the Unicode standard's NFC, and
  * DuckDB's `nfc_normalize` implements the same standard, so operators
  * built on it stay oracle-checkable cross-engine. A Scala UDF would
  * compute the same thing through a serialization boundary; this stays
  * inside Tungsten.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  protected override def nullSafeEval(input: Any): Any =
    NfcNormalize.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {

  /** Hot path shared by interpreted eval and generated code. Fast-path:
    * `isNormalized` is O(n) with no allocation for already-NFC text
    * (the overwhelming majority of real corpora). */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }

  def register(spark: SparkSession): Unit =
    GraftHash.registerOnce(spark, "nfc_normalize")(
      exprs => NfcNormalize(exprs.head))

  def nfcNormalize(spark: SparkSession, c: Column): Column = {
    register(spark)
    call_function("nfc_normalize", c)
  }

  /** DuckDB twin: its builtin NFC implements the same Unicode standard. */
  def duckdbSql(col: String): String = s"nfc_normalize($col)"
}
