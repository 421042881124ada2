package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen'd `UnaryExpression` —
  * Spark has no built-in normalizer, and text dedup/fingerprinting is
  * wrong without one (composed "é" and decomposed "e"+U+0301 are the
  * same document but hash differently). Stays inside whole-stage
  * codegen; the DuckDB oracle twin is `nfc_normalize(...)` — both are
  * the standard Unicode NFC algorithm, so outputs are identical.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires a STRING argument, got ${child.dataType.sql}")

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      NfcNormalize.nfc(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.expressions.NfcNormalize.nfc($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize extends NativeFunction {
  /** Static entry point for generated code (scalac emits a static
    * forwarder on the companion class). Fast path: NFC says most
    * strings are already normalized — `isNormalized` is a cheap scan
    * that avoids allocating for ASCII/typical text.
    */
  def nfc(s: String): String =
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) s
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)

  val fnName = "graft_nfc"
  val builder: Seq[Expression] => Expression = exprs => NfcNormalize(exprs.head)
}
