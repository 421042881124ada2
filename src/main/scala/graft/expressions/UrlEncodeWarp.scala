package graft.expressions

import graft.core.Sensision
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the reference's Warp-flavored URL
  * encoding (Go url.QueryEscape + '+'→"%20", core/warp.go:434-441) — a
  * codegen'd `UnaryExpression` instead of a Scala UDF so it stays inside
  * whole-stage codegen with no serialization boundary (SURVEY.md §4.3).
  */
case class UrlEncodeWarp(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"url_encode_warp requires a STRING argument, got ${child.dataType.sql}")

  override def dataType: DataType = StringType
  override def prettyName: String = "url_encode_warp"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(Sensision.urlEncodeWarp(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.core.Sensision.urlEncodeWarp($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): UrlEncodeWarp =
    copy(child = newChild)
}

object UrlEncodeWarp extends NativeFunction {
  val fnName = "url_encode_warp"
  val builder: Seq[Expression] => Expression = exprs => UrlEncodeWarp(exprs.head)
}
