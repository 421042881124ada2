package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Integer twin of [[DotProductDouble]]: fused dot product over two
  * ARRAY<BIGINT> columns, replacing the interpreted
  * `aggregate(zip_with(a, b, _*_), 0L, _+_)` fold in fixed-point
  * similarity paths (quantized ×10⁴ vectors — the coreset greedy's
  * coverage objective). One loop, no intermediate array, whole-stage
  * codegen; left-to-right accumulation matches the fold exactly, and
  * integer addition is associative anyway, so results are identical.
  *
  * Overflow intentionally wraps like the HOF fold does NOT (ANSI mode
  * throws there) — callers keep the same headroom discipline as every
  * fixed-point design (|q|≤4·10⁴, 64 dims ⟹ |dot| ≤ 10¹¹); use
  * Math.multiplyExact-style checks only if a caller ever quantizes
  * wider. Null semantics match the fold: null element or length
  * mismatch yields NULL (nullable=true override mandatory).
  */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isLongArray(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"graft_dot_long requires two ARRAY<BIGINT> arguments, got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_long"

  // can return NULL from non-null inputs (null element / length mismatch)
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

object DotProductLong extends NativeFunction {
  val fnName = "graft_dot_long"
  val builder: Seq[Expression] => Expression =
    exprs => DotProductLong(exprs.head, exprs(1))
}
