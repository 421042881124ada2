package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Fused dot product over two ARRAY<DOUBLE> columns — a native codegen'd
  * Catalyst expression replacing `aggregate(zip_with(a, b, _*_), 0.0, _+_)`
  * in the similarity hot path.
  *
  * The higher-order-function formulation materializes the 64-element
  * product array per row before folding it; this expression is one loop,
  * no intermediate allocation, inside whole-stage codegen. Accumulation is
  * the same left-to-right element order as the fold it replaces, so
  * results are BIT-IDENTICAL — the DuckDB oracles (list_dot_product)
  * need no change.
  *
  * Null semantics match the zip_with/aggregate chain: any null element or
  * a length mismatch yields NULL (zip_with pads the shorter side with
  * nulls, which nullifies the fold).
  */
case class DotProductDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isDoubleArray(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires two ARRAY<DOUBLE> arguments, got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  // Can return NULL even when both inputs are non-null (null element or
  // length mismatch) — without this override the default
  // left.nullable||right.nullable lets the optimizer erase the null flag
  // and surface 0.0 instead.
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
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
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductDouble =
    copy(left = newLeft, right = newRight)
}

object DotProductDouble extends NativeFunction {
  val fnName = "graft_dot"
  val builder: Seq[Expression] => Expression =
    exprs => DotProductDouble(exprs.head, exprs(1))
}
