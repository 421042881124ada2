package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The 60-bit md5 key hash as ONE native codegen'd expression —
  * bit-identical to the SQL chain it replaces,
  * `CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT)`, which is the
  * shared cross-engine hash of every sketch/LSH/sampling operator (the
  * DuckDB twin `CAST('0x' || substr(md5(x),1,15) AS BIGINT)` needs no
  * change). The chain md5 → hex STRING → substr → base-16 string parse
  * allocates two strings per row and parses decimal digits back out; this
  * expression digests once and assembles the leading 60 bits (15 hex
  * nibbles) directly from the raw digest bytes. Digest instances are
  * thread-local — codegen calls a static helper, no per-row allocation
  * beyond the digest's own buffer.
  */
case class Md5Hash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_h60 requires a STRING argument, got ${child.dataType.sql}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_h60"

  override def nullSafeEval(input: Any): Any =
    Md5Hash60.hash60(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.Md5Hash60.hash60($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Hash60 =
    copy(child = newChild)
}

object Md5Hash60 extends NativeFunction {
  val fnName = "graft_h60"
  val builder: Seq[Expression] => Expression = exprs => Md5Hash60(exprs.head)

  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex nibbles of md5(utf8 bytes) as an unsigned long:
    * bytes 0..6 whole (56 bits) then the high nibble of byte 7.
    */
  def hash60(s: UTF8String): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    (v << 4) | ((d(7) >> 4) & 0xFL)
  }
}
