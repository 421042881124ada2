package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level MP4 / ISO-BMFF movie-header decoder — the box walk: an MP4
  * is a sequence of (be32 size, 4CC type) boxes, so `mvhd`'s position
  * depends on every preceding box's size (ftyp, free, skip, …), exactly
  * like the JPEG marker walk. The walk requires `ftyp` FIRST (per spec),
  * jumps box to box bounded at [[Mp4HeaderDecode.MaxBoxes]] — the SAME
  * bound the oracle's unrolled hex-offset chain uses — and stops at
  * `moov`, reading its first child `mvhd` (version 0): timescale at
  * payload +12, duration at +16. Fields: major brand, boxes skipped
  * before moov, whether a `free` box was seen, timescale, duration.
  * NULL for bad magic / truncation / non-v0 mvhd / no moov within the
  * bound (nullable=true — the optimizer erases the null otherwise).
  * Stays inside whole-stage codegen.
  */
case class Mp4HeaderDecode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"mp4_header_decode requires a BINARY argument, got ${child.dataType.sql}")

  override def dataType: DataType = Mp4HeaderDecode.schema
  override def nullable: Boolean = true
  override def prettyName: String = "mp4_header_decode"

  override def nullSafeEval(input: Any): Any =
    Mp4HeaderDecode.decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
      ${ev.value} = graft.expressions.Mp4HeaderDecode.decode($c);
      ${ev.isNull} = ${ev.value} == null;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Mp4HeaderDecode =
    copy(child = newChild)
}

object Mp4HeaderDecode extends NativeFunction {
  val schema: StructType = StructType(Seq(
    StructField("major_brand", StringType, nullable = false),
    StructField("n_skipped", LongType, nullable = false),
    StructField("has_free", BooleanType, nullable = false),
    StructField("timescale", LongType, nullable = false),
    StructField("duration", LongType, nullable = false)))

  /** Box-walk bound — mirrored verbatim by the oracle's unrolled
    * hex-offset CTE chain.
    */
  val MaxBoxes = 6

  @inline private def u8(b: Array[Byte], i: Int): Long = b(i) & 0xFFL
  @inline private def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  @inline private def is4cc(b: Array[Byte], i: Int, s: String): Boolean =
    u8(b, i) == s.charAt(0).toLong && u8(b, i + 1) == s.charAt(1).toLong &&
      u8(b, i + 2) == s.charAt(2).toLong && u8(b, i + 3) == s.charAt(3).toLong

  def decode(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 16) return null
    // Cursor stays a LONG: a be32 size can reach 2^32-1, so `o += size`
    // on an Int would go negative (malformed bytes → AIOOBE instead of
    // the documented NULL). 6 max-size boxes fit a Long with room.
    var o = 0L
    var step = 0
    var brand: UTF8String = null
    var free = false
    while (step < MaxBoxes) {
      if (o + 8 > b.length) return null
      val oi = o.toInt // safe: o + 8 <= b.length <= Int.MaxValue
      val size = be32(b, oi)
      if (size < 8) return null // degenerate size would loop forever
      if (step == 0 && !is4cc(b, oi + 4, "ftyp")) return null // ftyp first, per spec
      if (is4cc(b, oi + 4, "ftyp")) {
        if (o + 12 > b.length) return null
        brand = UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, oi + 8, oi + 12))
      } else if (is4cc(b, oi + 4, "free")) {
        free = true
      } else if (is4cc(b, oi + 4, "moov")) {
        // first child must be a version-0 mvhd; timescale/duration at
        // payload offsets +12/+16 (after version/flags + 2 u32 times)
        if (o + 36 > b.length || !is4cc(b, oi + 12, "mvhd")) return null
        if (u8(b, oi + 16) != 0L) return null // v1 carries 64-bit times
        return new GenericInternalRow(Array[Any](
          brand, step.toLong, free, be32(b, oi + 28), be32(b, oi + 32)))
      }
      o += size
      step += 1
    }
    null
  }

  val fnName = "mp4_header_decode"
  val builder: Seq[Expression] => Expression = exprs => Mp4HeaderDecode(exprs.head)
}
