package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level AVI (RIFF) container-header decoder — the video sibling
  * of [[AudioHeaderDecode]]: verifies the RIFF/`AVI `/`avih` magics of
  * the canonical layout (MainAVIHeader at byte 32) and reads the
  * little-endian fields a video pipeline's metadata pass needs before
  * any codec work: µs-per-frame (32), total frames (48), stream count
  * (56), width (64), height (68). Returns
  * `struct<format, usec_per_frame, n_frames, streams, width, height>`
  * or NULL for unrecognized/truncated bytes (nullable=true — the
  * optimizer erases the null otherwise). Stays inside whole-stage
  * codegen.
  */
case class VideoHeaderDecode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"video_header_decode requires a BINARY argument, got ${child.dataType.sql}")

  override def dataType: DataType = VideoHeaderDecode.schema
  override def nullable: Boolean = true
  override def prettyName: String = "video_header_decode"

  override def nullSafeEval(input: Any): Any =
    VideoHeaderDecode.decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
      ${ev.value} = graft.expressions.VideoHeaderDecode.decode($c);
      ${ev.isNull} = ${ev.value} == null;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): VideoHeaderDecode =
    copy(child = newChild)
}

object VideoHeaderDecode extends NativeFunction {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("usec_per_frame", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("streams", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false)))

  private val FmtAvi = UTF8String.fromString("avi")

  @inline private def u8(b: Array[Byte], i: Int): Long = b(i) & 0xFFL
  @inline private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  /** Canonical-layout AVI: RIFF at 0, `AVI ` at 8, LIST/hdrl at 12,
    * `avih` chunk at 24, MainAVIHeader at 32 (56 bytes → 88-byte
    * header). Returns null when any magic or the minimum length is
    * off, or the timing is degenerate.
    */
  def decode(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 88) return null
    if (!(b(0) == 0x52 && b(1) == 0x49 && b(2) == 0x46 && b(3) == 0x46)) return null // RIFF
    if (!(b(8) == 0x41 && b(9) == 0x56 && b(10) == 0x49 && b(11) == 0x20)) return null // AVI_
    if (!(b(24) == 0x61 && b(25) == 0x76 && b(26) == 0x69 && b(27) == 0x68)) return null // avih
    val usec = le32(b, 32)
    if (usec <= 0) return null
    new GenericInternalRow(Array[Any](FmtAvi, usec, le32(b, 48), le32(b, 56),
      le32(b, 64), le32(b, 68)))
  }

  val fnName = "video_header_decode"
  val builder: Seq[Expression] => Expression = exprs => VideoHeaderDecode(exprs.head)
}
