package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Real byte-level image-container header decoder as a codegen'd
  * Catalyst expression: sniffs the magic bytes of a BINARY column and
  * parses the dimension/frame fields at their format-defined fixed
  * offsets — BMP (BITMAPINFOHEADER, little-endian i32 at 18/22), PNG
  * (IHDR big-endian u32 at 16/20, APNG `acTL` num_frames when the
  * chunk follows IHDR), GIF87a/89a (little-endian u16 at 6/8). Returns
  * `struct<format, width, height, frames>` or NULL when the bytes are
  * not a recognized container (nullable=true is mandatory: the
  * optimizer erases the null otherwise — the documented Expression
  * gotcha). Pure integer offset math over the raw bytes, no codec
  * library: exactly the metadata pass a 100 TB multimodal pipeline
  * runs before deciding what to decode, stays inside whole-stage
  * codegen via a static helper call.
  *
  * CRC fields are deliberately not validated (standard decoder
  * behavior for a metadata scan; full validation belongs to the codec
  * stage this environment lacks).
  */
case class ImageHeaderDecode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"image_header_decode requires a BINARY argument, got ${child.dataType.sql}")

  override def dataType: DataType = ImageHeaderDecode.schema
  // a non-null blob that is not a recognized container decodes to NULL
  override def nullable: Boolean = true
  override def prettyName: String = "image_header_decode"

  override def nullSafeEval(input: Any): Any =
    ImageHeaderDecode.decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
      ${ev.value} = graft.expressions.ImageHeaderDecode.decode($c);
      ${ev.isNull} = ${ev.value} == null;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): ImageHeaderDecode =
    copy(child = newChild)
}

object ImageHeaderDecode extends NativeFunction {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("frames", LongType, nullable = false)))

  private val FmtBmp = UTF8String.fromString("bmp")
  private val FmtPng = UTF8String.fromString("png")
  private val FmtGif = UTF8String.fromString("gif")

  @inline private def u8(b: Array[Byte], i: Int): Long = b(i) & 0xFFL
  /** Little-endian u16 at offset i. */
  @inline private def le16(b: Array[Byte], i: Int): Long = u8(b, i) | (u8(b, i + 1) << 8)
  /** Little-endian 32-bit at offset i, sign-extended (BMP height may be
    * negative for top-down rows; the sign is part of the format).
    */
  @inline private def le32(b: Array[Byte], i: Int): Long =
    (u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)).toInt.toLong
  /** Big-endian u32 at offset i (PNG chunk fields). */
  @inline private def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)

  /** The decoder proper — static so generated code calls it directly.
    * Returns null for unrecognized or truncated containers.
    */
  def decode(b: Array[Byte]): InternalRow = {
    if (b == null) return null
    // BMP: 'BM', BITMAPINFOHEADER dims at byte 18 (w) / 22 (h), le i32
    if (b.length >= 26 && b(0) == 0x42 && b(1) == 0x4D)
      return new GenericInternalRow(Array[Any](FmtBmp, le32(b, 18), math.abs(le32(b, 22)), 1L))
    // PNG: 8-byte signature, IHDR dims at 16/20 be u32; APNG frame
    // count from the acTL chunk when it directly follows IHDR
    // (signature 8 + IHDR chunk 25 = acTL length field at 33, type at
    // 37, num_frames at 41)
    if (b.length >= 24 &&
        u8(b, 0) == 0x89L && b(1) == 0x50 && b(2) == 0x4E && b(3) == 0x47 &&
        b(4) == 0x0D && b(5) == 0x0A && u8(b, 6) == 0x1AL && b(7) == 0x0A) {
      val frames =
        if (b.length >= 45 && b(37) == 0x61 && b(38) == 0x63 && b(39) == 0x54 && b(40) == 0x4C)
          be32(b, 41)
        else 1L
      return new GenericInternalRow(Array[Any](FmtPng, be32(b, 16), be32(b, 20), frames))
    }
    // GIF87a / GIF89a: logical screen dims at 6/8, le u16
    if (b.length >= 10 && b(0) == 0x47 && b(1) == 0x49 && b(2) == 0x46 &&
        b(3) == 0x38 && (b(4) == 0x37 || b(4) == 0x39) && b(5) == 0x61)
      return new GenericInternalRow(Array[Any](FmtGif, le16(b, 6), le16(b, 8), 1L))
    null
  }

  val fnName = "image_header_decode"
  val builder: Seq[Expression] => Expression = exprs => ImageHeaderDecode(exprs.head)
}
