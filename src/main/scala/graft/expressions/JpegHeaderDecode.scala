package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level JPEG (JFIF) frame-header decoder — unlike the fixed-offset
  * BMP/WAV/AVI siblings, JPEG metadata sits behind a MARKER WALK: the
  * SOF segment's position depends on the lengths of every preceding
  * variable-length segment (APP0, COM, …), so the decoder reads each
  * segment's big-endian length and jumps until it meets SOF0 (baseline,
  * 0xFFC0) or SOF2 (progressive, 0xFFC2), bounded at
  * [[JpegHeaderDecode.MaxSegments]] segments — the SAME bound the
  * oracle's unrolled hex-offset chain uses, so both sides walk
  * identically by construction. Fields: precision, height, width,
  * component count, plus how many segments were skipped. NULL for bad
  * magic / truncation / no SOF within the bound (nullable=true — the
  * optimizer erases the null otherwise). Stays inside whole-stage
  * codegen.
  */
case class JpegHeaderDecode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"jpeg_header_decode requires a BINARY argument, got ${child.dataType.sql}")

  override def dataType: DataType = JpegHeaderDecode.schema
  override def nullable: Boolean = true
  override def prettyName: String = "jpeg_header_decode"

  override def nullSafeEval(input: Any): Any =
    JpegHeaderDecode.decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
      ${ev.value} = graft.expressions.JpegHeaderDecode.decode($c);
      ${ev.isNull} = ${ev.value} == null;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): JpegHeaderDecode =
    copy(child = newChild)
}

object JpegHeaderDecode extends NativeFunction {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("precision", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("n_components", LongType, nullable = false),
    StructField("n_skipped", LongType, nullable = false),
    StructField("has_exif", BooleanType, nullable = false)))

  /** Marker-walk bound — mirrored verbatim by the oracle's unrolled
    * hex-offset CTE chain.
    */
  val MaxSegments = 6

  private val FmtBaseline = UTF8String.fromString("jpeg_baseline")
  private val FmtProgressive = UTF8String.fromString("jpeg_progressive")

  @inline private def u8(b: Array[Byte], i: Int): Long = b(i) & 0xFFL
  @inline private def be16(b: Array[Byte], i: Int): Long =
    (u8(b, i) << 8) | u8(b, i + 1)

  /** SOI at 0, then up to [[MaxSegments]] marker-walk steps: each
    * segment is 0xFF marker + be16 length (length INCLUDES its own two
    * bytes, per spec). SOF0/SOF2 stops the walk; its payload is
    * precision u8, height be16, width be16, n_components u8.
    */
  def decode(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 4) return null
    if (!(u8(b, 0) == 0xFF && u8(b, 1) == 0xD8)) return null // SOI
    var o = 2
    var step = 0
    var exif = false
    while (step < MaxSegments) {
      if (o + 4 > b.length || u8(b, o) != 0xFF) return null
      val m = u8(b, o + 1)
      if (m == 0xC0 || m == 0xC2) {
        if (o + 10 > b.length) return null
        return new GenericInternalRow(Array[Any](
          if (m == 0xC0) FmtBaseline else FmtProgressive,
          u8(b, o + 4), be16(b, o + 5), be16(b, o + 7), u8(b, o + 9),
          step.toLong, exif))
      }
      // APP1 carrying the 'Exif' identifier right after its length
      if (m == 0xE1 && o + 8 <= b.length && u8(b, o + 4) == 0x45 &&
        u8(b, o + 5) == 0x78 && u8(b, o + 6) == 0x69 && u8(b, o + 7) == 0x66)
        exif = true
      o += 2 + be16(b, o + 2).toInt
      step += 1
    }
    null
  }

  val fnName = "jpeg_header_decode"
  val builder: Seq[Expression] => Expression = exprs => JpegHeaderDecode(exprs.head)
}
