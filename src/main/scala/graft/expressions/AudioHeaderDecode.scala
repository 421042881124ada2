package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level WAV (RIFF) header decoder — the audio sibling of
  * [[ImageHeaderDecode]]: verifies the RIFF/WAVE magics, walks to the
  * canonical `fmt ` chunk (little-endian fields at fixed offsets:
  * format tag 20, channels 22, sample rate 24, bits 34) and the `data`
  * chunk size at 40, and derives the per-channel sample count
  * n_samples = data_size / block_align. Returns
  * `struct<format, channels, sample_rate, bits, n_samples>` or NULL
  * for unrecognized/truncated bytes (nullable=true — the optimizer
  * erases the null otherwise). The metadata pass an audio pipeline
  * runs before any PCM decode; stays inside whole-stage codegen.
  */
case class AudioHeaderDecode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"audio_header_decode requires a BINARY argument, got ${child.dataType.sql}")

  override def dataType: DataType = AudioHeaderDecode.schema
  override def nullable: Boolean = true
  override def prettyName: String = "audio_header_decode"

  override def nullSafeEval(input: Any): Any =
    AudioHeaderDecode.decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
      ${ev.value} = graft.expressions.AudioHeaderDecode.decode($c);
      ${ev.isNull} = ${ev.value} == null;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): AudioHeaderDecode =
    copy(child = newChild)
}

object AudioHeaderDecode extends NativeFunction {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("channels", LongType, nullable = false),
    StructField("sample_rate", LongType, nullable = false),
    StructField("bits", LongType, nullable = false),
    StructField("n_samples", LongType, nullable = false)))

  private val FmtWav = UTF8String.fromString("wav")

  @inline private def u8(b: Array[Byte], i: Int): Long = b(i) & 0xFFL
  @inline private def le16(b: Array[Byte], i: Int): Long = u8(b, i) | (u8(b, i + 1) << 8)
  @inline private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  /** Canonical-layout WAV: RIFF at 0, WAVE at 8, `fmt ` chunk at 12,
    * `data` chunk header at 36. Returns null when any magic or the
    * minimum length is off, or the PCM geometry is degenerate.
    */
  def decode(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 44) return null
    if (!(b(0) == 0x52 && b(1) == 0x49 && b(2) == 0x46 && b(3) == 0x46)) return null // RIFF
    if (!(b(8) == 0x57 && b(9) == 0x41 && b(10) == 0x56 && b(11) == 0x45)) return null // WAVE
    if (!(b(12) == 0x66 && b(13) == 0x6D && b(14) == 0x74 && b(15) == 0x20)) return null // fmt_
    if (!(b(36) == 0x64 && b(37) == 0x61 && b(38) == 0x74 && b(39) == 0x61)) return null // data
    val channels = le16(b, 22)
    val sampleRate = le32(b, 24)
    val bits = le16(b, 34)
    val blockAlign = le16(b, 32)
    if (channels <= 0 || blockAlign <= 0) return null
    val nSamples = le32(b, 40) / blockAlign
    new GenericInternalRow(Array[Any](FmtWav, channels, sampleRate, bits, nSamples))
  }

  val fnName = "audio_header_decode"
  val builder: Seq[Expression] => Expression = exprs => AudioHeaderDecode(exprs.head)
}
