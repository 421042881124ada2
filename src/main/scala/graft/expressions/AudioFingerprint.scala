package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** 64-bit audio fingerprint over a REAL decoded PCM stream, as a
  * codegen'd Catalyst expression: validates the canonical-layout WAV
  * container (same magics/offsets as [[AudioHeaderDecode]]), requires
  * mono 16-bit PCM with at least 65 samples, reads the little-endian
  * signed int16 samples from the data chunk, and sets fingerprint bit i
  * (MSB first) iff sample i+1 > sample i — the sign-of-difference bit
  * derivation of Haitsma & Kalker, "A Highly Robust Audio
  * Fingerprinting System" (ISMIR 2002 — public), collapsed to one band
  * since the synthetic stream carries no spectrogram. Pure integer
  * byte math, reproducible by any engine from the same bytes (the
  * DuckDB oracle re-derives it via hex offset arithmetic in
  * ops/Media.duckDeltaFold).
  *
  * Returns NULL for anything not a mono 16-bit canonical WAV with a
  * complete 65-sample payload (nullable=true mandatory — the optimizer
  * erases the null otherwise).
  */
case class AudioFingerprint(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"audio_fingerprint requires a BINARY argument, got ${child.dataType.sql}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "audio_fingerprint"

  override def nullSafeEval(input: Any): Any =
    AudioFingerprint.fingerprint(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
      Long ${ev.value}Boxed = graft.expressions.AudioFingerprint.fingerprint($c);
      ${ev.isNull} = ${ev.value}Boxed == null;
      ${ev.value} = ${ev.isNull} ? -1L : ${ev.value}Boxed.longValue();
      """
    })

  override protected def withNewChildInternal(newChild: Expression): AudioFingerprint =
    copy(child = newChild)
}

object AudioFingerprint extends NativeFunction {
  private final val NSamples = 65

  @inline private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  @inline private def le16u(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  /** Little-endian SIGNED int16 at offset i (PCM sample). */
  @inline private def le16s(b: Array[Byte], i: Int): Int = le16u(b, i).toShort.toInt

  /** Static fingerprinter — generated code calls it directly. */
  def fingerprint(b: Array[Byte]): java.lang.Long = {
    if (b == null || b.length < 44 + 2 * NSamples) return null
    if (!(b(0) == 0x52 && b(1) == 0x49 && b(2) == 0x46 && b(3) == 0x46)) return null // RIFF
    if (!(b(8) == 0x57 && b(9) == 0x41 && b(10) == 0x56 && b(11) == 0x45)) return null // WAVE
    if (!(b(12) == 0x66 && b(13) == 0x6D && b(14) == 0x74 && b(15) == 0x20)) return null // fmt_
    if (!(b(36) == 0x64 && b(37) == 0x61 && b(38) == 0x74 && b(39) == 0x61)) return null // data
    if (le16u(b, 22) != 1 || le16u(b, 34) != 16) return null // mono 16-bit only
    var fp = 0L
    var i = 0
    while (i < NSamples - 1) {
      fp <<= 1
      if (le16s(b, 44 + 2 * (i + 1)) > le16s(b, 44 + 2 * i)) fp |= 1L
      i += 1
    }
    java.lang.Long.valueOf(fp)
  }

  val fnName = "audio_fingerprint"
  val builder: Seq[Expression] => Expression = exprs => AudioFingerprint(exprs.head)
}
