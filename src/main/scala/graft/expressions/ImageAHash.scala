package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** 64-bit perceptual average-hash (aHash) over a REAL decoded BMP pixel
  * grid, as a codegen'd Catalyst expression: parses the container
  * header from the raw bytes (magic, little-endian data offset / dims /
  * bpp at their BITMAPINFOHEADER offsets), walks the bottom-up 24bpp
  * pixel array of the canonical 8×8 thumbnail, computes per-pixel
  * integer luminance ⌊(B+G+R)/3⌋, and sets image-order bit k (MSB
  * first, top-left pixel = sign bit) iff 64·lum_k ≥ Σ lum — the exact
  * integer form of "pixel above mean", so the hash is deterministic and
  * reproducible by any engine from the same bytes (the DuckDB oracle
  * re-derives it by hex offset arithmetic in ops/Media.duckAHashFold).
  *
  * Returns NULL for anything that is not an 8×8 24bpp BMP with a
  * complete pixel array (nullable=true is mandatory — the optimizer
  * erases the null otherwise). Pure per-row integer math, stays inside
  * whole-stage codegen via the static helper.
  */
case class ImageAHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"image_ahash requires a BINARY argument, got ${child.dataType.sql}")

  override def dataType: DataType = LongType
  // a non-null blob that is not a decodable 8×8 thumbnail hashes to NULL
  override def nullable: Boolean = true
  override def prettyName: String = "image_ahash"

  override def nullSafeEval(input: Any): Any =
    ImageAHash.hash(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
      Long ${ev.value}Boxed = graft.expressions.ImageAHash.hash($c);
      ${ev.isNull} = ${ev.value}Boxed == null;
      ${ev.value} = ${ev.isNull} ? -1L : ${ev.value}Boxed.longValue();
      """
    })

  override protected def withNewChildInternal(newChild: Expression): ImageAHash =
    copy(child = newChild)
}

object ImageAHash extends NativeFunction {
  private final val Dim = 8

  @inline private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  @inline private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  @inline private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  /** Static hasher — generated code calls it directly. Boxed Long so a
    * failed decode is distinguishable from a valid hash.
    */
  def hash(b: Array[Byte]): java.lang.Long = {
    if (b == null || b.length < 34 || b(0) != 0x42 || b(1) != 0x4D) return null
    val off = le32(b, 10)
    val w = le32(b, 18)
    val h = le32(b, 22)
    val bpp = le16(b, 28)
    // subtraction form: `off + Dim*Dim*3` overflows int for off near
    // Int.MaxValue and would pass the check, then throw inside codegen
    if (w != Dim || h != Dim || bpp != 24 || off < 0 ||
      off > b.length - Dim * Dim * 3) return null
    // luminance in IMAGE order (file rows are bottom-up)
    val lum = new Array[Long](Dim * Dim)
    var sum = 0L
    var j = 0
    while (j < Dim * Dim) {
      val p = off + 3 * j
      val l = (u8(b, p) + u8(b, p + 1) + u8(b, p + 2)) / 3
      val k = (Dim - 1 - j / Dim) * Dim + j % Dim
      lum(k) = l
      sum += l
      j += 1
    }
    var hsh = 0L
    var k = 0
    while (k < Dim * Dim) {
      hsh <<= 1
      if (64L * lum(k) >= sum) hsh |= 1L
      k += 1
    }
    java.lang.Long.valueOf(hsh)
  }

  val fnName = "image_ahash"
  val builder: Seq[Expression] => Expression = exprs => ImageAHash(exprs.head)
}
