package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** 64-bit DCT perceptual hash (pHash) over the same REAL 8×8 24bpp BMP
  * thumbnail [[ImageAHash]] decodes — the 2D-DCT sibling of the
  * average hash (Zauner, "Implementation and Benchmarking of
  * Perceptual Image Hash Functions", 2010 — public). The classic
  * construction resizes to 32×32 and keeps the 8×8 low-frequency
  * block; the thumbnails here are ALREADY the canonical 8×8 grid, so
  * the full 8×8 DCT-II is the low-frequency spectrum and every
  * coefficient contributes one bit.
  *
  * EXACT integer arithmetic end to end: the cosine basis is the
  * fixed-point table C[k][n] = round(10⁴·cos((2n+1)kπ/16)) — literal
  * integers shared verbatim with the DuckDB oracle (interpolated from
  * [[ImageDctHash.cosTable]] into the oracle SQL, so the two engines
  * cannot diverge on a trig ulp). The separable transform
  * G = C·L, F = G·Cᵀ stays in Long (|F| ≤ 255·64·10⁸ < 2⁶³), and bit
  * k = 8u+v (MSB-first) is set iff 63·F[u][v] > ΣF − F[0][0] — the
  * cross-multiplied form of "AC coefficient above AC mean", no
  * division anywhere. The DC bit (k = 0) is always 0: it would
  * compare the grand luminance sum against the AC mean, a brightness
  * measure aHash already covers, not structure.
  *
  * Returns NULL for anything that is not a complete 8×8 24bpp BMP
  * (nullable=true is mandatory — the optimizer erases the null
  * otherwise). Pure per-row integer math through the static helper,
  * stays inside whole-stage codegen.
  */
case class ImageDctHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"image_dct_hash requires a BINARY argument, got ${child.dataType.sql}")

  override def dataType: DataType = LongType
  // a non-null blob that is not a decodable 8×8 thumbnail hashes to NULL
  override def nullable: Boolean = true
  override def prettyName: String = "image_dct_hash"

  override def nullSafeEval(input: Any): Any =
    ImageDctHash.hash(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
      Long ${ev.value}Boxed = graft.expressions.ImageDctHash.hash($c);
      ${ev.isNull} = ${ev.value}Boxed == null;
      ${ev.value} = ${ev.isNull} ? -1L : ${ev.value}Boxed.longValue();
      """
    })

  override protected def withNewChildInternal(newChild: Expression): ImageDctHash =
    copy(child = newChild)
}

object ImageDctHash extends NativeFunction {
  private final val Dim = 8
  final val Scale = 10000L

  /** Fixed-point DCT-II basis: cosTable(k)(n) = round(10⁴·cos((2n+1)kπ/16)).
    * Computed once from the JVM's cos — but treated as LITERALS from
    * here on: the oracle SQL interpolates these exact integers, so
    * both engines multiply identical constants.
    */
  val cosTable: Array[Array[Long]] = Array.tabulate(Dim, Dim) { (k, n) =>
    math.round(Scale.toDouble * math.cos((2 * n + 1) * k * math.Pi / 16.0))
  }

  /** Static hasher — generated code calls it directly. Boxed Long so a
    * failed decode is distinguishable from a valid hash. Decode layout
    * is identical to [[ImageAHash.hash]] (same thumbnails).
    */
  def hash(b: Array[Byte]): java.lang.Long = {
    @inline def u8(i: Int): Int = b(i) & 0xFF
    @inline def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    @inline def le32(i: Int): Int =
      u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    if (b == null || b.length < 34 || b(0) != 0x42 || b(1) != 0x4D) return null
    val off = le32(10)
    // subtraction form: `off + Dim*Dim*3` overflows int for off near
    // Int.MaxValue and would pass the check, then throw inside codegen
    if (le32(18) != Dim || le32(22) != Dim || le16(28) != 24 || off < 0 ||
      off > b.length - Dim * Dim * 3) return null
    // luminance in IMAGE order (file rows are bottom-up)
    val lum = new Array[Long](Dim * Dim)
    var j = 0
    while (j < Dim * Dim) {
      val p = off + 3 * j
      lum((Dim - 1 - j / Dim) * Dim + j % Dim) = (u8(p) + u8(p + 1) + u8(p + 2)) / 3
      j += 1
    }
    // separable DCT: G[u][m] = Σ_n C[u][n]·lum[n][m]; F[u][v] = Σ_m G[u][m]·C[v][m]
    val g = new Array[Long](Dim * Dim)
    var u = 0
    while (u < Dim) {
      var m = 0
      while (m < Dim) {
        var acc = 0L
        var n = 0
        while (n < Dim) { acc += cosTable(u)(n) * lum(n * Dim + m); n += 1 }
        g(u * Dim + m) = acc
        m += 1
      }
      u += 1
    }
    val f = new Array[Long](Dim * Dim)
    var tot = 0L
    u = 0
    while (u < Dim) {
      var v = 0
      while (v < Dim) {
        var acc = 0L
        var m = 0
        while (m < Dim) { acc += g(u * Dim + m) * cosTable(v)(m); m += 1 }
        f(u * Dim + v) = acc
        tot += acc
        v += 1
      }
      u += 1
    }
    val acSum = tot - f(0)
    var hsh = 0L
    var k = 0
    while (k < Dim * Dim) {
      hsh <<= 1
      if (k > 0 && 63L * f(k) > acSum) hsh |= 1L
      k += 1
    }
    java.lang.Long.valueOf(hsh)
  }

  val fnName = "image_dct_hash"
  val builder: Seq[Expression] => Expression = exprs => ImageDctHash(exprs.head)
}
