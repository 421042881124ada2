package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The byte-level container decoder against hand-laid-out header bytes
  * (offsets from the public format specs), truncated/garbage inputs,
  * and the codegen path.
  */
class ImageHeaderDecodeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("local[2]", 2)

  override def afterAll(): Unit = spark.stop()

  private def decode(hex: String) = {
    import spark.implicits._
    Seq(hex).toDF("hx").repartition(1)
      .selectExpr("image_header_decode(unhex(hx)) AS m")
      .selectExpr("m.format", "m.width", "m.height", "m.frames")
      .collect()(0)
  }

  test("BMP: little-endian dims at 18/22, negative (top-down) height folded") {
    // 26-byte prefix: 'BM', sizes/offsets, width 640 = 8002, height -2 (top-down)
    val r = decode("424D" + "36000000" + "00000000" + "36000000" + "28000000" +
      "80020000" + "FEFFFFFF")
    assert(r.getString(0) == "bmp" && r.getLong(1) == 640L && r.getLong(2) == 2L
      && r.getLong(3) == 1L)
  }

  test("PNG: big-endian IHDR dims; APNG acTL frame count; static PNG = 1 frame") {
    val sig = "89504E470D0A1A0A"
    val ihdr = "0000000D" + "49484452" + "00000280" + "000001E0" + "0806000000" + "AABBCCDD"
    // acTL: len 8, 'acTL', num_frames 17, num_plays 0, crc
    val actl = "00000008" + "6163544C" + "00000011" + "00000000" + "AABBCCDD"
    val anim = decode(sig + ihdr + actl)
    assert(anim.getString(0) == "png" && anim.getLong(1) == 640L &&
      anim.getLong(2) == 480L && anim.getLong(3) == 17L)
    // same file with a non-acTL chunk after IHDR (IDAT) decodes 1 frame
    val still = decode(sig + ihdr + "00000008" + "49444154" + "0000001100000000AABBCCDD")
    assert(still.getLong(3) == 1L)
  }

  test("GIF: 87a and 89a accepted, little-endian u16 dims at 6/8") {
    val r89 = decode("474946383961" + "8002" + "E001" + "000000" + "3B")
    assert(r89.getString(0) == "gif" && r89.getLong(1) == 640L && r89.getLong(2) == 480L)
    val r87 = decode("474946383761" + "1000" + "2000" + "000000" + "3B")
    assert(r87.getString(0) == "gif" && r87.getLong(1) == 16L && r87.getLong(2) == 32L)
  }

  test("garbage, truncated and null inputs decode to NULL (nullable honored)") {
    import spark.implicits._
    val rows = Seq(
      Some("FFD8FFE0"),          // JPEG magic — not a supported container
      Some("424D36"),            // truncated BMP
      Some("89504E470D0A1A"),    // truncated PNG signature
      None: Option[String]       // null in, null out
    ).toDF("hx").repartition(1)
      .selectExpr("image_header_decode(unhex(hx)) AS m").collect()
    assert(rows.forall(_.isNullAt(0)), s"expected all NULL, got ${rows.toSeq}")
  }

  private def decodeWav(hex: String) = {
    import spark.implicits._
    Seq(hex).toDF("hx").repartition(1)
      .selectExpr("audio_header_decode(unhex(hx)) AS m")
      .selectExpr("m.format", "m.channels", "m.sample_rate", "m.bits", "m.n_samples")
      .collect()(0)
  }

  test("WAV: RIFF magics, le fmt fields, n_samples = data size / block align") {
    // 44.1 kHz stereo 16-bit, data 400 bytes -> 100 samples/channel
    // rate 44100 = AC44 -> le '44AC0000'; byte rate 176400 = 2B110 -> '10B10200'
    val hex = "52494646" + "B4010000" + "57415645" + "666D7420" + "10000000" +
      "0100" + "0200" + "44AC0000" + "10B10200" + "0400" + "1000" +
      "64617461" + "90010000"
    val r = decodeWav(hex)
    assert(r.getString(0) == "wav" && r.getLong(1) == 2L && r.getLong(2) == 44100L &&
      r.getLong(3) == 16L && r.getLong(4) == 100L)
    // mono 8 kHz: 8000 = 1F40 -> le '401F0000'; block align 2; data 64 -> 32 samples
    val mono = "52494646" + "64000000" + "57415645" + "666D7420" + "10000000" +
      "0100" + "0100" + "401F0000" + "803E0000" + "0200" + "1000" +
      "64617461" + "40000000"
    val m = decodeWav(mono)
    assert(m.getLong(1) == 1L && m.getLong(2) == 8000L && m.getLong(4) == 32L)
    // wrong WAVE magic / truncated -> NULL
    import spark.implicits._
    val bad = Seq("52494646" + "54000000" + "57415646" + hex.drop(24), "524946").toDF("hx")
      .repartition(1).selectExpr("audio_header_decode(unhex(hx)) AS m").collect()
    assert(bad.forall(_.isNullAt(0)))
  }

  private def decodeAvi(hex: String) = {
    import spark.implicits._
    Seq(hex).toDF("hx").repartition(1)
      .selectExpr("video_header_decode(unhex(hx)) AS m")
      .selectExpr("m.format", "m.usec_per_frame", "m.n_frames", "m.streams",
        "m.width", "m.height")
      .collect()(0)
  }

  test("AVI: RIFF/AVI /avih magics, MainAVIHeader le fields at 32/48/56/64/68") {
    // 25 fps (40000 µs = 9C40 -> le '409C0000'), 120 frames, 2 streams, 640×480
    val hex = "52494646" + "50000000" + "41564920" + "4C495354" + "44000000" +
      "6864726C" + "61766968" + "38000000" +
      "409C0000" + "00000000" + "00000000" + "10000000" +
      "78000000" + "00000000" + "02000000" + "00000000" +
      "80020000" + "E0010000" + "00" * 16
    val r = decodeAvi(hex)
    assert(r.getString(0) == "avi" && r.getLong(1) == 40000L && r.getLong(2) == 120L &&
      r.getLong(3) == 2L && r.getLong(4) == 640L && r.getLong(5) == 480L)
    // wrong form type (WAVE bytes), missing avih, truncated, zero µs -> NULL
    import spark.implicits._
    val bad = Seq(
      hex.patch(16, "57415645", 8),                 // 'WAVE' form
      hex.patch(48, "4C495354", 8),                 // avih magic wrong
      hex.take(100),                                // truncated
      hex.patch(64, "00000000", 8)                  // µs-per-frame 0
    ).toDF("hx").repartition(1)
      .selectExpr("video_header_decode(unhex(hx)) AS m").collect()
    assert(bad.forall(_.isNullAt(0)), s"expected all NULL, got ${bad.toSeq}")
  }

  // ---- image_ahash over the 8×8 thumbnail container ----

  /** Header hex for the canonical 8×8 24bpp thumbnail (Media layout). */
  private val thumbHeader = "424D" + "F6000000" + "00000000" + "36000000" +
    "28000000" + "08000000" + "08000000" + "0100" + "1800" +
    "00000000" + "C0000000" + "130B0000" + "130B0000" + "00000000" + "00000000"

  private def ahash(hex: String): Option[Long] = {
    import spark.implicits._
    val r = Seq(hex).toDF("hx").repartition(1)
      .selectExpr("image_ahash(unhex(hx)) AS a").collect()(0)
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  test("aHash: uniform image sets every bit (64·lum ≥ Σ at equality)") {
    val px = "101010" * 64
    assert(ahash(thumbHeader + px) == Some(-1L))
  }

  test("aHash: single bright top-left pixel = sign bit only (bottom-up rows mapped)") {
    // file pixel 56 is image pixel 0 (top-left): rows are stored bottom-up
    val px = ("000000" * 56) + "FFFFFF" + ("000000" * 7)
    assert(ahash(thumbHeader + px) == Some(Long.MinValue))
  }

  test("aHash: luminance is the integer mean of the actual BGR bytes") {
    // one pixel B=10,G=20,R=31 -> lum (10+20+31)/3 = 20; the rest 20 too
    // (uniform -> all bits) vs making that pixel 21 (below-mean zeros appear)
    val uniform = ("141414" * 63) + "0A141F"
    assert(ahash(thumbHeader + uniform) == Some(-1L))
    val brighter = ("141414" * 63) + "0A1421" // (10+20+33)/3 = 21 at image pixel 7 (file 63 = top-right)
    val h = ahash(thumbHeader + brighter).get
    // only the brighter pixel clears 64·lum ≥ Σ (Σ = 63·20+21 = 1281 > 64·20)
    assert(h == (1L << 56), f"got $h%016x")
  }

  test("aHash: non-thumbnail dims, truncated pixels and non-BMP decode to NULL") {
    val wide = thumbHeader.replace("08000000" + "08000000", "10000000" + "08000000")
    assert(ahash(wide + "101010" * 128).isEmpty)           // 16×8: not the thumbnail contract
    assert(ahash(thumbHeader + "101010" * 63).isEmpty)     // pixel array truncated
    assert(ahash("474946383961" + "0800" + "0800" + "000000" + "3B").isEmpty) // GIF
    assert(ahash(thumbHeader.take(20)).isEmpty)            // truncated header
  }

  test("aHash agrees with an independent in-test reference on random pixels") {
    val rnd = new scala.util.Random(42)
    (1 to 20).foreach { _ =>
      val bytes = Array.fill(192)(rnd.nextInt(256))
      val hex = thumbHeader + bytes.map(b => f"$b%02X").mkString
      // independent re-derivation: file pixel j -> image (7 - j/8)*8 + j%8
      val lum = new Array[Long](64)
      (0 until 64).foreach { j =>
        lum((7 - j / 8) * 8 + j % 8) =
          (bytes(3 * j) + bytes(3 * j + 1) + bytes(3 * j + 2)) / 3
      }
      val sum = lum.sum
      val expect = lum.zipWithIndex.foldLeft(0L) { case (acc, (l, k)) =>
        if (64L * l >= sum) acc | (1L << (63 - k)) else acc
      }
      assert(ahash(hex) == Some(expect))
    }
  }

  // ---- image_dct_hash over the same thumbnail container ----

  private def dctHash(hex: String): Option[Long] = {
    import spark.implicits._
    val r = Seq(hex).toDF("hx").repartition(1)
      .selectExpr("image_dct_hash(unhex(hx)) AS a").collect()(0)
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  test("dctHash: uniform image has zero AC spectrum -> hash 0 (and DC bit always 0)") {
    assert(dctHash(thumbHeader + "808080" * 64) == Some(0L))
    assert(dctHash(thumbHeader + "000000" * 64) == Some(0L))
  }

  test("dctHash: cosine table is the exact fixed-point DCT-II basis") {
    val c = graft.expressions.ImageDctHash.cosTable
    assert(c(0).forall(_ == 10000L))                       // k=0 row is flat
    assert(c(4)(0) == 7071L && c(4)(1) == -7071L)          // cos(π/4) alternation
    assert(c(1)(0) == 9808L && c(1)(7) == -9808L)          // cos(π/16) symmetry
    (1 until 8).foreach(k => assert(c(k).sum == 0L,
      s"row $k of an even-length DCT basis must sum to 0"))
  }

  test("dctHash: non-thumbnail dims, truncated pixels and non-BMP decode to NULL") {
    val wide = thumbHeader.replace("08000000" + "08000000", "10000000" + "08000000")
    assert(dctHash(wide + "101010" * 128).isEmpty)
    assert(dctHash(thumbHeader + "101010" * 63).isEmpty)
    assert(dctHash(thumbHeader.take(20)).isEmpty)
  }

  test("dctHash agrees with an independent in-test reference and is non-negative") {
    val c = graft.expressions.ImageDctHash.cosTable
    val rnd = new scala.util.Random(7)
    (1 to 20).foreach { _ =>
      val bytes = Array.fill(192)(rnd.nextInt(256))
      val hex = thumbHeader + bytes.map(b => f"$b%02X").mkString
      val lum = new Array[Long](64)
      (0 until 64).foreach { j =>
        lum((7 - j / 8) * 8 + j % 8) =
          (bytes(3 * j) + bytes(3 * j + 1) + bytes(3 * j + 2)) / 3
      }
      // independent direct (non-separable) 2D DCT fold
      val f = Array.tabulate(8, 8) { (u, v) =>
        (for (n <- 0 until 8; m <- 0 until 8)
          yield c(u)(n) * c(v)(m) * lum(n * 8 + m)).sum
      }.flatten
      val acSum = f.sum - f(0)
      val expect = f.zipWithIndex.foldLeft(0L) { case (acc, (x, k)) =>
        if (k > 0 && 63L * x > acSum) acc | (1L << (63 - k)) else acc
      }
      val got = dctHash(hex)
      assert(got == Some(expect))
      assert(got.get >= 0L, "DC bit must be 0")
    }
  }

  // ---- audio_fingerprint over the 65-sample PCM payload ----

  /** Canonical mono 8 kHz 16-bit header for the 65-sample payload. */
  private val pcmHeader = "52494646" + "A6000000" + "57415645" + "666D7420" +
    "10000000" + "0100" + "0100" + "401F0000" + "803E0000" +
    "0200" + "1000" + "64617461" + "82000000"

  private def afp(hex: String): Option[Long] = {
    import spark.implicits._
    val r = Seq(hex).toDF("hx").repartition(1)
      .selectExpr("audio_fingerprint(unhex(hx)) AS a").collect()(0)
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  test("audio fingerprint: strictly ascending samples set every delta bit") {
    val samples = (0 until 65).map(k => f"$k%02X00").mkString // k as le16
    assert(afp(pcmHeader + samples) == Some(-1L))
  }

  test("audio fingerprint: constant samples clear every bit; SIGNED int16 compare") {
    assert(afp(pcmHeader + "0000" * 65) == Some(0L))
    // sample0 = 32767 (FF7F le), sample1 = -32768 (0080 le): an unsigned
    // reader would call that a rise; the signed decoder must not
    val mixed = "FF7F" + "0080" + "0000" * 63
    assert(afp(pcmHeader + mixed) == Some(1L << 62))
  }

  test("audio fingerprint: stereo, 8-bit, truncated and non-WAV decode to NULL") {
    val stereo = pcmHeader.replace("0100" + "0100" + "401F0000",
      "0100" + "0200" + "401F0000")
    assert(afp(stereo + "0000" * 65).isEmpty)
    val eightBit = pcmHeader.replace("0200" + "1000", "0200" + "0800")
    assert(afp(eightBit + "0000" * 65).isEmpty)
    assert(afp(pcmHeader + "0000" * 64).isEmpty) // one sample short
    assert(afp("424D" + "00" * 100).isEmpty)     // BMP bytes
  }

  test("decoder runs inside whole-stage codegen (no interpreted fallback)") {
    import spark.implicits._
    val df = Seq("424D").toDF("hx").repartition(1)
      .selectExpr("image_header_decode(unhex(hx)) AS m")
    df.collect() // finalize the AQE plan before reading it
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no WholeStageCodegen span in:\n$plan")
  }
}
