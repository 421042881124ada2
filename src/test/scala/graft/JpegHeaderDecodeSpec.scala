package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The JPEG marker walker against hand-laid segment layouts (offsets
  * from the JFIF/ITU-T.81 public specs), degenerate inputs, and the
  * walk bound.
  */
class JpegHeaderDecodeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("local[2]", 2)

  override def afterAll(): Unit = spark.stop()

  private val App0 = "FFE0" + "0010" + "4A46494600" + "0101" + "00" +
    "0048" + "0048" + "00" + "00"
  // SOF payload: len 17, precision 8, height 480 (01E0), width 640 (0280),
  // 3 components
  private def sof(marker: String) =
    marker + "0011" + "08" + "01E0" + "0280" + "03" + "012200" + "021101" + "031101"

  private def decode(hex: String): Option[(String, Long, Long, Long, Long, Long, Boolean)] = {
    import spark.implicits._
    val r = Seq(hex).toDF("hx").repartition(1)
      .selectExpr("jpeg_header_decode(unhex(hx)) AS m")
      .selectExpr("m.format", "m.precision", "m.height", "m.width",
        "m.n_components", "m.n_skipped", "m.has_exif")
      .collect()(0)
    if (r.isNullAt(0)) None
    else Some((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getBoolean(6)))
  }

  test("baseline SOF0 behind APP0: dims decoded, one segment skipped") {
    val r = decode("FFD8" + App0 + sof("FFC0"))
    assert(r.contains(("jpeg_baseline", 8L, 480L, 640L, 3L, 1L, false)))
  }

  test("APP1/EXIF segment is detected during the walk; non-Exif APP1 is not") {
    val exifApp1 = "FFE1" + "0010" + "45786966" + "0000" + "1122334455667788"
    val r = decode("FFD8" + App0 + exifApp1 + sof("FFC0"))
    assert(r.exists(x => x._7 && x._6 == 2L), s"exif missed: $r")
    // an APP1 whose identifier is not 'Exif' (e.g. XMP) must NOT flag
    val xmpApp1 = "FFE1" + "0010" + "48545450" + "0000" + "1122334455667788"
    val r2 = decode("FFD8" + App0 + xmpApp1 + sof("FFC0"))
    assert(r2.exists(x => !x._7), s"false exif: $r2")
  }

  test("progressive SOF2 behind APP0 + two COM segments of different lengths") {
    val com1 = "FFFE" + "0005" + "414141" // 3 payload bytes
    val com2 = "FFFE" + "0003" + "42" // 1 payload byte
    val r = decode("FFD8" + App0 + com1 + com2 + sof("FFC2"))
    assert(r.contains(("jpeg_progressive", 8L, 480L, 640L, 3L, 3L, false)))
  }

  test("SOF immediately after SOI: zero segments skipped") {
    val r = decode("FFD8" + sof("FFC0"))
    assert(r.exists(_._6 == 0L))
  }

  test("degenerate inputs are NULL, never a crash") {
    assert(decode("FFD9" + App0 + sof("FFC0")).isEmpty, "bad SOI")
    assert(decode("FFD8" + App0.take(12)).isEmpty, "truncated mid-segment")
    assert(decode("FFD8").isEmpty, "no segments at all")
    // a marker byte that is not 0xFF aborts the walk
    assert(decode("FFD8" + "00E0" + "0004" + "0000" + sof("FFC0")).isEmpty)
    // more skippable segments than the walk bound: no SOF within MaxSegments
    val com = "FFFE" + "0003" + "41"
    val many = (1 to graft.expressions.JpegHeaderDecode.MaxSegments)
      .map(_ => com).mkString
    assert(decode("FFD8" + many + sof("FFC0")).isEmpty, "walk bound exceeded")
  }

  test("the synthetic corpus varies format, segment count and dims as designed") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val df = graft.queries.TextOps.multimodalJpegMeta
      .fn(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.length > 0 && rows.forall(!_.isNullAt(1)), "decode failed on corpus")
    val agg = df.agg(
      countDistinct(col("format")).as("nf"),
      countDistinct(col("n_skipped")).as("ns"),
      countDistinct(col("width")).as("nw"),
      countDistinct(col("has_exif")).as("ne")).collect()(0)
    assert(agg.getLong(0) == 2L, "both SOF markers expected")
    assert(agg.getLong(1) >= 2L, "multiple segment counts expected")
    assert(agg.getLong(2) > 5L, "width should vary with doc length")
    assert(agg.getLong(3) == 2L, "both exif states expected")
  }
}
