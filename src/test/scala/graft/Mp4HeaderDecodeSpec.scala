package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The ISO-BMFF box walker against hand-laid box layouts (offsets from
  * the public ISO/IEC 14496-12 spec), degenerate inputs, and the walk
  * bound.
  */
class Mp4HeaderDecodeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("local[2]", 2)

  override def afterAll(): Unit = spark.stop()

  // ftyp: size 20, brand isom, minor 0x200, compat isom
  private val Ftyp = "00000014" + "66747970" + "69736F6D" + "00000200" + "69736F6D"
  // full version-0 mvhd: timescale 1000, duration 4321
  private def mvhd(ts: Long = 1000L, dur: Long = 4321L) =
    "0000006C" + "6D766864" + "00000000" + "00000E10" + "00001C20" +
      f"$ts%08X" + f"$dur%08X" + "00010000" + "0100" + "0000" + "00" * 8 +
      "00010000" + "00" * 12 + "00010000" + "00" * 12 + "40000000" +
      "00" * 24 + "00000002"
  private def moov(ts: Long = 1000L, dur: Long = 4321L) =
    "00000074" + "6D6F6F76" + mvhd(ts, dur)
  private def freeBox(n: Int) = f"${8 + n}%08X" + "66726565" + "00" * n

  private def decode(hex: String): Option[(String, Long, Boolean, Long, Long)] = {
    import spark.implicits._
    val r = Seq(hex).toDF("hx").repartition(1)
      .selectExpr("mp4_header_decode(unhex(hx)) AS m")
      .selectExpr("m.major_brand", "m.n_skipped", "m.has_free",
        "m.timescale", "m.duration")
      .collect()(0)
    if (r.isNullAt(0)) None
    else Some((r.getString(0), r.getLong(1), r.getBoolean(2),
      r.getLong(3), r.getLong(4)))
  }

  test("ftyp + moov: brand and mvhd fields decoded, one box skipped") {
    assert(decode(Ftyp + moov()).contains(("isom", 1L, false, 1000L, 4321L)))
  }

  test("variable-size free and skip boxes shift moov; the walk follows the sizes") {
    val skip = f"${8 + 5}%08X" + "736B6970" + "AB" * 5
    val r = decode(Ftyp + freeBox(13) + skip + moov(ts = 90000L, dur = 123456L))
    assert(r.contains(("isom", 3L, true, 90000L, 123456L)))
  }

  test("degenerate inputs are NULL: no ftyp first, truncation, size<8, v1 mvhd, no moov in bound") {
    assert(decode(moov() + Ftyp).isEmpty, "moov before ftyp must be rejected")
    assert(decode(Ftyp.take(24)).isEmpty, "truncated ftyp")
    assert(decode(Ftyp + "00000004" + "66726565" + moov()).isEmpty, "size<8 would loop")
    val v1 = (Ftyp + moov()).replace("6D766864" + "00000000", "6D766864" + "01000000")
    assert(decode(v1).isEmpty, "version-1 mvhd (64-bit times) is out of contract")
    val sevenFree = (1 to 7).map(_ => freeBox(2)).mkString
    assert(decode(Ftyp + sevenFree + moov()).isEmpty, "moov beyond MaxBoxes bound")
    // a be32 size >= 2^31 must be a clean NULL, not an Int-overflow AIOOBE:
    // the cursor advance is Long arithmetic and the next o+8 check rejects
    assert(decode(Ftyp + "FFFFFFF0" + "66726565" + moov()).isEmpty,
      "huge (>=2^31) box size walks past the buffer -> NULL")
    assert(decode(Ftyp + "7FFFFFF0" + "66726565" + moov()).isEmpty,
      "near-Int.MaxValue box size -> NULL (no repeated-add overflow)")
  }

  test("Spark decoder == the oracle's unrolled hex walk on the synthetic corpus") {
    // both walks over the SAME builder hex, on a sample of doc ids that
    // covers every branch (brand rotation, free %4=3, skip %5=2)
    import spark.implicits._
    val mh = graft.ops.Media.mp4HexExpr("doc_id", "blen")
    val docs = (0L until 60L).map(i => (i, 40L + i * 7 % 300)).toDF("doc_id", "blen")
    val got = docs
      .selectExpr("doc_id", s"mp4_header_decode(unhex($mh)) AS m")
      .selectExpr("doc_id", "m.major_brand", "m.n_skipped", "m.has_free",
        "m.timescale", "m.duration")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4), r.getLong(5)))).toMap
    // driver-side reference: decode the same hex through the JVM walker
    val hexes = docs.selectExpr("doc_id", s"upper($mh) AS hx").collect()
    hexes.foreach { r =>
      val b = r.getString(1).sliding(2, 2).map(Integer.parseInt(_, 16).toByte).toArray
      val row = graft.expressions.Mp4HeaderDecode.decode(b)
      assert(row != null, s"doc ${r.getLong(0)}: builder hex must decode")
      val want = (row.getUTF8String(0).toString, row.getLong(1),
        row.getBoolean(2), row.getLong(3), row.getLong(4))
      assert(got(r.getLong(0)) == want, s"doc ${r.getLong(0)}: $want vs ${got(r.getLong(0))}")
    }
    // branch coverage sanity on the sample
    assert(got.values.map(_._1).toSet == Set("isom", "mp42", "avc1"))
    assert(got.values.exists(_._3) && got.values.exists(!_._3))
    assert(got.values.map(_._2).toSet.size >= 2, "box counts must vary")
  }
}
