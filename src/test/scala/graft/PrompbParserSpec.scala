package graft

import graft.core.GtsValue
import graft.parsers.PrompbParser
import org.scalatest.funsuite.AnyFunSuite
import java.io.ByteArrayOutputStream

/** Wire-format tests for the hand-rolled prompb decoder: bytes are built
  * by an independent mini-encoder in this spec, then pushed through the
  * full snappy+protobuf+normalize path (FIXTURES.md §A.5 expectations).
  */
class PrompbParserSpec extends AnyFunSuite {

  // --- tiny protobuf writer (test-side independent implementation) ---
  private def varint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }
  private def tag(out: ByteArrayOutputStream, field: Int, wire: Int): Unit =
    varint(out, (field.toLong << 3) | wire)
  private def ld(out: ByteArrayOutputStream, field: Int)(body: ByteArrayOutputStream => Unit): Unit = {
    val b = new ByteArrayOutputStream
    body(b)
    tag(out, field, 2); varint(out, b.size()); b.writeTo(out)
  }
  private def str(out: ByteArrayOutputStream, field: Int, s: String): Unit = {
    tag(out, field, 2); val bytes = s.getBytes("UTF-8"); varint(out, bytes.length); out.write(bytes)
  }
  private def fixed64(out: ByteArrayOutputStream, field: Int, v: Long): Unit = {
    tag(out, field, 1)
    (0 until 8).foreach(i => out.write(((v >>> (8 * i)) & 0xFF).toInt))
  }

  private def writeRequest(): Array[Byte] = {
    val out = new ByteArrayOutputStream
    ld(out, 1) { ts => // TimeSeries (FIXTURES.md §A.5)
      ld(ts, 1) { l => str(l, 1, "__name__"); str(l, 2, "up") }
      ld(ts, 1) { l => str(l, 1, "job"); str(l, 2, "node") }
      ld(ts, 2) { s => fixed64(s, 1, java.lang.Double.doubleToLongBits(1.0)); tag(s, 2, 0); varint(s, 1346846400000L) }
      ld(ts, 2) { s => fixed64(s, 1, java.lang.Double.doubleToLongBits(Double.PositiveInfinity)); tag(s, 2, 0); varint(s, 1346846401000L) }
      ld(ts, 2) { s => fixed64(s, 1, java.lang.Double.doubleToLongBits(Double.NaN)); tag(s, 2, 0); varint(s, 1346846402000L) }
      // unknown field (exemplars = 3) must be skipped
      ld(ts, 3) { e => str(e, 1, "ignored") }
    }
    out.toByteArray
  }

  test("decode: labels, samples, unknown-field skip") {
    val series = PrompbParser.parseWriteRequest(writeRequest()).toOption.get
    assert(series.size == 1)
    assert(series.head.labels == Map("__name__" -> "up", "job" -> "node"))
    assert(series.head.samples.map(_.timestampMs) ==
      Seq(1346846400000L, 1346846401000L, 1346846402000L))
  }

  test("full snappy body -> GTS with non-finite coerced to 0 (A20+A21)") {
    val compressed = org.xerial.snappy.Snappy.compress(writeRequest())
    val gts = PrompbParser.parseSnappyBody(compressed).toOption.get
    assert(gts.size == 3)
    assert(gts.forall(_.name == "up"))
    assert(gts.forall(_.labels == Map("job" -> "node")))
    assert(gts.map(_.value) == Seq(
      GtsValue.double(1.0), GtsValue.double(0.0), GtsValue.double(0.0)))
    assert(gts.head.ts.contains(1346846400000000L)) // ms -> µs
  }

  test("errors: truncated protobuf, invalid snappy") {
    val good = writeRequest()
    assert(PrompbParser.parseWriteRequest(good.dropRight(3)).isLeft)
    assert(PrompbParser.parseSnappyBody("not snappy at all".getBytes("UTF-8")).isLeft)
  }

  test("crafted snappy headers claiming huge lengths -> Left, no allocation blow-up") {
    // varint header claiming 2^32-1 uncompressed bytes
    val huge32 = Array(0xFF, 0xFF, 0xFF, 0xFF, 0x0F, 0x00).map(_.toByte)
    assert(PrompbParser.parseSnappyBody(huge32).isLeft)
    // claiming 2^31-1 (would OOM on allocation)
    val huge31 = Array(0xFF, 0xFF, 0xFF, 0xFF, 0x07, 0x00).map(_.toByte)
    assert(PrompbParser.parseSnappyBody(huge31).isLeft)
  }

  test("64-bit varint length prefix rejected, not truncated to a plausible int") {
    // field 1, wiretype 2, length = 0x100000002 (would truncate to 2 via toInt)
    val out = new ByteArrayOutputStream
    tag(out, 1, 2); varint(out, 0x100000002L); out.write('a'); out.write('b')
    assert(PrompbParser.parseWriteRequest(out.toByteArray).isLeft)
  }

  test("Ingest.promRemoteWrite over binary bodies (Spark path)") {
    val spark = GraftSession("local[2]", 2)
    import spark.implicits._
    val compressed = org.xerial.snappy.Snappy.compress(writeRequest())
    val garbage = "junk".getBytes("UTF-8")
    val rows = graft.ops.Ingest.promRemoteWrite(Seq(compressed, garbage).toDS(),
      mode = "DROPMALFORMED").as[graft.core.GtsRow].collect() // garbage dropped
    assert(rows.length == 3 && rows.forall(_.name == "up"))
  }

  test("fuzz: random bytes never throw") {
    val rnd = new scala.util.Random(77)
    (1 to 2000).foreach { _ =>
      val bytes = Array.fill(rnd.nextInt(60))(rnd.nextInt(256).toByte)
      PrompbParser.parseWriteRequest(bytes) // must return Either, not throw
    }
  }
}
