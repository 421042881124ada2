package graft.parsers

import graft.core.Gts

import scala.collection.mutable

/** Minimal protobuf wire-format decoder for the PUBLIC Prometheus
  * remote-write schema (prompb.WriteRequest — the message the reference
  * decodes at catalyser/prometheus_remote_write.go:20-50):
  *
  *   WriteRequest { repeated TimeSeries timeseries = 1; }
  *   TimeSeries   { repeated Label labels = 1; repeated Sample samples = 2; }
  *   Label        { string name = 1; string value = 2; }
  *   Sample       { double value = 1; int64 timestamp = 2; }  // ms
  *
  * Hand-rolled because no protobuf runtime ships with this build: varints,
  * fixed64 doubles, and length-delimited submessages are all the format
  * uses. Unknown fields are skipped per the protobuf spec, so schema
  * evolution (e.g. exemplars = 3, histograms = 4) is tolerated.
  */
object PrompbParser {

  final case class Sample(value: Double, timestampMs: Long)
  final case class TimeSeries(labels: Map[String, String], samples: Seq[Sample])

  /** Protobuf wire reader over `buf[pos, end)`; PromProtoParser shares it. */
  private[parsers] final class Reader(buf: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end

    def varint(): Long = {
      var shift = 0
      var result = 0L
      while (shift < 64) {
        if (pos >= end) throw new IllegalArgumentException("truncated varint")
        val b = buf(pos); pos += 1
        result |= (b & 0x7FL) << shift
        if ((b & 0x80) == 0) return result
        shift += 7
      }
      throw new IllegalArgumentException("varint too long")
    }

    def fixed64(): Long = {
      if (pos + 8 > end) throw new IllegalArgumentException("truncated fixed64")
      var v = 0L
      var i = 0
      while (i < 8) { v |= (buf(pos + i) & 0xFFL) << (8 * i); i += 1 }
      pos += 8
      v
    }

    /** Read a length prefix as Long and validate against the remaining
      * window BEFORE narrowing — a 64-bit varint must not truncate via
      * toInt into a plausible small length.
      */
    private def lengthPrefix(): Int = {
      val len = varint()
      if (len < 0 || len > end - pos) throw new IllegalArgumentException("bad field length")
      len.toInt
    }

    def lengthDelimited(): Reader = {
      val len = lengthPrefix()
      val r = new Reader(buf, pos, pos + len)
      pos += len
      r
    }

    def bytes(): String = {
      val len = lengthPrefix()
      val s = new String(buf, pos, len, "UTF-8")
      pos += len
      s
    }

    /** Skip a field of the given wire type (unknown-field tolerance). */
    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint(): Unit
      case 1 => fixed64(): Unit
      case 2 => lengthDelimited(): Unit
      case 5 =>
        if (pos + 4 > end) throw new IllegalArgumentException("truncated fixed32")
        pos += 4
      case other => throw new IllegalArgumentException(s"unsupported wire type $other")
    }
  }

  private def parseLabel(r: Reader): (String, String) = {
    var name = ""; var value = ""
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 2) => name = r.bytes()
        case (2, 2) => value = r.bytes()
        case (_, wt) => r.skip(wt)
      }
    }
    (name, value)
  }

  private def parseSample(r: Reader): Sample = {
    var value = 0.0; var ts = 0L
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 1) => value = java.lang.Double.longBitsToDouble(r.fixed64())
        case (2, 0) => ts = r.varint()
        case (_, wt) => r.skip(wt)
      }
    }
    Sample(value, ts)
  }

  private def parseTimeSeries(r: Reader): TimeSeries = {
    val labels = mutable.LinkedHashMap.empty[String, String]
    val samples = mutable.ArrayBuffer.empty[Sample]
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 2) => labels += parseLabel(r.lengthDelimited())
        case (2, 2) => samples += parseSample(r.lengthDelimited())
        case (_, wt) => r.skip(wt)
      }
    }
    TimeSeries(labels.toMap, samples.toSeq)
  }

  def parseWriteRequest(bytes: Array[Byte]): Either[String, Seq[TimeSeries]] =
    try {
      val r = new Reader(bytes, 0, bytes.length)
      val out = mutable.ArrayBuffer.empty[TimeSeries]
      while (r.hasMore) {
        val tag = r.varint()
        (tag >> 3, (tag & 7).toInt) match {
          case (1, 2) => out += parseTimeSeries(r.lengthDelimited())
          case (_, wt) => r.skip(wt)
        }
      }
      Right(out.toSeq)
    } catch {
      case e: IllegalArgumentException => Left(s"bad WriteRequest: ${e.getMessage}")
      case e: IndexOutOfBoundsException => Left(s"bad WriteRequest: ${e.getMessage}")
    }

  /** Full remote-write pipeline: snappy-compressed protobuf body → GTS seq
    * (non-finite → 0, __name__ → name, ms → µs — the A20/A21 semantics via
    * PromParser.normalizeRemoteWriteSample).
    */
  /** Largest uncompressed body we will allocate for — a crafted snappy
    * varint header can claim up to 2^32-1 bytes, and snappy-java throws
    * NegativeArraySizeException/OutOfMemoryError (not IOException) on the
    * allocation, so the size must be validated BEFORE uncompressing.
    */
  val MaxUncompressedBytes: Int = 64 << 20

  def parseSnappyBody(compressed: Array[Byte]): Either[String, Seq[Gts]] = {
    val raw =
      try {
        val len = org.xerial.snappy.Snappy.uncompressedLength(compressed)
        if (len < 0 || len > MaxUncompressedBytes)
          return Left(s"bad snappy body: claimed uncompressed length $len")
        org.xerial.snappy.Snappy.uncompress(compressed)
      } catch { case e: java.io.IOException => return Left(s"bad snappy body: ${e.getMessage}") }
    parseWriteRequest(raw).map { series =>
      series.flatMap { ts =>
        ts.samples.map(sm =>
          PromParser.normalizeRemoteWriteSample(ts.labels, sm.value, sm.timestampMs))
      }
    }
  }
}
