package graft.parsers

import graft.core.{Gts, GtsValue}
import graft.parsers.PrompbParser.Reader

import scala.collection.mutable

/** Protobuf Prometheus exposition decoder (reference:
  * catalyser/prometheus.go:40-49 — `expfmt.ResponseFormat` negotiates text
  * vs protobuf and the protobuf path decodes varint-DELIMITED
  * `io.prometheus.client.MetricFamily` messages, then
  * `expfmt.ExtractSamples` flattens each family to plain samples).
  *
  * Hand-rolled on the same wire primitives as [[PrompbParser]] (no
  * protobuf runtime in this build). PUBLIC schema (client_model
  * metrics.proto):
  *
  *   MetricFamily { string name=1; string help=2; MetricType type=3;
  *                  repeated Metric metric=4; }
  *   MetricType   { COUNTER=0 GAUGE=1 SUMMARY=2 UNTYPED=3 HISTOGRAM=4 }
  *   Metric    { repeated LabelPair label=1; Gauge gauge=2; Counter counter=3;
  *               Summary summary=4; Untyped untyped=5; int64 timestamp_ms=6;
  *               Histogram histogram=7; }
  *   LabelPair { string name=1; string value=2; }
  *   Gauge/Counter/Untyped { double value=1; }
  *   Summary   { uint64 sample_count=1; double sample_sum=2;
  *               repeated Quantile quantile=3 { double quantile=1; double value=2; } }
  *   Histogram { uint64 sample_count=1; double sample_sum=2;
  *               repeated Bucket bucket=3 { uint64 cumulative_count=1;
  *                                          double upper_bound=2; } }
  *
  * Flattening matches the public expfmt.ExtractSamples semantics:
  *  - counter/gauge/untyped → one sample named after the family;
  *  - summary → one sample per quantile (label `quantile=<q>`) plus
  *    `<name>_sum` / `<name>_count`;
  *  - histogram → one `<name>_bucket` per bucket (label `le=<bound>`),
  *    a `le=+Inf` bucket synthesized from sample_count when absent, plus
  *    `<name>_sum` / `<name>_count`;
  *  - the family name overrides any inner `__name__` label;
  *  - missing timestamp_ms → caller-injected now (prometheus.go:67-71);
  *  - ±Inf sample values are DROPPED by the caller (prometheus.go:83-85),
  *    applied here in [[flatten]] for parity with the text path.
  */
object PromProtoParser {

  final case class Quantile(quantile: Double, value: Double)
  final case class Bucket(cumulativeCount: Long, upperBound: Double)
  final case class Metric(
      labels: Map[String, String],
      value: Option[Double],            // counter / gauge / untyped
      summary: Option[(Long, Double, Seq[Quantile])],
      histogram: Option[(Long, Double, Seq[Bucket])],
      timestampMs: Option[Long])
  final case class MetricFamily(name: String, mtype: Int, metrics: Seq[Metric])

  val COUNTER = 0; val GAUGE = 1; val SUMMARY = 2; val UNTYPED = 3; val HISTOGRAM = 4

  /** The protobuf exposition content type the reference negotiates. */
  val ProtoContentType: String =
    "application/vnd.google.protobuf; proto=io.prometheus.client.MetricFamily; encoding=delimited"

  /** Go `fmt.Sprint(float64)` for the label constants expfmt writes
    * (`quantile`, `le`): `strconv.FormatFloat(v, 'g', -1, 64)` —
    * shortest round-tripping digits, then scientific form (`d.ddde±XX`,
    * lowercase `e`, signed two-digit-minimum exponent) iff the decimal
    * exponent is < -4 or >= 6, plain decimal otherwise. So
    * `100000 → "100000"` but `1e6 → "1e+06"`, `1048576 →
    * "1.048576e+06"`, `0.0001 → "0.0001"` but `5e-05 → "5e-05"`.
    * Infinities print `+Inf`/`-Inf` (fmt, not strconv).
    */
  def goFloatLabel(v: Double): String =
    if (v.isPosInfinity) "+Inf"
    else if (v.isNegInfinity) "-Inf"
    else if (v.isNaN) "NaN"
    else if (v == 0.0) { if (1.0 / v < 0) "-0" else "0" }
    else {
      val a = math.abs(v)
      // shortest significant-digit count that round-trips (Go shortest)
      var prec = 0
      var sci = String.format(java.util.Locale.ROOT, "%." + prec + "e", Double.box(a))
      while (java.lang.Double.parseDouble(sci) != a && prec < 17) {
        prec += 1
        sci = String.format(java.util.Locale.ROOT, "%." + prec + "e", Double.box(a))
      }
      // sci = "d[.ddd]e±XX" — split mantissa digits / decimal exponent
      val ePos = sci.indexOf('e')
      val digits = sci.substring(0, ePos).replace(".", "")
      val exp = Integer.parseInt(sci.substring(ePos + 1)) // position of the point
      val sign = if (v < 0) "-" else ""
      if (exp < -4 || exp >= 6) {
        val mant = if (digits.length == 1) digits
          else digits.substring(0, 1) + "." + digits.substring(1)
        val es = if (exp < 0) "-" else "+"
        val ea = math.abs(exp)
        val ed = if (ea < 10) "0" + ea else ea.toString
        s"$sign${mant}e$es$ed"
      } else if (exp >= digits.length - 1) {
        sign + digits + "0" * (exp - (digits.length - 1))
      } else if (exp >= 0) {
        sign + digits.substring(0, exp + 1) + "." + digits.substring(exp + 1)
      } else {
        sign + "0." + "0" * (-exp - 1) + digits
      }
    }

  // ---- decoding (over PrompbParser's wire Reader) ----

  private def dbl(r: Reader): Double = java.lang.Double.longBitsToDouble(r.fixed64())

  private def parseValueMsg(r: Reader): Double = {
    var v = 0.0
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 1) => v = dbl(r)
        case (_, wt) => r.skip(wt)
      }
    }
    v
  }

  private def parseSummary(r: Reader): (Long, Double, Seq[Quantile]) = {
    var cnt = 0L; var sum = 0.0
    val qs = mutable.ArrayBuffer.empty[Quantile]
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 0) => cnt = r.varint()
        case (2, 1) => sum = dbl(r)
        case (3, 2) =>
          val qr = r.lengthDelimited()
          var q = 0.0; var v = 0.0
          while (qr.hasMore) {
            val t = qr.varint()
            (t >> 3, (t & 7).toInt) match {
              case (1, 1) => q = dbl(qr)
              case (2, 1) => v = dbl(qr)
              case (_, wt) => qr.skip(wt)
            }
          }
          qs += Quantile(q, v)
        case (_, wt) => r.skip(wt)
      }
    }
    (cnt, sum, qs.toSeq)
  }

  private def parseHistogram(r: Reader): (Long, Double, Seq[Bucket]) = {
    var cnt = 0L; var sum = 0.0
    val bs = mutable.ArrayBuffer.empty[Bucket]
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 0) => cnt = r.varint()
        case (2, 1) => sum = dbl(r)
        case (3, 2) =>
          val br = r.lengthDelimited()
          var cc = 0L; var ub = 0.0
          while (br.hasMore) {
            val t = br.varint()
            (t >> 3, (t & 7).toInt) match {
              case (1, 0) => cc = br.varint()
              case (2, 1) => ub = dbl(br)
              case (_, wt) => br.skip(wt)
            }
          }
          bs += Bucket(cc, ub)
        case (_, wt) => r.skip(wt)
      }
    }
    (cnt, sum, bs.toSeq)
  }

  private def parseLabelPair(r: Reader): (String, String) = {
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

  private def parseMetric(r: Reader): Metric = {
    val labels = mutable.LinkedHashMap.empty[String, String]
    var value: Option[Double] = None
    var summary: Option[(Long, Double, Seq[Quantile])] = None
    var histogram: Option[(Long, Double, Seq[Bucket])] = None
    var tsMs: Option[Long] = None
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 2) => labels += parseLabelPair(r.lengthDelimited())
        case (2, 2) | (3, 2) | (5, 2) => value = Some(parseValueMsg(r.lengthDelimited()))
        case (4, 2) => summary = Some(parseSummary(r.lengthDelimited()))
        case (7, 2) => histogram = Some(parseHistogram(r.lengthDelimited()))
        case (6, 0) => tsMs = Some(r.varint())
        case (_, wt) => r.skip(wt)
      }
    }
    Metric(labels.toMap, value, summary, histogram, tsMs)
  }

  private def parseFamily(r: Reader): MetricFamily = {
    var name = ""; var mtype = UNTYPED
    val metrics = mutable.ArrayBuffer.empty[Metric]
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 2) => name = r.bytes()
        case (2, 2) => r.lengthDelimited(): Unit // help — ignored
        case (3, 0) => mtype = r.varint().toInt
        case (4, 2) => metrics += parseMetric(r.lengthDelimited())
        case (_, wt) => r.skip(wt)
      }
    }
    MetricFamily(name, mtype, metrics.toSeq)
  }

  /** Varint-delimited MetricFamily stream → families. */
  def parseDelimited(bytes: Array[Byte]): Either[String, Seq[MetricFamily]] =
    try {
      val r = new Reader(bytes, 0, bytes.length)
      val out = mutable.ArrayBuffer.empty[MetricFamily]
      while (r.hasMore) out += parseFamily(r.lengthDelimited())
      Right(out.toSeq)
    } catch {
      case e: IllegalArgumentException  => Left(s"bad MetricFamily stream: ${e.getMessage}")
      case e: IndexOutOfBoundsException => Left(s"bad MetricFamily stream: ${e.getMessage}")
    }

  /** ExtractSamples flattening + the prometheus.go caller semantics:
    * extraLabels override inner, family name overrides inner `__name__`,
    * ±Inf dropped, ts ms→µs, missing ts → nowMs.
    */
  def flatten(
      families: Seq[MetricFamily],
      extraLabels: Map[String, String],
      nowMs: Long): Seq[Gts] = {
    val out = Seq.newBuilder[Gts]
    def emit(name: String, labels: Map[String, String], v: Double, tsMs: Long): Unit =
      if (!v.isInfinite)
        out += Gts(Some(tsMs * 1000L), name,
          labels - "__name__" ++ extraLabels, GtsValue.double(v))
    for (mf <- families; m <- mf.metrics) {
      val ts = m.timestampMs.getOrElse(nowMs)
      (m.summary, m.histogram) match {
        case (Some((cnt, sum, qs)), _) =>
          for (q <- qs)
            emit(mf.name, m.labels + ("quantile" -> goFloatLabel(q.quantile)), q.value, ts)
          emit(mf.name + "_sum", m.labels, sum, ts)
          emit(mf.name + "_count", m.labels, cnt.toDouble, ts)
        case (_, Some((cnt, sum, bs))) =>
          val withInf =
            if (bs.exists(_.upperBound.isPosInfinity)) bs
            else bs :+ Bucket(cnt, Double.PositiveInfinity)
          for (b <- withInf)
            emit(mf.name + "_bucket",
              m.labels + ("le" -> goFloatLabel(b.upperBound)), b.cumulativeCount.toDouble, ts)
          emit(mf.name + "_sum", m.labels, sum, ts)
          emit(mf.name + "_count", m.labels, cnt.toDouble, ts)
        case _ =>
          m.value.foreach(v => emit(mf.name, m.labels, v, ts))
      }
    }
    out.result()
  }

  /** Content negotiation (expfmt.ResponseFormat, prometheus.go:40-49):
    * the delimited-protobuf content type → proto decode; anything else
    * (incl. absent) falls back to the text parser.
    */
  def parseExposition(
      body: Array[Byte],
      contentType: Option[String],
      extraLabels: Map[String, String],
      nowMs: Long): Either[String, Seq[Gts]] = {
    val isProto = contentType.exists { ct =>
      val lc = ct.toLowerCase
      lc.contains("application/vnd.google.protobuf") &&
        lc.contains("proto=io.prometheus.client.metricfamily") &&
        lc.contains("encoding=delimited")
    }
    if (isProto) parseDelimited(body).map(flatten(_, extraLabels, nowMs))
    else PromParser.parseExposition(new String(body, "UTF-8"), extraLabels, nowMs)
  }

  // ---- encoding (test/query synthesis; same wire schema) ----

  private final class Writer {
    private val buf = new java.io.ByteArrayOutputStream()
    def result(): Array[Byte] = buf.toByteArray
    def varint(v: Long): Unit = {
      var x = v
      while ((x & ~0x7FL) != 0) { buf.write(((x & 0x7F) | 0x80).toInt); x >>>= 7 }
      buf.write(x.toInt)
    }
    def tag(field: Int, wire: Int): Unit = varint((field.toLong << 3) | wire)
    def dblField(field: Int, v: Double): Unit = {
      tag(field, 1)
      var bits = java.lang.Double.doubleToLongBits(v); var i = 0
      while (i < 8) { buf.write((bits & 0xFF).toInt); bits >>>= 8; i += 1 }
    }
    def varintField(field: Int, v: Long): Unit = { tag(field, 0); varint(v) }
    def strField(field: Int, s: String): Unit = {
      val b = s.getBytes("UTF-8"); tag(field, 2); varint(b.length.toLong); buf.write(b)
    }
    def msgField(field: Int, b: Array[Byte]): Unit = {
      tag(field, 2); varint(b.length.toLong); buf.write(b)
    }
  }

  private def encodeValueMsg(v: Double): Array[Byte] = {
    val w = new Writer; w.dblField(1, v); w.result()
  }

  private def encodeMetric(m: Metric, mtype: Int): Array[Byte] = {
    val w = new Writer
    for ((k, v) <- m.labels.toSeq.sortBy(_._1)) {
      val lw = new Writer; lw.strField(1, k); lw.strField(2, v)
      w.msgField(1, lw.result())
    }
    m.value.foreach { v =>
      val field = mtype match {
        case GAUGE => 2
        case COUNTER => 3
        case _ => 5
      }
      w.msgField(field, encodeValueMsg(v))
    }
    m.summary.foreach { case (cnt, sum, qs) =>
      val sw = new Writer
      sw.varintField(1, cnt); sw.dblField(2, sum)
      for (q <- qs) {
        val qw = new Writer; qw.dblField(1, q.quantile); qw.dblField(2, q.value)
        sw.msgField(3, qw.result())
      }
      w.msgField(4, sw.result())
    }
    m.timestampMs.foreach(w.varintField(6, _))
    m.histogram.foreach { case (cnt, sum, bs) =>
      val hw = new Writer
      hw.varintField(1, cnt); hw.dblField(2, sum)
      for (b <- bs) {
        val bw = new Writer; bw.varintField(1, b.cumulativeCount); bw.dblField(2, b.upperBound)
        hw.msgField(3, bw.result())
      }
      w.msgField(7, hw.result())
    }
    w.result()
  }

  /** Encode families as the varint-delimited stream the protobuf
    * exposition format ships.
    */
  def encodeDelimited(families: Seq[MetricFamily]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    for (mf <- families) {
      val w = new Writer
      w.strField(1, mf.name)
      w.varintField(3, mf.mtype.toLong)
      for (m <- mf.metrics) w.msgField(4, encodeMetric(m, mf.mtype))
      val body = w.result()
      val lenW = new Writer; lenW.varint(body.length.toLong)
      out.write(lenW.result()); out.write(body)
    }
    out.toByteArray
  }
}
