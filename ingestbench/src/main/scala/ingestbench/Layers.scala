package ingestbench

import graft.core.{Gts, Sensision}
import graft.parsers.{GraphiteParser, InfluxLineParser, OpenTsdbParser, PrompbParser}

import java.nio.charset.StandardCharsets.UTF_8

/** Layer timings made by calling the program's public parse and encode
  * functions on a workload's own payloads, and the byte-exact check of the
  * sampled Sensision lines.
  */
object Layers {
  val ParserMetrics = Seq(
    "influx" -> "parsers.influx_ns_per_point",
    "prom_rw" -> "parsers.prom_rw_ns_per_point",
    "opentsdb" -> "parsers.opentsdb_ns_per_point",
    "graphite" -> "parsers.graphite_ns_per_point")

  /** Parse one payload the way its edge does; the parsed points. */
  private def parse(p: Payload, tcp: Boolean): Seq[Gts] = {
    val nowMs = 1700000000000L
    p.protocol match {
      case "influx" =>
        InfluxLineParser.parsePayload(new String(p.body, UTF_8), "n", nowMs * 1000000L).toOption.get
      case "prom_rw" => PrompbParser.parseSnappyBody(p.body).toOption.get
      case "opentsdb" => OpenTsdbParser.parse(new String(p.body, UTF_8), nowMs * 1000L).toOption.get
      case _ =>
        val lines = new String(p.body, UTF_8).split("\n")
        lines.toSeq.map { l =>
          val metric = if (tcp) l.substring(GraphiteParser.extractTcpToken(l).get._2) else l.trim
          GraphiteParser.parseLine(metric, !tcp, nowMs).toOption.get
        }
    }
  }

  /** Median ns per point over at least 3 rounds and ~150 ms per protocol. */
  private def timeIt(points: Long)(body: => Unit): Double = {
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (rounds.size < 3 || (System.nanoTime() - t0 < 150000000L && rounds.size < 200)) {
      val s = System.nanoTime(); body; rounds += (System.nanoTime() - s).toDouble / points
    }
    Stats.median(rounds)
  }

  /** `parsers.*_ns_per_point` and `Sensision.encode_ns_per_point` over
    * `pool`; protocols the workload does not use read 0.
    */
  def parsers(pool: Seq[Payload], rep: Report, tcp: Boolean = false): Unit = {
    val byProto = pool.groupBy(_.protocol)
    ParserMetrics.foreach { case (proto, name) =>
      byProto.get(proto) match {
        case Some(ps) =>
          val pts = ps.map(_.points.toLong).sum
          rep.put(name, timeIt(pts)(ps.foreach(p => parse(p, tcp))), "ns", pts)
        case None => rep.put(name, 0.0, "ns", 0)
      }
    }
    val parsed = pool.flatMap(p => parse(p, tcp)).toArray
    val enc = timeIt(parsed.length.toLong) {
      var i = 0; var n = 0
      while (i < parsed.length) { n += Sensision.encode(parsed(i)).length; i += 1 }
      if (n < 0) println(n)
    }
    rep.put("Sensision.encode_ns_per_point", enc, "ns", parsed.length.toLong)
  }

  /** `WarpSink.*` from the spans and totals of [[TimedTransport]]. A
    * percentile without enough samples reads 0, as does every metric of a
    * workload that sends nothing through the transport.
    */
  def warpSink(spans: Map[String, Vector[Tracer.Span]], rep: Report): Unit = {
    def ms(name: String) = spans.getOrElse(name, Vector.empty).map(_.ns / 1e6)
    val opens = ms("WarpSink.open"); val closes = ms("WarpSink.close")
    rep.put("WarpSink.open_ms_p50", Stats.pctOrZero(opens, 0.5), "ms", opens.size)
    rep.put("WarpSink.close_ms_p50", Stats.pctOrZero(closes, 0.5), "ms", closes.size)
    rep.put("WarpSink.close_ms_p99", Stats.pctOrZero(closes, 0.99), "ms", closes.size)
    val tt = TimedTransport.totals
    val pts = math.max(1L, tt.points.get)
    rep.put("WarpSink.opens_per_kpoint", 1000.0 * tt.opens.get / pts, "count", tt.opens.get)
    rep.put("WarpSink.bytes_per_point", tt.bytes.get.toDouble / pts, "B", pts)
  }

  /** Every point of payload `i` reached the stub exactly `sends(i)` times,
    * and no line was malformed; then the byte-exact check of [[golden]].
    */
  def exactlyOnce(payloads: IndexedSeq[Payload], sends: Int => Int, gen: Payloads, stub: WarpStub,
      rep: Report): Unit = {
    var lost = 0L; var dup = 0L
    payloads.indices.foreach { i =>
      val want = sends(i)
      payloads(i).keys.foreach { k =>
        val got = stub.counts.get(k)
        if (got < want) lost += want - got else if (got > want) dup += got - want
      }
    }
    rep.fail(lost, s"$lost points lost")
    rep.fail(dup, s"$dup points duplicated")
    rep.fail(stub.malformed.get, s"${stub.malformed.get} malformed lines at the stub")
    golden(gen.expected, stub, rep)
  }

  /** Each sampled point's delivered line equals the rendered one. */
  private def golden(expected: collection.Map[Int, String], stub: WarpStub, rep: Report): Unit = {
    var bad = 0L
    var first = ""
    expected.foreach { case (k, want) =>
      val got = stub.samples.get(k)
      if (got != null && got != want) {
        bad += 1
        if (first.isEmpty) first = s"key $k: got ${got.trim} want ${want.trim}"
      }
    }
    val seen = expected.keys.count(k => stub.samples.containsKey(k))
    rep.note("golden_lines_compared", seen)
    rep.fail(bad, s"$bad sampled Sensision lines differ, first $first")
    rep.fail(stub.mismatched.get, s"${stub.mismatched.get} sampled keys arrived with differing text")
    if (seen == 0) rep.fail(1, "no sampled Sensision line reached the stub")
  }
}
