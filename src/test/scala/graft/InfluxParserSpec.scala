package graft

import graft.core.GtsValue
import graft.parsers.InfluxLineParser
import org.scalatest.funsuite.AnyFunSuite

/** The reference's 7 influx test cases (catalyser/influxdb_test.go:14-70,
  * FIXTURES.md §A.1) with a BIDIRECTIONAL label assertion (the original's
  * one-way check silently ignored expected-but-absent labels,
  * influxdb_test.go:89-94 — SURVEY.md §5.1), plus grammar edge cases.
  */
class InfluxParserSpec extends AnyFunSuite {
  private val nowNs = 1706659200000000000L

  private def parse(line: String, precision: String = "n") =
    InfluxLineParser.parseLine(line, precision, nowNs)
      .fold(e => fail(s"parse failed: $e"), identity)

  test("case 1: single string field, no ts") {
    val gts = parse("""string,hostname=localhost a=" b """")
    assert(gts.map(_.name) == Seq("string.a"))
    assert(gts.head.labels == Map("hostname" -> "localhost")) // bidirectional
    assert(gts.head.value == GtsValue.string(" b "))
    assert(gts.head.ts.contains(nowNs / 1000L))
  }

  test("case 2: two string fields with ts") {
    val gts = parse("""string,hostname=localhost a=" b ",c="d" 1434055562000000000""")
    assert(gts.map(_.name).toSet == Set("string.a", "string.c"))
    assert(gts.forall(_.labels == Map("hostname" -> "localhost")))
    assert(gts.forall(_.ts.contains(1434055562000000L))) // ns -> µs
  }

  test("case 3: cpu_load_short float field, two tags") {
    val gts = parse("cpu_load_short,host=server01,region=us-west value=0.64 1434055562000000000")
    assert(gts.map(_.name) == Seq("cpu_load_short.value"))
    assert(gts.head.labels == Map("host" -> "server01", "region" -> "us-west"))
    assert(gts.head.value == GtsValue.double(0.64))
  }

  test("case 4: string field with comma and spaces inside quotes") {
    val gts = parse("""system,client=curanobis,host=staging.curanobis.com uptime_format="59 days, 18:23" 1515597480000000000""")
    assert(gts.map(_.name) == Seq("system.uptime_format"))
    assert(gts.head.labels == Map("client" -> "curanobis", "host" -> "staging.curanobis.com"))
    assert(gts.head.value == GtsValue.string("59 days, 18:23"))
  }

  test("case 5: two numeric fields -> two GTS") {
    val gts = parse("weather,location=us-midwest temperature=82,bug_concentration=98 1465839830100400200")
    assert(gts.map(_.name).toSet == Set("weather.temperature", "weather.bug_concentration"))
    assert(gts.forall(_.value.isInstanceOf[GtsValue.GtsDouble])) // no 'i' suffix -> float64
    assert(gts.forall(_.ts.contains(1465839830100400L)))
  }

  test("case 6: mixed fields incl string with comma") {
    val gts = parse("""weather,location=us-midwest temperature=82,bug_concentration=98,test="the answer is equal to 42 with a ," 1465839830100400200""")
    assert(gts.map(_.name).toSet ==
      Set("weather.temperature", "weather.bug_concentration", "weather.test"))
    assert(gts.find(_.name == "weather.test").get.value ==
      GtsValue.string("the answer is equal to 42 with a ,"))
  }

  test("case 7: int field suffix i") {
    val gts = parse("bridges,type=suspension visitors=234i 1478133071000000000")
    assert(gts.head.value == GtsValue.long(234))
  }

  test("escaping: tag values with escaped space/comma/equals") {
    val gts = parse("""m,dc=us\ west,k\,ey=a\=b value=1 1000""")
    assert(gts.head.labels == Map("dc" -> "us west", "k,ey" -> "a=b"))
  }

  test("escaping: measurement with escaped space and comma") {
    val gts = parse("""my\ meas\,1 value=1 1000""")
    assert(gts.head.name == "my meas,1.value")
  }

  test("bool field variants") {
    for (t <- Seq("t", "T", "true", "True", "TRUE"))
      assert(parse(s"m value=$t 1").head.value == GtsValue.bool(true), t)
    for (f <- Seq("f", "F", "false", "False", "FALSE"))
      assert(parse(s"m value=$f 1").head.value == GtsValue.bool(false), f)
  }

  test("string field escapes: \\\" and backslash") {
    val gts = parse("""m s="say \"hi\"" 1""")
    assert(gts.head.value == GtsValue.string("""say "hi""""))
  }

  test("precision scaling: s/ms/u to µs") {
    assert(parse("m v=1 1434055562", "s").head.ts.contains(1434055562000000L))
    assert(parse("m v=1 1434055562000", "ms").head.ts.contains(1434055562000000L))
    assert(parse("m v=1 1434055562000000", "u").head.ts.contains(1434055562000000L))
  }

  test("missing ts truncated to precision") {
    // now=...000000000ns truncated at 's' precision
    assert(parse("m v=1", "s").head.ts.contains((nowNs / 1000000000L) * 1000000L))
  }

  test("junk after a quoted string field is an error, not a silent tail-drop") {
    assert(InfluxLineParser.parseLine("""m s="x"b="y" 100""", "n", nowNs).isLeft)
  }

  test("NaN/Infinity tokens rejected (Java parseDouble would accept them)") {
    for (bad <- Seq("NaN", "nan", "Infinity", "+Infinity", "-Infinity", "inf"))
      assert(InfluxLineParser.parseLine(s"m v=$bad 1", "n", nowNs).isLeft, bad)
  }

  test("errors: missing fields, bad field value, unterminated string") {
    assert(InfluxLineParser.parseLine("justmeasurement", "n", nowNs).isLeft)
    assert(InfluxLineParser.parseLine("m v=notanum 1", "n", nowNs).isLeft)
    assert(InfluxLineParser.parseLine("""m s="unterminated 1""", "n", nowNs).isLeft)
  }

  test("payload: any bad line fails the whole payload (vendored ParsePoints behavior)") {
    val ok = InfluxLineParser.parsePayload("m v=1 1\nm v=2 2\n", "n", nowNs)
    assert(ok.exists(_.size == 2))
    assert(InfluxLineParser.parsePayload("m v=1 1\nbadline\n", "n", nowNs).isLeft)
  }
}
