package graft

import graft.parsers.{GraphiteParser, InfluxLineParser, OpenTsdbParser, PromParser}
import org.scalatest.funsuite.AnyFunSuite

/** Seeded fuzz: every parser must uphold its Either contract on arbitrary
  * garbage — no exception may escape (the prom timestamp-overflow bug
  * class). 4×2000 random inputs over a hostile alphabet.
  */
class ParserFuzzSpec extends AnyFunSuite {

  private val alphabet =
    "abc019 .,;=\"\\{}[]'+-#\t\u00e9\u4e2d@i\r\n%&?/!~`|Inf NaN true _:"

  private def garbage(rnd: scala.util.Random, maxLen: Int): String = {
    val n = rnd.nextInt(maxLen)
    (0 until n).map(_ => alphabet.charAt(rnd.nextInt(alphabet.length))).mkString
  }

  test("graphite parser never throws") {
    val rnd = new scala.util.Random(101)
    (1 to 2000).foreach { i =>
      val s = garbage(rnd, 60)
      try GraphiteParser.parseLine(s, parse = true, 1L)
      catch { case e: Throwable => fail(s"graphite threw on <$s>: $e") }
    }
  }

  test("graphite value inference Go-parity corners: 1e±308, Inf, NaN, signs, suffixes") {
    import graft.core.GtsValue
    def infer(tok: String) = GraphiteParser.inferValue(tok)
    // float only when the token contains '.' (graphite.go:335)
    assert(infer("1.0e308") == GtsValue.double(1.0e308))
    assert(infer("-1.0e308") == GtsValue.double(-1.0e308))
    assert(infer("1.7976931348623157e308.") == GtsValue.string("1.7976931348623157e308."))
    // Go strconv.ParseFloat range errors -> the cascade falls to STRING
    // (Java's parseDouble is silently Inf/0.0 there — pinned divergence)
    assert(infer("1.0e309") == GtsValue.string("1.0e309"))
    assert(infer("-1.0e309") == GtsValue.string("-1.0e309"))
    assert(infer("2.0e-324") == GtsValue.string("2.0e-324")) // hard underflow
    assert(infer("3.0e-324") == GtsValue.double(java.lang.Double.MIN_VALUE)) // denormal OK
    assert(infer("0.0e-99999") == GtsValue.double(0.0)) // zero mantissa: real zero, no range err
    // Inf/NaN have no '.', ParseInt rejects them, not booleans -> string
    assert(infer("Inf") == GtsValue.string("Inf"))
    assert(infer("+Inf") == GtsValue.string("+Inf"))
    assert(infer("-Inf") == GtsValue.string("-Inf"))
    assert(infer("NaN") == GtsValue.string("NaN"))
    assert(infer("Infinity") == GtsValue.string("Infinity"))
    // leading '+' accepted by both ParseFloat and ParseInt
    assert(infer("+5.5") == GtsValue.double(5.5))
    assert(infer("+5") == GtsValue.long(5L))
    assert(infer("+true") == GtsValue.string("+true"))
    // mantissa-edge syntax Go accepts
    assert(infer("5.") == GtsValue.double(5.0))
    assert(infer(".5") == GtsValue.double(0.5))
    assert(infer("1.e3") == GtsValue.double(1000.0))
    // Java-isms Go rejects: d/f suffixes, hex floats (go1.12 grammar)
    assert(infer("5.0d") == GtsValue.string("5.0d"))
    assert(infer("5.0f") == GtsValue.string("5.0f"))
    assert(infer("0x1.8p1") == GtsValue.string("0x1.8p1"))
    assert(infer("1.5D") == GtsValue.string("1.5D"))
    assert(infer("1.5F") == GtsValue.string("1.5F"))
    assert(infer("1.d5") == GtsValue.string("1.d5"))
    assert(infer("0X1.8P1") == GtsValue.string("0X1.8P1"))
    // ParseFloat and ParseInt do not trim: padded tokens are strings
    for (tok <- Seq(" 1.5", "1.5 ", "1.5\t", " 5", "5 ", " true"))
      assert(infer(tok) == GtsValue.string(tok), s"<$tok>")
    // no decimal comma, digit separators or non-ASCII digits; a lone
    // or doubled '.' is no number; the empty token is an empty string
    for (tok <- Seq("1,5", "1_000", "\uFF11.5", ".", "..", "1..2", ""))
      assert(infer(tok) == GtsValue.string(tok), s"<$tok>")
    // a float needs its '.': exponent-only and Infinity spellings are strings
    for (tok <- Seq("15e3", "-Infinity", "inf"))
      assert(infer(tok) == GtsValue.string(tok), s"<$tok>")
    assert(infer("1.5e3") == GtsValue.double(1500.0))
    assert(infer("1.5E3") == GtsValue.double(1500.0))
    assert(infer("-1.5") == GtsValue.double(-1.5))
    assert(infer("1.") == GtsValue.double(1.0))
    assert(infer("-5") == GtsValue.long(-5L))
    assert(infer("1.0e-308") == GtsValue.double(1.0e-308))
    assert(infer("4.9e-324") == GtsValue.double(java.lang.Double.MIN_VALUE))
    assert(infer("0.0e99999") == GtsValue.double(0.0))
    assert(infer("9.9e999") == GtsValue.string("9.9e999"))
    // int64 overflow falls through ParseInt to string
    assert(infer("9223372036854775807") == GtsValue.long(Long.MaxValue))
    assert(infer("9223372036854775808") == GtsValue.string("9223372036854775808"))
    assert(infer("99999999999999999999") == GtsValue.string("99999999999999999999"))
    // bool matching is ToLower-ed (graphite.go:355-360)
    assert(infer("TRUE") == GtsValue.bool(true))
    assert(infer("False") == GtsValue.bool(false))
    assert(infer("True") == GtsValue.bool(true))
    assert(infer("FALSE") == GtsValue.bool(false))
    // exponent-storm fuzz: extreme magnitudes never throw and never
    // leak a non-finite double out of the float path
    val rnd = new scala.util.Random(113)
    (1 to 3000).foreach { _ =>
      val tok = s"${if (rnd.nextBoolean()) "-" else ""}${rnd.nextInt(10)}." +
        s"${rnd.nextInt(1000)}e${if (rnd.nextBoolean()) "-" else ""}${rnd.nextInt(400)}"
      infer(tok) match {
        case GtsValue.GtsDouble(v) => assert(!v.isInfinite && !v.isNaN, s"non-finite from <$tok>")
        case GtsValue.GtsString(s2) => assert(s2 == tok)
        case other => fail(s"unexpected $other from <$tok>")
      }
    }
  }

  test("graphite round-trip: 2000 random synthesized lines -> parse -> expected GTS") {
    // encode-side golden: build `name[;k=v...] value ts` from random
    // components and require the parser to reconstruct exactly — the
    // per-protocol replay property the wire corpus gives the text path
    import graft.core.GtsValue
    val rnd = new scala.util.Random(107)
    val nameAlpha = "abcxyz.0_"
    def piece(n: Int) = (0 until 1 + rnd.nextInt(n)).map(_ => nameAlpha.charAt(rnd.nextInt(nameAlpha.length - 2))).mkString
    (1 to 2000).foreach { _ =>
      val name = s"${piece(5)}.${piece(5)}"
      val tags = (0 until rnd.nextInt(3)).map(i => s"k$i" -> s"v${rnd.nextInt(9)}").toMap
      val (valueTok, expected) = rnd.nextInt(3) match {
        case 0 => val v = rnd.nextLong() % 100000; (v.toString, GtsValue.long(v))
        case 1 => val v = (rnd.nextInt(2000000) - 1000000) / 1000.0
          (v.toString, GtsValue.double(v))
        case _ => val b = rnd.nextBoolean(); (b.toString, GtsValue.bool(b))
      }
      val tsSec = 1500000000L + rnd.nextInt(200000000)
      val tagsPart = tags.map { case (k, v) => s";$k=$v" }.mkString
      val line = s"$name$tagsPart $valueTok $tsSec"
      GraphiteParser.parseLine(line, parse = false, 1L) match {
        case Right(g) =>
          assert(g.name == name, s"name mismatch on <$line>")
          assert(g.labels == tags, s"labels mismatch on <$line>: ${g.labels}")
          assert(g.value == expected, s"value mismatch on <$line>: ${g.value}")
          assert(g.ts.contains(tsSec * 1000000L), s"ts mismatch on <$line>: ${g.ts}")
        case Left(err) => fail(s"parse failed on synthesized <$line>: $err")
      }
    }
  }

  test("opentsdb round-trip: 1000 random synthesized JSON bodies -> parse -> expected GTS") {
    val rnd = new scala.util.Random(109)
    (1 to 1000).foreach { _ =>
      val n = 1 + rnd.nextInt(3)
      val pts = (0 until n).map { i =>
        val metric = s"sys.m$i.${rnd.nextInt(99)}"
        val tsSec = 1500000000L + rnd.nextInt(200000000)
        val isInt = rnd.nextBoolean()
        val value = if (isInt) rnd.nextInt(100000).toString
          else ((rnd.nextInt(2000000) - 1000000) / 1000.0).toString
        val tags = (0 until 1 + rnd.nextInt(2)).map(j => s"t$j" -> s"x${rnd.nextInt(9)}").toMap
        (metric, tsSec, value, isInt, tags)
      }
      val body = pts.map { case (m, ts, v, _, tags) =>
        val tagJson = tags.map { case (k, w) => s""""$k":"$w"""" }.mkString(",")
        s"""{"metric":"$m","timestamp":$ts,"value":$v,"tags":{$tagJson}}"""
      }.mkString("[", ",", "]")
      OpenTsdbParser.parse(body, 1L) match {
        case Right(gs) =>
          assert(gs.length == n, s"row count on <$body>")
          gs.zip(pts).foreach { case (g, (m, ts, v, _, tags)) =>
            assert(g.name == m && g.labels == tags, s"mismatch on <$body>")
            assert(g.ts.contains(ts * 1000000L), s"ts on <$body>: ${g.ts}")
            // ALL JSON numbers decode as double — Go json→float64 parity
            // (opentsdb.go:19-28), integers included
            g.value match {
              case graft.core.GtsValue.GtsDouble(x) =>
                assert(BigDecimal(x) == BigDecimal(v), s"value on <$body>: $x vs $v")
              case other => fail(s"non-double value $other on <$body>")
            }
          }
        case Left(err) => fail(s"parse failed on synthesized <$body>: $err")
      }
    }
  }

  test("influx parser never throws") {
    val rnd = new scala.util.Random(102)
    (1 to 2000).foreach { _ =>
      val s = garbage(rnd, 80)
      try InfluxLineParser.parseLine(s, "n", 1L)
      catch { case e: Throwable => fail(s"influx threw on <$s>: $e") }
    }
  }

  test("opentsdb parser never throws") {
    val rnd = new scala.util.Random(103)
    (1 to 2000).foreach { _ =>
      val s = garbage(rnd, 80)
      try OpenTsdbParser.parse(s, 1L)
      catch { case e: Throwable => fail(s"opentsdb threw on <$s>: $e") }
    }
  }

  test("prom exposition parser never throws") {
    val rnd = new scala.util.Random(104)
    (1 to 2000).foreach { _ =>
      val s = garbage(rnd, 80)
      try PromParser.parseExposition(s, Map("j" -> "x"), 1L)
      catch { case e: Throwable => fail(s"prom threw on <$s>: $e") }
    }
  }

  test("influx near-valid mutations never throw") {
    val rnd = new scala.util.Random(105)
    val base = """weather,location=us-midwest temperature=82,b="x y" 1465839830100400200"""
    (1 to 2000).foreach { _ =>
      val pos = rnd.nextInt(base.length)
      val mutated = base.substring(0, pos) +
        alphabet.charAt(rnd.nextInt(alphabet.length)) + base.substring(pos + 1)
      try InfluxLineParser.parseLine(mutated, "n", 1L)
      catch { case e: Throwable => fail(s"influx threw on <$mutated>: $e") }
    }
  }

  test("influx round-trip: random escaped points -> line -> parse -> identical (2000 cases)") {
    import graft.core.GtsValue
    import graft.parsers.InfluxLineParser
    val rnd = new scala.util.Random(107)
    // identifier charset deliberately includes every char the escaping
    // grammar protects (comma, equals, space, backslash-adjacent)
    val identChars = "abcXYZ09_-., ="
    def rawIdent(): String = {
      val n = 1 + rnd.nextInt(8)
      val s = (0 until n).map(_ => identChars.charAt(rnd.nextInt(identChars.length))).mkString
      // an identifier of only escapable chars is fine; empty is not
      if (s.trim.isEmpty) s + "x" else s
    }
    def escIdent(s: String): String =
      s.flatMap { case c @ (',' | '=' | ' ') => s"\\$c"; case c => c.toString }
    def escMeas(s: String): String =
      s.flatMap { case c @ (',' | ' ') => s"\\$c"; case c => c.toString }
    def escStr(s: String): String =
      s.flatMap { case '\\' => "\\\\"; case '"' => "\\\""; case c => c.toString }
    (1 to 2000).foreach { round =>
      val meas = rawIdent().replace("=", "e") // '=' unescapable in measurement
      val tags = (0 until rnd.nextInt(3)).map(_ => (rawIdent(), rawIdent())).toMap
      val nFields = 1 + rnd.nextInt(3)
      val fields = (0 until nFields).map { fi =>
        val key = s"f$fi${rawIdent()}"
        val v: GtsValue = rnd.nextInt(4) match {
          case 0 => GtsValue.long(rnd.nextLong() % 100000)
          case 1 => GtsValue.double(math.round(rnd.nextDouble() * 1e6).toDouble / 1000.0)
          case 2 => GtsValue.bool(rnd.nextBoolean())
          case _ => GtsValue.string(rawIdent() + "\"\\" + rawIdent())
        }
        (key, v)
      }
      val tsNs = math.abs(rnd.nextLong() % 1700000000000000000L)
      def fv(v: GtsValue): String = v match {
        case GtsValue.GtsLong(l)   => s"${l}i"
        case GtsValue.GtsDouble(d) => d.toString
        case GtsValue.GtsBool(b)   => if (b) "true" else "false"
        case GtsValue.GtsString(s) => "\"" + escStr(s) + "\""
      }
      val tagStr = tags.map { case (k, v) => s",${escIdent(k)}=${escIdent(v)}" }.mkString
      val fieldStr = fields.map { case (k, v) => s"${escIdent(k)}=${fv(v)}" }.mkString(",")
      val line = s"${escMeas(meas)}$tagStr $fieldStr $tsNs"
      InfluxLineParser.parseLine(line, "n", 0L) match {
        case Left(err) => fail(s"round $round: parse failed on <$line>: $err")
        case Right(gts) =>
          assert(gts.size == fields.size, s"round $round: fan-out mismatch on <$line>")
          fields.zip(gts).foreach { case ((k, v), g) =>
            assert(g.name == s"$meas.$k", s"round $round: name <${g.name}> on <$line>")
            assert(g.labels == tags, s"round $round: tags ${g.labels} vs $tags on <$line>")
            assert(g.value == v, s"round $round: value ${g.value} vs $v on <$line>")
            assert(g.ts.contains(tsNs / 1000L), s"round $round: ts on <$line>")
          }
      }
    }
  }
}
