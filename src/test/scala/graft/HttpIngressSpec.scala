package graft

import graft.core.{GraftConfig, Sensision, Txn}
import graft.parsers.{GraphiteParser, InfluxLineParser}
import graft.streaming.{BanStore, HttpIngress, WarpTransport}
import org.scalatest.funsuite.AnyFunSuite

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** E2E drive of the full HTTP route table (cmd/root.go:116-145) against a
  * REAL local listener: every protocol's doc-fixture body
  * (doc/influx.md:13-18, doc/openTSDB.md:15-31) POSTs over HTTP, Sensision
  * delivery is asserted on the recording transport, error statuses
  * (401/404/405/422) and the ban lifecycle close the loop, and the A34
  * access log carries all 12 fields for a success AND an error request.
  */
class HttpIngressSpec extends AnyFunSuite {

  /** One recording transport per request; the factory journal lets tests
    * assert how many channels were ever opened (banned requests open none).
    */
  final class Rec(closeBody: Option[String]) extends WarpTransport {
    @volatile var token: String = _
    @volatile var txn: String = _
    @volatile var nowHeader: String = _
    val sent = new ConcurrentLinkedQueue[String]()
    override def open(token: String, txn: String): Unit = { this.token = token; this.txn = txn }
    override def send(line: String): Unit = sent.add(line): Unit
    override def close(): Option[String] = closeBody
    override def abort(): Unit = ()
  }

  private def config(warpBase: String = "http://127.0.0.1:9") = GraftConfig(
    warpEndpoint = s"$warpBase/api/v0/update",
    warpEndpointDelete = warpBase,
    connectionTimeoutMs = 1000, dialTimeoutMs = 1000, keepAliveTimeoutMs = 1000,
    bannishmentMs = 0L, graphiteParse = true, dryRun = false)

  private def withIngress[T](
      closeBody: Option[String] = None,
      bans: BanStore = new BanStore(60000L),
      warpBase: String = "http://127.0.0.1:9")(
      f: (HttpIngress, ConcurrentLinkedQueue[Rec]) => T): T = {
    val transports = new ConcurrentLinkedQueue[Rec]()
    val ing = new HttpIngress(0, now => {
      val t = new Rec(closeBody); t.nowHeader = now; transports.add(t); t
    }, bans, config(warpBase)).start()
    try f(ing, transports) finally ing.stop()
  }

  private def req(
      port: Int, method: String, path: String,
      body: Array[Byte] = Array.empty,
      headers: Map[String, String] = Map("X-Warp10-Token" -> "tokA")): (Int, String, Map[String, String]) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    if (body.nonEmpty) { conn.setDoOutput(true); val o = conn.getOutputStream; o.write(body); o.close() }
    val status = conn.getResponseCode
    val respBody = {
      val is = if (status >= 400) Option(conn.getErrorStream) else Option(conn.getInputStream)
      is.map(s => { val b = new String(s.readAllBytes(), StandardCharsets.UTF_8); s.close(); b })
        .getOrElse("")
    }
    // header names are case-insensitive on the wire (the JDK server
    // normalizes differently from Go's canonical form) — compare lowered
    val hs = conn.getHeaderFields.asScala.collect {
      case (k, vs) if k != null => k.toLowerCase -> vs.get(0)
    }.toMap
    conn.disconnect()
    (status, respBody, hs)
  }

  private def b(s: String) = s.getBytes(StandardCharsets.UTF_8)

  test("influx doc fixture over HTTP: 204, field fan-out delivered as Sensision") {
    withIngress() { (ing, ts) =>
      val fixture = "cpu_load_short,host=server01,region=us-west value=0.64 1434055562000000000"
      val (st, _, hs) = req(ing.boundPort, "POST", "/influxdb/write", b(fixture))
      assert(st == 204)
      assert(hs.contains("x-app-txn") && hs("x-app-txn").length == 64)
      assert(hs("access-control-allow-origin") == "*")
      val t = ts.peek()
      assert(t.token == "tokA")
      val expected = InfluxLineParser
        .parsePayload(fixture, "n", 0L).toOption.get.map(Sensision.encode)
      assert(t.sent.asScala.toSeq == expected)
    }
  }

  test("influx precision param + legacy path + basic-auth token in URL style") {
    withIngress() { (ing, ts) =>
      val auth = "Basic " + java.util.Base64.getEncoder
        .encodeToString("user:sekret".getBytes(StandardCharsets.UTF_8))
      val (st, _, _) = req(ing.boundPort, "POST", "/influxdb?precision=s",
        b("m1 value=1i 1434055562"), Map("Authorization" -> auth))
      assert(st == 204)
      val t = ts.peek()
      assert(t.token == "sekret") // auth.go basic: password half is the token
      assert(t.sent.peek().startsWith("1434055562000000// ")) // s -> us
    }
  }

  test("opentsdb doc fixture at /opentsdb/api/put: 204, seconds -> us") {
    withIngress() { (ing, ts) =>
      val fixture = """{
        "metric": "sys.cpu.nice",
        "timestamp": 1346846400,
        "value": 18,
        "tags": { "host": "web01", "dc": "lga" }
      }"""
      val (st, _, _) = req(ing.boundPort, "POST", "/opentsdb/api/put", b(fixture))
      assert(st == 204)
      val line = ts.peek().sent.peek()
      assert(line.startsWith("1346846400000000// sys.cpu.nice{"))
      assert(line.contains("dc=lga") && line.contains("host=web01"))
    }
  }

  test("graphite sink route: 202 on good lines, 422 fail-fast on the first bad one") {
    withIngress() { (ing, ts) =>
      val (st, _, _) = req(ing.boundPort, "POST", "/graphite/api/v1/sink",
        b("sys.load 1.5 1434055562\n"))
      assert(st == 202)
      val exp = Sensision.encode(
        GraphiteParser.parseLine("sys.load 1.5 1434055562", true).toOption.get)
      assert(ts.peek().sent.peek() == exp)
      val (bad, msg, _) = req(ing.boundPort, "POST", "/graphite/api/v1/sink",
        b("good.metric 1 1434055562\nnot a metric line at all extra\n"))
      assert(bad == 422 && msg.startsWith("Failed to parse datapoint"))
    }
  }

  test("warp passthrough: 200, CRLF re-framing and 27-line batching") {
    withIngress() { (ing, ts) =>
      val lines = (1 to 30).map(i => s"$i// m{} $i").mkString("\n")
      val (st, _, _) = req(ing.boundPort, "POST", "/warp/api/v0/update", b(lines))
      assert(st == 200)
      val sent = ts.peek().sent.asScala.toSeq
      assert(sent.length == 2) // 27 + 3
      assert(sent.head.split("\r\n", -1).count(_.nonEmpty) == 27)
      assert(sent(1).split("\r\n", -1).count(_.nonEmpty) == 3)
    }
  }

  test("prometheus: path labels merge (202); odd label count is 422") {
    withIngress() { (ing, ts) =>
      val (st, _, _) = req(ing.boundPort, "POST", "/prometheus/job/j1",
        b("http_requests_total{code=\"200\"} 5 1434055562000\n"))
      assert(st == 202)
      val line = ts.peek().sent.peek()
      assert(line.contains("job=j1") && line.contains("code=200"))
      val (odd, msg, _) = req(ing.boundPort, "POST", "/prometheus/job", b("x 1\n"))
      assert(odd == 422 && msg.contains("Bad number of labels"))
    }
  }

  test("remote_write: corrupt snappy body is a 422") {
    withIngress() { (ing, _) =>
      val (st, _, _) = req(ing.boundPort, "POST", "/prometheus/remote_write",
        Array[Byte](-1, -2, -3, -4))
      assert(st == 422)
    }
  }

  test("influx ping: 204 with version header and Request-Id == txn") {
    withIngress() { (ing, _) =>
      val (st, _, hs) = req(ing.boundPort, "GET", "/influxdb/ping")
      assert(st == 204)
      assert(hs("x-influxdb-version") == "1.4.x")
      assert(hs("request-id") == hs("x-app-txn"))
    }
  }

  test("dry-run: an influx body answers 200 and never opens a Warp transport (handler.go:165-170)") {
    val opened = new java.util.concurrent.atomic.AtomicInteger
    val ing = new HttpIngress(0, _ => { opened.incrementAndGet(); new Rec(None) },
      new BanStore(60000L), config().copy(dryRun = true)).start()
    try {
      val (st, body, _) = req(ing.boundPort, "POST", "/influxdb/write", b("m v=1i 1434055562000000000"))
      assert(st == 200 && body.isEmpty)
      assert(opened.get() == 0)
      assert(ing.accessLog.map(r => (r.status, r.datapoints)) == Seq((200, 0L)))
    } finally ing.stop()
  }

  test("txn id: SHA-256 of the seed as 64 lowercase hex characters (logger.go:56-65)") {
    assert(Txn.id("abc") == "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(Txn.id("") == "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855")
    // the per-byte %02x rendering the helper replaced, on seeds of both call shapes
    for (seed <- Seq("conn-1", "10.0.0.1" + java.lang.Long.toHexString(123456789L), "é")) {
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest(seed.getBytes(StandardCharsets.UTF_8))
      assert(Txn.id(seed) == d.map(b => f"${b & 0xFF}%02x").mkString)
    }
  }

  test("error statuses: 401 no token, 405 method, 422 gzip, 404 unrouted") {
    withIngress() { (ing, ts) =>
      assert(req(ing.boundPort, "POST", "/influxdb", b("m v=1"), Map.empty)._1 == 401)
      assert(req(ing.boundPort, "GET", "/influxdb")._1 == 405)
      val (gz, msg, _) = req(ing.boundPort, "POST", "/opentsdb",
        b("not gzip"), Map("X-Warp10-Token" -> "tokA", "Content-Encoding" -> "gzip"))
      assert(gz == 422 && msg == "Fail to decode gzip")
      assert(req(ing.boundPort, "POST", "/nope", b("x"))._1 == 404)
      assert(ts.isEmpty) // none of these reached a transport open... except 405/404 paths
    }
  }

  test("CORS: preflight 204 with the configured methods/headers") {
    withIngress() { (ing, _) =>
      val (st, _, hs) = req(ing.boundPort, "OPTIONS", "/influxdb", headers = Map.empty)
      assert(st == 204)
      assert(hs("access-control-allow-origin") == "*")
      assert(hs("access-control-allow-methods").contains("POST"))
      assert(hs("access-control-allow-headers").contains("X-Warp10-Token"))
    }
  }

  test("ban lifecycle: backend invalid-token close body bans; middleware rejects until TTL") {
    val bans = new BanStore(400L)
    withIngress(closeBody = Some("io.warp10.script.WarpScriptException: Invalid token"),
        bans = bans) { (ing, ts) =>
      // first request reaches the backend, whose close body classifies to
      // InvalidToken -> 401 AND the token lands in the ban store
      val (st1, _, _) = req(ing.boundPort, "POST", "/graphite/api/v1/sink",
        b("a.b 1 1434055562\n"))
      assert(st1 == 401)
      assert(bans.isBanned("tokA", System.currentTimeMillis()))
      val opened = ts.size()
      // second request dies at the bannishment middleware: 401, no transport
      val (st2, _, _) = req(ing.boundPort, "POST", "/graphite/api/v1/sink",
        b("a.b 2 1434055563\n"))
      assert(st2 == 401 && ts.size() == opened)
      // TTL expiry re-admits (BanStore doc: duration-as-TTL divergence)
      Thread.sleep(500L)
      val (st3, _, _) = req(ing.boundPort, "POST", "/graphite/api/v1/sink",
        b("a.b 3 1434055564\n"))
      assert(st3 == 401 && ts.size() == opened + 1) // reached the backend again
    }
  }

  test("access log carries all 12 fields for a success and an error request") {
    withIngress() { (ing, _) =>
      val (_, _, okHs) = req(ing.boundPort, "POST", "/influxdb/write?precision=s",
        b("m1 value=2i 1434055562"),
        Map("X-Warp10-Token" -> "tokA", "X-Forwarded-For" -> "10.1.2.3",
          "Referer" -> "http://r.example", "User-Agent" -> "graft-spec"))
      val (_, _, errHs) = req(ing.boundPort, "GET", "/influxdb")
      // the record lands just after the response commits — poll briefly
      val deadline = System.currentTimeMillis() + 2000
      while (ing.accessLog.size < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      val logs = ing.accessLog
      val ok = logs.find(_.status == 204).getOrElse(fail("no success record"))
      assert(ok.remote == "10.1.2.3")
      assert(ok.host.nonEmpty)
      assert(ok.uri == "/influxdb/write?precision=s")
      assert(ok.method == "POST")
      assert(ok.path == "/influxdb/write")
      assert(ok.referer == "http://r.example")
      assert(ok.user_agent == "graft-spec")
      assert(ok.latency_ns > 0 && ok.date_ms > 0)
      assert(ok.txn == okHs("x-app-txn"))
      assert(ok.datapoints == 1L)
      val err = logs.find(_.status == 405).getOrElse(fail("no error record"))
      assert(err.method == "GET" && err.datapoints == 0L && err.txn == errHs("x-app-txn"))
      assert(ing.reqCount.get() >= 2 && ing.errCount.get() >= 1)
    }
  }

  test("reverse proxy routes: /warp/api/v0/fetch forwards, X-Warp headers copy back") {
    // tiny upstream answering under /api/v0
    val upstream = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    upstream.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = s"up:${ex.getRequestURI}".getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("X-Warp10-Elapsed", "42")
      ex.getResponseHeaders.set("Content-Type", "text/plain")
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body); ex.close()
    })
    upstream.start()
    try {
      val base = s"http://127.0.0.1:${upstream.getAddress.getPort}"
      withIngress(warpBase = base) { (ing, _) =>
        val (st, respBody, hs) = req(ing.boundPort, "GET", "/warp/api/v0/fetch?sel=~.*")
        assert(st == 200)
        assert(hs("x-warp10-elapsed") == "42")
        assert(respBody == "up:/api/v0/fetch?sel=~.*")
        // delete subtree pins its upstream path (reverse.go:21-24)
        val (std, bodyD, _) = req(ing.boundPort, "POST", "/warp/api/v0/delete/x?y=1", b("z"))
        assert(std == 200 && bodyD == "up:/api/v0/delete?y=1")
      }
    } finally upstream.stop(0)
  }

  test("access log as a DataFrame: 12 columns, queryable") {
    withIngress() { (ing, _) =>
      req(ing.boundPort, "POST", "/influxdb/write", b("m1 value=3i 1434055562"))
      val spark = GraftSession("local[2]", 2)
      try {
        val df = ing.accessLogDf(spark)
        assert(df.columns.toSeq == Seq("remote", "host", "uri", "method", "path",
          "referer", "user_agent", "status", "latency_ns", "date_ms", "txn", "datapoints"))
        assert(df.where(org.apache.spark.sql.functions.col("status") === 204).count() >= 1)
      } finally spark.stop()
    }
  }
}
