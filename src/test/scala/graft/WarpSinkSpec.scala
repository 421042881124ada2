package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.core.{Gts, GtsValue, WarpError}
import graft.ops.Ingest
import graft.streaming.{BanStore, HttpWarpTransport, IngestServer, TokenRoutedWarpWriter, TokenizedGts, WarpSinkException}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentLinkedQueue

/** The Warp HTTP sink against a REAL local HTTP server: headers, the #\r\n
  * prelude, streamed Sensision body, and error-body classification, all
  * through the production writer (`TokenRoutedWarpWriter`).
  */
class WarpSinkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val received = new ConcurrentLinkedQueue[(String, String, String, String)]() // (token, txn, now, body)
  @volatile private var respondWith: (Int, String) = (200, "OK")
  private var server: HttpServer = _
  private var port: Int = _
  // one thread per exchange, as a real backend
  private val pool = java.util.concurrent.Executors.newCachedThreadPool()

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/api/v0/update", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        val h = ex.getRequestHeaders
        received.add((h.getFirst("X-warp10-token"), h.getFirst("Txn"), h.getFirst("X-Warp10-Now"), body))
        val (code, resp) = respondWith
        ex.sendResponseHeaders(code, resp.getBytes("UTF-8").length)
        ex.getResponseBody.write(resp.getBytes("UTF-8"))
        ex.close()
      }
    })
    server.setExecutor(pool)
    server.start()
    port = server.getAddress.getPort
  }

  override def afterAll(): Unit = { server.stop(0); pool.shutdown() }

  private def url = s"http://127.0.0.1:$port/api/v0/update"

  private def writer(bans: BanStore = new BanStore(60000L)) = {
    val u = url
    new TokenRoutedWarpWriter(() => new HttpWarpTransport(u, "now"), bans)
  }

  private def row(token: String, g: Gts) = TokenizedGts(token, "txn", Gts.toRow(g))

  test("open/process/close streams prelude + Sensision lines with headers") {
    respondWith = (200, "OK")
    received.clear()
    val w = writer()
    assert(w.open(0L, 1L))
    w.process(row("tok123", Gts(Some(1546420308000000L), "tcp_metric", Map.empty, GtsValue.double(14.2))))
    w.process(row("tok123", Gts(Some(1546420308000001L), "flag", Map("a" -> "b"), GtsValue.bool(true))))
    w.close(null)
    val (token, txn, now, body) = received.poll()
    assert(token == "tok123" && txn == "txn-0-1" && now == "now")
    assert(body ==
      "#\r\n" +
      "1546420308000000// tcp_metric{} 14.200000\r\n" +
      "1546420308000001// flag{a=b} T\r\n")
    assert(received.isEmpty)
  }

  test("error body classified through the ordered taxonomy -> typed sink exception") {
    respondWith = (500, "You exceed your Monthly Active Data Streams limit for application 'myapp' (100).")
    val bans = new BanStore(60000L)
    val w = writer(bans)
    w.open(1L, 2L)
    w.process(row("tok123", Gts(Some(1L), "m", Map.empty, GtsValue.long(1))))
    val e = intercept[WarpSinkException](w.close(null))
    assert(e.error == WarpError.MadsExceeded("myapp", "100"))
    assert(e.error.httpStatus == 429 && !e.error.bansToken)
    assert(!bans.isBanned("tok123", System.currentTimeMillis()))
    // a token-level error bans the token and drops its channel only
    respondWith = (500, "io.warp10.script.WarpScriptException: Token Expired")
    val w2 = writer(bans)
    w2.open(1L, 3L)
    w2.process(row("tok123", Gts(Some(1L), "m", Map.empty, GtsValue.long(1))))
    w2.close(null)
    assert(bans.isBanned("tok123", System.currentTimeMillis()))
    respondWith = (200, "OK")
  }

  test("two tokens in one partition deliver both bodies to a backend that serves one request at a time") {
    // the JDK server's default executor runs every exchange on its one
    // dispatcher thread: while it reads one body it serves nothing else
    val single = HttpServer.create(new InetSocketAddress(0), 0)
    val bodies = new ConcurrentLinkedQueue[(String, String)]()
    single.createContext("/api/v0/update", (ex: HttpExchange) => {
      bodies.add((ex.getRequestHeaders.getFirst("X-Warp10-Token"), new String(ex.getRequestBody.readAllBytes(), "UTF-8")))
      ex.sendResponseHeaders(200, -1)
      ex.close()
    })
    single.start()
    try {
      val u = s"http://127.0.0.1:${single.getAddress.getPort}/api/v0/update"
      val w = new TokenRoutedWarpWriter(() => new HttpWarpTransport(u, "now", readTimeoutMs = 5000),
        new BanStore(60000L))
      // the writer visits its channels in HashMap order; open the one it
      // visits last first, so the backend is already reading that body
      val order = { val m = new java.util.HashMap[String, Unit](); m.put("tokA", ()); m.put("tokB", ()); m.keySet.toArray.map(_.toString) }
      w.open(0L, 1L)
      w.process(row(order(1), Gts(Some(1L), "last", Map.empty, GtsValue.long(1))))
      Thread.sleep(300)
      w.process(row(order(0), Gts(Some(2L), "first", Map.empty, GtsValue.long(2))))
      w.close(null)
      assert(bodies.toArray.toSet == Set(
        (order(1), "#\r\n1// last{} 1\r\n"), (order(0), "#\r\n2// first{} 2\r\n")))
    } finally single.stop(0)
  }

  test("mid-batch transport death -> task retry -> backend commits the batch exactly ONCE") {
    // the reference replays a buffered prefix once on connection error
    // (core/warp.go:197-217); this repo's documented stance is
    // idempotent task retry over ABORTED channels (WarpSink.scala).
    // Prove it end-to-end on the served pipeline: one spool file holds
    // lines for two tokens, so the first attempt has two channels open
    // when it dies after 3 of 6 sends. The writer aborts both chunked
    // POSTs (server reads truncate -> nothing committed), Spark retries
    // the task, and the backend ends up with EXACTLY one committed body
    // per token holding each of its rows exactly once.
    respondWith = (200, "OK")
    received.clear()
    WarpSinkSpec.sends.set(0)
    WarpSinkSpec.attempts.clear()
    // a fresh session with task retries enabled (local-mode default is
    // maxFailures=1, which would kill the query on the first death)
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    val spark = GraftSession("local[2,4]", 2)
    try {
      val spool = java.nio.file.Files.createTempDirectory("graft_retry_in")
      java.nio.file.Files.writeString(spool.resolve("conn.tsv"), Seq(
        "tokA\tc1\ta.one 1 1546420308", "tokB\tc2\tb.one 1 1546420308",
        "tokA\tc1\ta.two 2 1546420309", "tokB\tc2\tb.two 2 1546420309",
        "tokA\tc1\ta.three 3 1546420310", "tokB\tc2\tb.three 3 1546420310")
        .mkString("", "\n", "\n"))
      val u = url
      val q = IngestServer.start(spark, spool,
        java.nio.file.Files.createTempDirectory("graft_retry_ck"),
        () => new FlakyTransport(u), new BanStore(60000L))
      try q.processAllAvailable() finally q.stop()
      assert(WarpSinkSpec.attempts.size == 2,
        s"expected death+retry, task attempts=${WarpSinkSpec.attempts}")
      for ((tok, prefix) <- Seq("tokA" -> "a.", "tokB" -> "b.")) {
        val bodies = received.toArray.map(_.asInstanceOf[(String, String, String, String)])
          .filter(_._1 == tok).map(_._4).toSeq
        assert(bodies.size == 1, s"backend committed ${bodies.size} bodies for $tok: $bodies")
        for (m <- Seq("one", "two", "three"))
          assert(bodies.head.linesIterator.count(_.contains(s" $prefix$m{")) == 1,
            s"row $prefix$m not exactly-once in: ${bodies.head}")
      }
    } finally spark.stop()
  }

  test("parse modes: permissive drops, failfast throws (per-transport policy)") {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    val spark = GraftSession("local[2]", 2)
    import spark.implicits._
    val lines = Seq("ok 1 1546420308", "definitely not parseable").toDS()
    // TCP policy: the bad line vanishes; PERMISSIVE quarantines it as an
    // error row beside the one good row
    assert(Ingest.graphite(lines, mode = "DROPMALFORMED").count() == 1)
    val permissive = Ingest.graphite(lines)
    assert(permissive.filter("error IS NULL").count() == 1 &&
      permissive.filter("error LIKE 'Bad metric%'").count() == 1)
    // HTTP policy: the first bad line fails the job
    val ff = Ingest.graphite(lines, mode = "FAILFAST")
    val err = intercept[org.apache.spark.SparkException](ff.count())
    assert(err.getMessage.contains("Bad metric") ||
      Option(err.getCause).exists(_.getMessage.contains("Bad metric")))
    // influx + opentsdb + prom entries smoke
    assert(Ingest.influx(Seq("m v=1i 1000").toDS()).count() == 1)
    assert(Ingest.opentsdb(
      Seq("""{"metric":"m","timestamp":1,"value":2,"tags":{}}""").toDS()).count() == 1)
    assert(Ingest.promExposition(Seq(("m{a=\"b\"} 1 1000".getBytes("UTF-8"), Option.empty[String])).toDS(),
      Map("job" -> "j")).count() == 1)
  }
}

object WarpSinkSpec {
  /** Sends across the query and the task attempts that made them
    * (static: local-mode tasks share the JVM with the suite).
    */
  val sends = new java.util.concurrent.atomic.AtomicInteger(0)
  val attempts = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
}

/** Real HTTP transport whose FIRST task attempt dies on the third send
  * across all of its channels — the mid-batch connection loss the retry
  * test injects.
  */
final class FlakyTransport(endpoint: String) extends graft.streaming.WarpTransport {
  private val inner = new graft.streaming.HttpWarpTransport(endpoint, readTimeoutMs = 20000)
  @transient private var attempt: Int = _
  override def open(token: String, txn: String): Unit = {
    attempt = org.apache.spark.TaskContext.get().attemptNumber()
    WarpSinkSpec.attempts.add(attempt)
    inner.open(token, txn)
  }
  override def send(line: String): Unit = {
    inner.send(line)
    if (attempt == 0 && WarpSinkSpec.sends.incrementAndGet() == 3)
      throw new java.io.IOException("injected transport death mid-batch")
  }
  override def abort(): Unit = inner.abort()
  override def close(): Option[String] = inner.close()
}
