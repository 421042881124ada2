package graft

import graft.streaming.HttpWarpTransport
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** `HttpWarpTransport`'s pooled sockets against a raw-socket backend that
  * counts the connections it accepts and records each request as it
  * arrived on the wire.
  */
class HttpWarpTransportSpec extends AnyFunSuite with BeforeAndAfterEach {
  import HttpWarpTransportSpec._

  private var backend: Backend = _
  override def afterEach(): Unit = if (backend != null) backend.stop()

  private def push(t: HttpWarpTransport, token: String, lines: Seq[String]): Option[String] = {
    t.open(token, s"txn-$token")
    lines.foreach(t.send)
    t.close()
  }

  private def lines(tag: String, n: Int) = (0 until n).map(i => s"$i// $tag{i=$i} $i\r\n")

  test("sequential pushes share one socket; every body and header arrives") {
    backend = new Backend(_ => Reply.ok)
    for (k <- 0 until 50)
      assert(push(new HttpWarpTransport(backend.endpoint, "now"), s"tok$k", lines(s"m$k", 3)).isEmpty)
    assert(backend.accepted.get == 1)
    val reqs = backend.requests.asScala.toVector
    assert(reqs.size == 50 && reqs.forall(r => r.complete && r.conn == 1))
    for ((r, k) <- reqs.zipWithIndex) {
      assert(r.line == "POST /api/v0/update HTTP/1.1")
      assert(r.headers("host") == s"127.0.0.1:${backend.port}")
      assert(r.headers("x-warp10-token") == s"tok$k" && r.headers("txn") == s"txn-tok$k")
      assert(r.headers("x-warp10-now") == "now" && r.headers("transfer-encoding") == "chunked")
      assert(r.body == "#\r\n" + lines(s"m$k", 3).mkString)
    }
  }

  test("concurrent pushes open one socket each, then reuse them") {
    backend = new Backend(_ => Reply.ok)
    for (_ <- 0 until 2) {
      val ts = Vector.fill(3)(new HttpWarpTransport(backend.endpoint))
      ts.zipWithIndex.foreach { case (t, i) => t.open(s"tok$i", "txn"); t.send(s"$i// m{} 1\r\n") }
      ts.foreach(t => assert(t.close().isEmpty))
    }
    assert(backend.accepted.get == 3 && backend.requests.size == 6)
  }

  test("a socket the backend closed while idle is replaced; no point lost or doubled") {
    backend = new Backend(_ => Reply.ok.copy(hangUpAfter = true))
    val t1 = new HttpWarpTransport(backend.endpoint)
    assert(push(t1, "tok", lines("a", 4)).isEmpty)
    assert(backend.hungUp.await(5, TimeUnit.SECONDS))
    Thread.sleep(50) // the FIN reaches the client side
    assert(push(new HttpWarpTransport(backend.endpoint), "tok", lines("b", 4)).isEmpty)
    assert(backend.accepted.get == 2)
    val bodies = backend.requests.asScala.map(_.body).toVector
    assert(bodies == Vector("#\r\n" + lines("a", 4).mkString, "#\r\n" + lines("b", 4).mkString))
  }

  test("abort mid-body leaves a truncated chunked body and retires the socket") {
    backend = new Backend(_ => Reply.ok)
    val t = new HttpWarpTransport(backend.endpoint)
    t.open("tok", "txn")
    lines("big", 2000).foreach(t.send) // > 8 KB: some chunks are on the wire
    t.abort()
    assert(push(new HttpWarpTransport(backend.endpoint), "tok", lines("after", 2)).isEmpty)
    val reqs = backend.requests.asScala.toVector.sortBy(_.conn)
    assert(reqs.size == 2)
    assert(!reqs(0).complete && reqs(0).body.startsWith("#\r\n0// big{i=0} 0\r\n") &&
      reqs(0).body.length < ("#\r\n" + lines("big", 2000).mkString).length)
    assert(reqs(1).complete && reqs(1).conn == 2 && reqs(1).body == "#\r\n" + lines("after", 2).mkString)
    assert(backend.accepted.get == 2)
  }

  test("non-2xx: close returns the error body, sized or chunked; the socket stays pooled") {
    val err = "io.warp10.script.WarpScriptException: Token Expired"
    val replies = new ConcurrentLinkedQueue[Reply](java.util.List.of(
      Reply(500, Seq("Content-Length" -> err.length.toString), err),
      Reply(500, Seq("Transfer-Encoding" -> "chunked"), chunked(err)),
      Reply.ok))
    backend = new Backend(_ => replies.poll())
    assert(push(new HttpWarpTransport(backend.endpoint), "tok", lines("a", 1)).contains(err))
    assert(push(new HttpWarpTransport(backend.endpoint), "tok", lines("b", 1)).contains(err))
    assert(push(new HttpWarpTransport(backend.endpoint), "tok", lines("c", 1)).isEmpty)
    assert(backend.accepted.get == 1)
  }

  test("Connection: close and HTTP/1.0 responses are not pooled") {
    val replies = new ConcurrentLinkedQueue[Reply](java.util.List.of(
      Reply.ok.copy(headers = Seq("Content-Length" -> "0", "Connection" -> "close")),
      Reply.ok.copy(status = "HTTP/1.0 200 OK"),
      Reply.ok, Reply.ok))
    backend = new Backend(_ => replies.poll())
    for (k <- 0 until 4)
      assert(push(new HttpWarpTransport(backend.endpoint), "tok", lines(s"m$k", 1)).isEmpty)
    assert(backend.requests.asScala.map(_.conn).toVector == Vector(1, 2, 3, 3))
  }

  test("a socket idle past the keep-alive timeout is not reused") {
    backend = new Backend(_ => Reply.ok)
    def t() = new HttpWarpTransport(backend.endpoint, keepAliveTimeoutMs = 100)
    assert(push(t(), "tok", lines("a", 1)).isEmpty)
    assert(push(t(), "tok", lines("b", 1)).isEmpty)
    Thread.sleep(300)
    assert(push(t(), "tok", lines("c", 1)).isEmpty)
    assert(backend.requests.asScala.map(_.conn).toVector == Vector(1, 1, 2))
  }

  test("a backend that never answers fails the push after the read timeout") {
    val gate = new CountDownLatch(1)
    backend = new Backend(_ => { gate.await(); Reply.ok })
    try {
      val t = new HttpWarpTransport(backend.endpoint, readTimeoutMs = 300)
      val t0 = System.nanoTime()
      intercept[java.net.SocketTimeoutException](push(t, "tok", lines("a", 1)))
      val ms = (System.nanoTime() - t0) / 1000000
      assert(ms >= 250 && ms < 5000, s"timed out after $ms ms")
    } finally gate.countDown()
  }

  test("an https endpoint speaks TLS: a plain listener fails the handshake, no plaintext sent") {
    val server = new ServerSocket(0, 4, InetAddress.getLoopbackAddress)
    val seen = new ByteArrayOutputStream()
    val reader = new Thread(() => {
      val s = server.accept()
      try {
        val in = s.getInputStream
        val b = new Array[Byte](4096)
        val n = in.read(b)
        if (n > 0) seen.synchronized(seen.write(b, 0, n))
        s.getOutputStream.write("HTTP/1.1 400 Bad Request\r\nContent-Length: 0\r\n\r\n".getBytes(ISO_8859_1))
      } finally s.close()
    })
    reader.start()
    try {
      val t = new HttpWarpTransport(s"https://127.0.0.1:${server.getLocalPort}/api/v0/update",
        connectTimeoutMs = 5000, readTimeoutMs = 5000)
      intercept[javax.net.ssl.SSLException](push(t, "secret-token", lines("a", 1)))
      reader.join(5000)
      val bytes = seen.synchronized(seen.toByteArray)
      assert(bytes.nonEmpty && bytes(0) == 0x16, "expected a TLS handshake record")
      val text = new String(bytes, ISO_8859_1)
      assert(!text.contains("POST") && !text.contains("secret-token"))
    } finally server.close()
  }
}

object HttpWarpTransportSpec {
  /** A response: status line, headers, raw body bytes (already framed),
    * and whether the backend closes the socket right after sending it.
    */
  final case class Reply(status: String, headers: Seq[(String, String)], body: String,
      hangUpAfter: Boolean = false)
  object Reply {
    def apply(code: Int, headers: Seq[(String, String)], body: String): Reply =
      Reply(s"HTTP/1.1 $code Error", headers, body)
    val ok: Reply = Reply("HTTP/1.1 200 OK", Seq("Content-Length" -> "0"), "")
  }

  def chunked(s: String): String =
    s.grouped(7).map(p => s"${Integer.toHexString(p.length)}\r\n$p\r\n").mkString + "0\r\n\r\n"

  /** One request as received; `complete` is false when the connection
    * ended inside its chunked body. `conn` numbers accepted connections
    * from 1.
    */
  final case class Request(conn: Int, line: String, headers: Map[String, String], body: String,
      complete: Boolean)

  final class Backend(reply: Request => Reply) {
    private val server = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
    val accepted = new AtomicInteger
    val requests = new ConcurrentLinkedQueue[Request]()
    val hungUp = new CountDownLatch(1)
    private val sockets = new ConcurrentLinkedQueue[Socket]()
    private val acceptor = new Thread(() =>
      try while (true) {
        val s = server.accept()
        sockets.add(s)
        val conn = accepted.incrementAndGet()
        val t = new Thread(() => serve(s, conn))
        t.setDaemon(true); t.start()
      } catch { case _: java.io.IOException => () })
    acceptor.setDaemon(true); acceptor.start()

    def port: Int = server.getLocalPort
    def endpoint: String = s"http://127.0.0.1:$port/api/v0/update"
    def stop(): Unit = { server.close(); sockets.forEach(s => s.close()) }

    private def readLine(in: InputStream): String = {
      val sb = new StringBuilder
      var c = in.read()
      if (c < 0) return null
      while (c >= 0 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
      sb.toString
    }

    private def serve(s: Socket, conn: Int): Unit = try {
      val in = new BufferedInputStream(s.getInputStream)
      var line = readLine(in)
      while (line != null && line.nonEmpty) {
        var headers = Map.empty[String, String]
        var h = readLine(in)
        while (h != null && h.nonEmpty) {
          val i = h.indexOf(':')
          headers += h.substring(0, i).trim.toLowerCase -> h.substring(i + 1).trim
          h = readLine(in)
        }
        val body = new ByteArrayOutputStream()
        var complete = false
        try {
          var size = Integer.parseInt(readLine(in).trim, 16)
          while (size > 0) {
            body.write(in.readNBytes(size))
            if (readLine(in) == null) throw new java.io.EOFException
            size = Integer.parseInt(readLine(in).trim, 16)
          }
          complete = readLine(in) == ""
        } catch { case _: Exception => () }
        val req = Request(conn, line, headers, body.toString("UTF-8"), complete)
        requests.add(req)
        if (!complete) return
        val r = reply(req)
        val head = (r.status +: r.headers.map { case (k, v) => s"$k: $v" }).mkString("", "\r\n", "\r\n\r\n")
        s.getOutputStream.write((head + r.body).getBytes(ISO_8859_1))
        s.getOutputStream.flush()
        // only an explicit hang-up closes: a Connection: close or HTTP/1.0
        // reply leaves the socket open, so reuse would show
        if (r.hangUpAfter) { s.close(); hungUp.countDown(); return }
        line = readLine(in)
      }
    } catch { case _: java.io.IOException => () } finally s.close()
  }
}
