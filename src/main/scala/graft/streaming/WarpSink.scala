package graft.streaming

import graft.core.{Sensision, WarpError}
import org.apache.spark.sql.ForeachWriter

/** Transport abstraction under the Warp sink — the reference's streaming
  * HTTP POST (core/warp.go:116-277) behind an interface so tests inject an
  * in-memory or local-HTTP implementation. One transport instance per
  * channel: per request at the HTTP edge, per token per partition per
  * epoch in the sink (the task-level analog of the per-request sender
  * goroutine, core/warp.go:183). What outlives a channel, such as a
  * socket, belongs to the JVM.
  */
trait WarpTransport extends Serializable {
  /** Open a delivery channel; mirrors NewWarp(token, txn, now). */
  def open(token: String, txn: String): Unit
  /** Deliver one Sensision line; mirrors Warp.Send. */
  def send(line: String): Unit
  /** Complete the request body without waiting for the response. A
    * writer holding several channels finishes them all before it
    * [[close]]s any, so a backend that reads one request body at a time
    * is never left waiting on a body the writer has not ended yet.
    * Transports with nothing to end early keep this no-op: `close` then
    * does both steps.
    */
  def finish(): Unit = ()
  /** Finish and return the backend's error body if any; mirrors
    * Warp.Close reading the response (core/warp.go:266-277).
    */
  def close(): Option[String]
  /** Sever the channel WITHOUT completing the request — the failed-task
    * path. Completing a chunked POST on error would make the backend
    * commit a partial batch and the retried task commit it again;
    * aborting leaves the backend's read truncated (discarded), so task
    * retry is exactly-once at the commit level. Mirrors the
    * reference's abandoned request on handler error (the Go client
    * cancels an un-Closed request, catalyser/graphite.go:286-295).
    */
  def abort(): Unit
}

/** HTTP transport: one chunked HTTP/1.1 POST per channel to `endpoint`
  * with the reference's headers (X-Warp10-Token, X-Warp10-Now, Txn —
  * core/warp.go:219-230) and the `#\r\n` keep-alive prelude, flushed at
  * [[open]] so the backend sees the headers at once (core/warp.go:240-243).
  * The body goes out in chunks of up to 8 KB, so a push is never buffered
  * whole.
  *
  * Sockets are pooled per JVM in the companion object, keyed by scheme,
  * host and port, like the reference's shared `http.Client`
  * (core/warp.go:132-145). A pooled socket is reused only when it was
  * idle for at most `keepAliveTimeoutMs` and a non-blocking read finds it
  * open with nothing unread; otherwise it is closed and the next one is
  * tried. The JDK's own HTTP client also reuses sockets, but before each
  * streamed POST on a cached socket it probes the socket with a blocking
  * read under a 1 ms timeout, which cost about 1.1 ms of every push.
  * `https` endpoints go through the default `SSLSocketFactory` with
  * host-name verification.
  */
final class HttpWarpTransport(
    endpoint: String,
    nowHeader: String = "",
    connectTimeoutMs: Int = 10000,  // reference dial timeout, cmd/root.go:51
    readTimeoutMs: Int = 300000,    // reference request timeout, cmd/root.go:48
    keepAliveTimeoutMs: Int = 30000) // reference keep-alive timeout, cmd/root.go:50
    extends WarpTransport {
  import HttpWarpTransport.Conn

  @transient private lazy val target = new java.net.URI(endpoint)
  @transient private var conn: Conn = _
  @transient private var finished = false

  override def open(token: String, txn: String): Unit = {
    val c = HttpWarpTransport.acquire(target, connectTimeoutMs, keepAliveTimeoutMs)
    conn = c; finished = false
    guarded {
      c.setReadTimeout(readTimeoutMs)
      c.writeHead(target, Seq("X-Warp10-Token" -> token) ++
        (if (nowHeader.nonEmpty) Seq("X-Warp10-Now" -> nowHeader) else Nil) :+ ("Txn" -> txn))
    }
  }

  override def send(line: String): Unit =
    guarded(conn.write(line.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  override def finish(): Unit =
    if (conn != null && !finished) { guarded(conn.endBody()); finished = true }

  override def abort(): Unit = {
    // closing severs the socket with NO terminal chunk: the server side
    // sees a truncated chunked body and must discard the request
    if (conn != null) conn.close()
    conn = null
  }

  override def close(): Option[String] = {
    if (conn == null) return None // open() never succeeded
    finish()
    val c = conn
    val (code, body) = guarded(c.readResponse())
    conn = null
    HttpWarpTransport.release(c, keepAliveTimeoutMs)
    if (code >= 200 && code < 300) None else Some(body)
  }

  /** A failed socket operation leaves the socket in an unknown state:
    * close it rather than pool it.
    */
  private def guarded[T](op: => T): T =
    try op catch { case e: Throwable => abort(); throw e }
}

object HttpWarpTransport {
  import java.io.{ByteArrayOutputStream, IOException, InputStream, OutputStream}
  import java.nio.charset.StandardCharsets.ISO_8859_1

  /** Idle sockets per `scheme://host:port`, most recently used first. */
  private val idle = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentLinkedDeque[Conn]]()

  private def idleFor(key: String) = idle.computeIfAbsent(key, _ => new java.util.concurrent.ConcurrentLinkedDeque[Conn]())

  /** An idle live socket to `target` if the pool has one, else a new one. */
  private def acquire(target: java.net.URI, connectTimeoutMs: Int, keepAliveTimeoutMs: Int): Conn = {
    val https = "https".equalsIgnoreCase(target.getScheme)
    val port = if (target.getPort > 0) target.getPort else if (https) 443 else 80
    val host = target.getHost
    val key = s"${if (https) "https" else "http"}://${host.toLowerCase}:$port"
    val q = idleFor(key)
    val now = System.nanoTime()
    var c = q.pollFirst()
    while (c != null) {
      if (now - c.idleSince <= keepAliveTimeoutMs * 1000000L && c.alive()) return c
      c.close()
      c = q.pollFirst()
    }
    connect(key, host, port, https, connectTimeoutMs)
  }

  /** Pool `c` after a complete exchange it may carry another one of, and
    * close the pool's sockets of the same key idle past the keep-alive.
    */
  private def release(c: Conn, keepAliveTimeoutMs: Int): Unit =
    if (!c.reusable) c.close()
    else {
      val q = idleFor(c.key)
      val now = System.nanoTime()
      c.idleSince = now
      q.offerFirst(c)
      var last = q.peekLast()
      while (last != null && now - last.idleSince > keepAliveTimeoutMs * 1000000L) {
        if (q.removeLastOccurrence(last)) last.close()
        last = q.peekLast()
      }
    }

  private val ChunkSize = 8192
  private val ChunkHead = 6 // "2000\r\n": the hex of ChunkSize plus CRLF
  private val LastChunk = "0\r\n\r\n".getBytes(ISO_8859_1)

  /** One socket to a Warp endpoint, carrying one exchange at a time. */
  private final class Conn(
      val key: String, ch: java.nio.channels.SocketChannel, sock: java.net.Socket) {
    private val out: OutputStream = sock.getOutputStream
    private val in: InputStream = sock.getInputStream
    var idleSince = 0L
    /** False once the exchange leaves the socket unfit for another. */
    var reusable = true

    // request body: one chunk frame assembled in place, the size header
    // right-aligned in the first ChunkHead bytes
    private val frame = new Array[Byte](ChunkHead + ChunkSize + 2 + LastChunk.length)
    private var n = 0
    // response bytes read but not yet parsed
    private val rbuf = new Array[Byte](8192)
    private var rpos = 0
    private var rlim = 0
    private val probe = java.nio.ByteBuffer.allocate(1)

    def setReadTimeout(ms: Int): Unit = sock.setSoTimeout(ms)

    /** True when the peer has neither closed the socket nor sent bytes
      * outside an exchange: one non-blocking read that must find nothing.
      */
    def alive(): Boolean =
      try {
        ch.configureBlocking(false)
        probe.clear()
        val got = ch.read(probe)
        ch.configureBlocking(true)
        got == 0
      } catch { case _: IOException => false }

    /** Request line and headers, then the prelude chunk, in one write. */
    def writeHead(target: java.net.URI, headers: Seq[(String, String)]): Unit = {
      val path = Option(target.getRawPath).filter(_.nonEmpty).getOrElse("/") +
        Option(target.getRawQuery).map("?" + _).getOrElse("")
      val host = target.getHost + (if (target.getPort > 0) s":${target.getPort}" else "")
      val sb = new java.lang.StringBuilder(256)
      sb.append("POST ").append(path).append(" HTTP/1.1\r\nHost: ").append(host).append("\r\n")
      headers.foreach { case (k, v) =>
        // a CR or LF would let a header value inject headers or a request
        if (v.indexOf('\r') >= 0 || v.indexOf('\n') >= 0)
          throw new IllegalArgumentException(s"illegal character in header $k")
        sb.append(k).append(": ").append(v).append("\r\n")
      }
      sb.append("Transfer-Encoding: chunked\r\n\r\n3\r\n#\r\n\r\n")
      out.write(sb.toString.getBytes(ISO_8859_1))
      out.flush()
      n = 0
    }

    def write(b: Array[Byte]): Unit = {
      var off = 0
      while (off < b.length) {
        val k = math.min(b.length - off, ChunkSize - n)
        System.arraycopy(b, off, frame, ChunkHead + n, k)
        n += k; off += k
        if (n == ChunkSize) { val start = frameChunk(); out.write(frame, start, ChunkHead + n + 2 - start); n = 0 }
      }
    }

    /** Frames the `n` buffered bytes as one chunk, which ends at
      * `ChunkHead + n + 2`; returns where it starts.
      */
    private def frameChunk(): Int = {
      val hex = Integer.toHexString(n)
      val start = ChunkHead - hex.length - 2
      var i = 0
      while (i < hex.length) { frame(start + i) = hex.charAt(i).toByte; i += 1 }
      frame(ChunkHead - 2) = '\r'; frame(ChunkHead - 1) = '\n'
      frame(ChunkHead + n) = '\r'; frame(ChunkHead + n + 1) = '\n'
      start
    }

    /** The buffered tail and the terminal chunk, in one write. */
    def endBody(): Unit = {
      val (start, end) = if (n > 0) (frameChunk(), ChunkHead + n + 2) else (ChunkHead, ChunkHead)
      System.arraycopy(LastChunk, 0, frame, end, LastChunk.length)
      out.write(frame, start, end + LastChunk.length - start)
      out.flush()
      n = 0
    }

    /** Status and body of the response; marks the socket unfit for reuse
      * when the server closes it or the body's end is not framed.
      */
    def readResponse(): (Int, String) = {
      val line = readLine()
      val parts = line.split(" ", 3)
      val status = parts.lift(1).flatMap(_.toIntOption).filter(_ => parts(0).startsWith("HTTP/"))
        .getOrElse(throw new IOException(s"malformed status line: $line"))
      val http10 = parts(0) == "HTTP/1.0"
      var headers = Map.empty[String, String]
      var h = readLine()
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        if (i > 0) headers += h.substring(0, i).trim.toLowerCase -> h.substring(i + 1).trim.toLowerCase
        h = readLine()
      }
      if (http10 || headers.get("connection").exists(_.contains("close"))) reusable = false
      val body = new ByteArrayOutputStream()
      // an unreadable body must still surface as a classifiable failure
      // (Unclassified), not a raw IOException
      try {
        if (status == 204 || status == 304) ()
        else if (headers.get("transfer-encoding").exists(_.contains("chunked"))) {
          var size = chunkSize()
          while (size > 0) { readN(size, body); readLine(); size = chunkSize() }
          while (readLine().nonEmpty) () // trailers
        } else headers.get("content-length") match {
          case Some(len) => readN(len.toLong, body)
          case None => reusable = false; readN(Long.MaxValue, body) // ends at EOF
        }
      } catch { case _: IOException | _: NumberFormatException => reusable = false }
      if (rpos != rlim) reusable = false // bytes past the response
      (status, body.toString("UTF-8"))
    }

    private def chunkSize(): Int = {
      val l = readLine(); val semi = l.indexOf(';')
      Integer.parseInt((if (semi >= 0) l.substring(0, semi) else l).trim, 16)
    }

    private def fill(): Boolean = {
      rpos = 0
      rlim = math.max(in.read(rbuf), 0)
      rlim > 0
    }

    private def readLine(): String = {
      val sb = new java.lang.StringBuilder
      while (true) {
        if (rpos == rlim && !fill()) throw new java.io.EOFException("response ended early")
        val c = rbuf(rpos); rpos += 1
        if (c == '\n') {
          val len = sb.length
          return if (len > 0 && sb.charAt(len - 1) == '\r') sb.substring(0, len - 1) else sb.toString
        }
        if (sb.length >= 65536) throw new IOException("response line too long")
        sb.append((c & 0xff).toChar)
      }
      throw new IllegalStateException
    }

    /** Reads `len` bytes into `to`, or to EOF when `len` is Long.MaxValue. */
    private def readN(len: Long, to: ByteArrayOutputStream): Unit = {
      var left = len
      while (left > 0) {
        if (rpos == rlim && !fill()) {
          if (len == Long.MaxValue) return
          throw new java.io.EOFException("response body ended early")
        }
        val k = math.min(left, (rlim - rpos).toLong).toInt
        to.write(rbuf, rpos, k)
        rpos += k; left -= k
      }
    }

    def close(): Unit = try sock.close() catch { case _: IOException => () }
  }

  private def connect(key: String, host: String, port: Int, https: Boolean, connectTimeoutMs: Int): Conn = {
    val ch = java.nio.channels.SocketChannel.open()
    try {
      ch.socket().connect(new java.net.InetSocketAddress(host, port), connectTimeoutMs)
      // the body follows the head in separate writes: Nagle plus the
      // backend's delayed ACK would hold it ~40 ms on a reused socket
      ch.socket().setTcpNoDelay(true)
      val sock =
        if (!https) ch.socket()
        else {
          val factory = javax.net.ssl.SSLSocketFactory.getDefault.asInstanceOf[javax.net.ssl.SSLSocketFactory]
          val ssl = factory.createSocket(ch.socket(), host, port, true).asInstanceOf[javax.net.ssl.SSLSocket]
          val params = ssl.getSSLParameters
          params.setEndpointIdentificationAlgorithm("HTTPS")
          ssl.setSSLParameters(params)
          ssl.setSoTimeout(connectTimeoutMs)
          ssl.startHandshake()
          ssl
        }
      new Conn(key, ch, sock)
    } catch { case e: Throwable => ch.close(); throw e }
  }
}

/** The streaming Warp sink: TokenizedGts → Sensision bytes → one
  * transport PER TOKEN within a partition (the reference opens one Warp
  * client per connection; after the engine repartitions by data, tokens
  * interleave). The backend's error body is classified through the
  * ordered taxonomy (core/warp.go:280-421). A token-level error (invalid,
  * expired, revoked) bans the token for the configured window — the A28
  * lifecycle — and drops only that token's channel: the task succeeds,
  * as the reference drops one connection (catalyser/graphite.go:288-296)
  * while the others keep flowing. Any other error surfaces as a
  * WarpSinkException carrying the mapped HTTP status and fails the task.
  * Structured Streaming retries a failed task, and the reference's
  * one-shot replay buffer (core/warp.go:180,260 — see SURVEY.md §2 gaps:
  * don't copy) is replaced by that idempotent retry over aborted channels.
  */
final class TokenRoutedWarpWriter(
    newTransport: () => WarpTransport,
    bans: BanStore) extends ForeachWriter[TokenizedGts] {

  @transient private var open_ : java.util.HashMap[String, WarpTransport] = _
  @transient private var txnSuffix: String = _

  override def open(partitionId: Long, epochId: Long): Boolean = {
    open_ = new java.util.HashMap[String, WarpTransport]()
    txnSuffix = s"$partitionId-$epochId"
    true
  }

  override def process(r: TokenizedGts): Unit = {
    if (!bans.isBanned(r.token, System.currentTimeMillis())) {
      var t = open_.get(r.token)
      if (t == null) {
        t = newTransport()
        t.open(r.token, s"${r.txn}-$txnSuffix")
        open_.put(r.token, t)
      }
      t.send(Sensision.encode(r.row.toGts))
    }
  }

  override def close(errorOrNull: Throwable): Unit = {
    if (errorOrNull != null) {
      // failed task: abort every channel so no backend commits a
      // partial batch the retried task will re-deliver
      abortAll()
      return
    }
    var firstErr: Option[WarpSinkException] = None
    try {
      // end every body before reading any response: a backend that
      // serves one request at a time may read the bodies in any order
      open_.values().forEach(_.finish())
      open_.forEach { (token, t) =>
        t.close().foreach { body =>
          val cls = TokenBans.recordSinkFailure(bans, body, token, System.currentTimeMillis())
          if (!cls.bansToken && firstErr.isEmpty) firstErr = Some(new WarpSinkException(cls))
        }
      }
    } catch { case e: Throwable => abortAll(); throw e }
    firstErr.foreach(throw _)
  }

  private def abortAll(): Unit =
    open_.values().forEach(t => try t.abort() catch { case _: Throwable => () })
}

final class WarpSinkException(val error: WarpError)
    extends RuntimeException(s"warp sink error ${error.label} (HTTP ${error.httpStatus})")
