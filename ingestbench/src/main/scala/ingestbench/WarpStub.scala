package ingestbench

import java.io.{BufferedInputStream, InputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong, AtomicLongArray}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

/** In-process Warp 10 stand-in: accepts the program's streaming POSTs
  * (chunked or sized), reads every Sensision line and counts it under
  * its point key, so the run can check that each generated point arrived
  * exactly once. Lines of sampled keys are kept for a byte-exact check.
  *
  * With `groupSize > 0`, keys are grouped by `id / groupSize` (one group
  * per generator connection) and the arrival time of each group's last
  * point is recorded.
  */
final class WarpStub(keySpace: Int, sampled: Int => Boolean, groupSize: Int = 0) {
  val counts = new AtomicIntegerArray(keySpace)
  val malformed = new AtomicLong
  val mismatched = new AtomicLong
  val samples = new ConcurrentHashMap[Int, String]()
  private val groups = if (groupSize > 0) keySpace / 2 / groupSize + 1 else 0
  private val groupCount = new AtomicIntegerArray(math.max(groups, 1))
  val groupDoneNs = new AtomicLongArray(math.max(groups, 1))

  private val server = new ServerSocket(0, 256, InetAddress.getLoopbackAddress)
  private val pool = Executors.newFixedThreadPool(WarpStub.Workers, new Named("bench-stub"))
  pool.asInstanceOf[java.util.concurrent.ThreadPoolExecutor].prestartAllCoreThreads()
  private val acceptor = new Named("bench-stub-accept").newThread(() => {
    try while (!server.isClosed) {
      val s = server.accept()
      pool.execute(() => serve(s))
    } catch { case _: java.io.IOException => () }
  })
  acceptor.start()

  def endpoint: String = s"http://127.0.0.1:${server.getLocalPort}/api/v0/update"

  def stop(): Unit = {
    server.close(); pool.shutdownNow(); pool.awaitTermination(5, TimeUnit.SECONDS); acceptor.join(5000)
  }

  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    if (c < 0) return null
    while (c >= 0 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
    sb.toString
  }

  private def serve(sock: Socket): Unit = {
    try {
      val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
      val out = sock.getOutputStream
      var req = readLine(in)
      while (req != null && req.nonEmpty) {
        var chunked = false; var length = 0L
        var h = readLine(in)
        while (h != null && h.nonEmpty) {
          val lower = h.toLowerCase
          if (lower.startsWith("transfer-encoding:") && lower.contains("chunked")) chunked = true
          else if (lower.startsWith("content-length:")) length = lower.substring(15).trim.toLong
          h = readLine(in)
        }
        val body = new LineSplitter
        if (chunked) {
          var size = Integer.parseInt(readLine(in).trim.split(";")(0), 16)
          while (size > 0) {
            body.feed(in, size)
            readLine(in)
            size = Integer.parseInt(readLine(in).trim.split(";")(0), 16)
          }
          var trailer = readLine(in)
          while (trailer != null && trailer.nonEmpty) trailer = readLine(in)
        } else if (length > 0) body.feed(in, length.toInt)
        body.finish()
        out.write("HTTP/1.1 200 OK\r\nContent-Length: 0\r\n\r\n".getBytes(ISO_8859_1))
        out.flush()
        req = readLine(in)
      }
    } catch {
      case _: java.io.IOException => ()
    } finally sock.close()
  }

  /** Splits a body into CRLF lines without copying it whole. */
  private final class LineSplitter {
    private var buf = new Array[Byte](256)
    private var len = 0
    private val chunk = new Array[Byte](1 << 16)
    def feed(in: InputStream, n: Int): Unit = {
      var left = n
      while (left > 0) {
        val got = in.read(chunk, 0, math.min(left, chunk.length))
        if (got < 0) throw new java.io.EOFException
        var k = 0
        while (k < got) {
          val c = chunk(k)
          if (c == '\n') { line(); len = 0 }
          else {
            if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
            buf(len) = c; len += 1
          }
          k += 1
        }
        left -= got
      }
    }
    def finish(): Unit = if (len > 0) { line(); len = 0 }
    private def line(): Unit = {
      val n = if (len > 0 && buf(len - 1) == '\r') len - 1 else len
      if (n == 0 || (n == 1 && buf(0) == '#')) return
      val key = keyOf(buf, n)
      if (key < 0 || key >= keySpace) { malformed.incrementAndGet(); return }
      counts.incrementAndGet(key)
      if (sampled(key)) {
        val s = new String(buf, 0, len, UTF_8) + (if (n == len) "" else "\n")
        val prev = samples.putIfAbsent(key, s)
        if (prev != null && prev != s) mismatched.incrementAndGet()
      }
      if (groupSize > 0) {
        val g = (key / 2) / groupSize
        if (groupCount.incrementAndGet(g) == groupSize) groupDoneNs.set(g, System.nanoTime())
      }
    }
  }

  /** `2 * id + (name ends in ".b" ? 1 : 0)` of `TS// name{...,id=N,...} v`. */
  private def keyOf(b: Array[Byte], n: Int): Int = {
    var i = 0
    while (i + 2 < n && !(b(i) == '/' && b(i + 1) == '/' && b(i + 2) == ' ')) i += 1
    var brace = i + 3
    while (brace < n && b(brace) != '{') brace += 1
    if (brace >= n) return -1
    val second = if (brace >= 2 && b(brace - 2) == '.' && b(brace - 1) == 'b') 1 else 0
    var j = brace
    while (j + 3 < n && !((b(j) == '{' || b(j) == ',') && b(j + 1) == 'i' && b(j + 2) == 'd' && b(j + 3) == '=')) j += 1
    if (j + 3 >= n) return -1
    j += 4
    var id = 0L
    var digits = 0
    while (j < n && b(j) >= '0' && b(j) <= '9' && digits < 10) { id = id * 10 + (b(j) - '0'); j += 1; digits += 1 }
    if (digits == 0 || id > Int.MaxValue / 2) -1 else (2 * id + second).toInt
  }
}

object WarpStub {
  /** Connection threads: enough for every sender the workloads start. */
  val Workers = 6
}
