package ingestbench

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream}
import java.net.{InetAddress, Socket}
import java.nio.charset.StandardCharsets.ISO_8859_1

/** A keep-alive HTTP/1.1 client on one socket, with no threads of its own
  * (its CPU is charged to whichever `bench-` thread calls it).
  */
final class KeepAliveClient(port: Int, token: String) {
  private val sock = new Socket(InetAddress.getLoopbackAddress, port)
  sock.setTcpNoDelay(true)
  private val in = new BufferedInputStream(sock.getInputStream, 1 << 14)
  private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)

  /** The response status and the program's `X-App-Txn` transaction id. */
  final case class Response(status: Int, txn: String)

  def post(p: Payload): Response = request("POST", p.path, p.contentType, p.body)

  def request(method: String, path: String, contentType: String, body: Array[Byte]): Response = {
    val head = s"$method $path HTTP/1.1\r\nHost: 127.0.0.1\r\nX-Warp10-Token: $token\r\n" +
      s"Content-Type: $contentType\r\nContent-Length: ${body.length}\r\n\r\n"
    out.write(head.getBytes(ISO_8859_1)); out.write(body); out.flush()
    val status = readLine(in).split(" ")(1).toInt
    var length = 0L; var chunked = false; var txn = ""
    var h = readLine(in)
    while (h.nonEmpty) {
      val c = h.indexOf(':')
      val k = h.substring(0, c).trim.toLowerCase; val v = h.substring(c + 1).trim
      if (k == "content-length") length = v.toLong
      else if (k == "transfer-encoding" && v.toLowerCase.contains("chunked")) chunked = true
      else if (k == "x-app-txn") txn = v
      h = readLine(in)
    }
    if (chunked) {
      var size = Integer.parseInt(readLine(in).trim, 16)
      while (size > 0) { in.skipNBytes(size.toLong); readLine(in); size = Integer.parseInt(readLine(in).trim, 16) }
      readLine(in)
    } else in.skipNBytes(length)
    Response(status, txn)
  }

  def close(): Unit = sock.close()

  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    if (c < 0) throw new java.io.EOFException("connection closed")
    while (c >= 0 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
    sb.toString
  }
}
