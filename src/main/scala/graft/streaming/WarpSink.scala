package graft.streaming

import graft.core.{Sensision, WarpError}
import org.apache.spark.sql.ForeachWriter

/** Transport abstraction under the Warp sink — the reference's streaming
  * HTTP POST (core/warp.go:116-277) behind an interface so tests inject an
  * in-memory or local-HTTP implementation. One transport instance per
  * partition per epoch (the task-level analog of the per-request sender
  * goroutine, core/warp.go:183).
  */
trait WarpTransport extends Serializable {
  /** Open a delivery channel; mirrors NewWarp(token, txn, now). */
  def open(token: String, txn: String): Unit
  /** Deliver one Sensision line; mirrors Warp.Send. */
  def send(line: String): Unit
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

/** HTTP transport: streaming POST to `endpoint` with the reference's
  * headers (X-Warp10-Token, X-Warp10-Now, Txn — core/warp.go:219-230) and
  * the `#\r\n` keep-alive prelude that forces header flush
  * (core/warp.go:240-243). Chunked streaming so no payload buffering.
  */
final class HttpWarpTransport(
    endpoint: String,
    nowHeader: String = "",
    connectTimeoutMs: Int = 10000,  // reference dial timeout, cmd/root.go:51
    readTimeoutMs: Int = 300000)    // reference request timeout, cmd/root.go:48
    extends WarpTransport {
  @transient private var conn: java.net.HttpURLConnection = _
  @transient private var out: java.io.OutputStream = _

  override def open(token: String, txn: String): Unit = {
    conn = new java.net.URI(endpoint).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(connectTimeoutMs)
    conn.setReadTimeout(readTimeoutMs)
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setChunkedStreamingMode(0)
    conn.setRequestProperty("X-Warp10-Token", token)
    if (nowHeader.nonEmpty) conn.setRequestProperty("X-Warp10-Now", nowHeader)
    conn.setRequestProperty("Txn", txn)
    out = conn.getOutputStream
    out.write("#\r\n".getBytes("UTF-8")) // header-flush prelude
    out.flush()
  }

  override def send(line: String): Unit = out.write(line.getBytes("UTF-8"))

  override def abort(): Unit = {
    // disconnect severs the socket with NO terminal chunk: the server
    // side sees a truncated chunked body and must discard the request
    if (conn != null) conn.disconnect()
    conn = null; out = null
  }

  override def close(): Option[String] = {
    if (conn == null) return None // open() never succeeded
    if (out != null) out.close()
    val code = conn.getResponseCode
    val result =
      if (code >= 200 && code < 300) None
      else {
        // getErrorStream can be null AND getInputStream throws IOException
        // for error statuses — an unreadable body must still surface as a
        // classifiable failure (Unclassified), not a raw IOException.
        val body =
          try {
            val es = Option(conn.getErrorStream).getOrElse(conn.getInputStream)
            val b = new String(es.readAllBytes(), "UTF-8")
            es.close()
            b
          } catch { case _: java.io.IOException => "" }
        Some(body)
      }
    conn.disconnect()
    result
  }
}

/** The streaming Warp sink: TokenizedGts → Sensision bytes → one
  * transport PER TOKEN within a partition (the reference opens one Warp
  * client per connection; after the engine repartitions by data, tokens
  * interleave). The backend's error body is classified through the
  * ordered taxonomy (core/warp.go:280-421) and surfaces as a
  * WarpSinkException carrying the mapped HTTP status; the failure also
  * feeds the ban store, so a backend `invalid token` answer bans the
  * token for the configured window — the A28 lifecycle. Structured
  * Streaming retries a failed task, and the reference's one-shot replay
  * buffer (core/warp.go:180,260 — see SURVEY.md §2 gaps: don't copy) is
  * replaced by that idempotent retry over aborted channels.
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
    val it = open_.entrySet().iterator()
    if (errorOrNull != null) {
      // failed task: abort every channel so no backend commits a
      // partial batch the retried task will re-deliver
      while (it.hasNext) { val e = it.next(); try e.getValue.abort() catch { case _: Throwable => () } }
      return
    }
    var firstErr: Option[WarpSinkException] = None
    while (it.hasNext) {
      val e = it.next()
      e.getValue.close().foreach { body =>
        val cls = TokenBans.recordSinkFailure(
          bans, body, e.getKey, System.currentTimeMillis())
        if (firstErr.isEmpty) firstErr = Some(new WarpSinkException(cls))
      }
    }
    firstErr.foreach(throw _)
  }
}

final class WarpSinkException(val error: WarpError)
    extends RuntimeException(s"warp sink error ${error.label} (HTTP ${error.httpStatus})")
