package ingestbench

import graft.streaming.{HttpWarpTransport, WarpTransport}

/** In-memory span store for the traced run. A span has a name, start and
  * end (ns), the index of its parent span (or -1) and the request id it
  * belongs to. Spans are only read when the run ends; a layer's self time
  * is its span's duration minus its children's.
  */
object Tracer {
  final case class Span(name: String, start: Long, end: Long, parent: Int, req: String) {
    def ns: Long = end - start
  }
  @volatile var on = false
  private val spans = new java.util.ArrayList[Span]()

  /** Record a span; returns its index. */
  def add(name: String, start: Long, end: Long, parent: Int, req: String): Int =
    spans.synchronized { spans.add(Span(name, start, end, parent, req)); spans.size - 1 }

  def all: Vector[Span] = spans.synchronized { val b = Vector.newBuilder[Span]; spans.forEach(b += _); b.result() }
  def clear(): Unit = spans.synchronized(spans.clear())
}

/** The program's own `HttpWarpTransport`, timed. Passed to the program as
  * its `newTransport`, so every open, send and close the program makes
  * goes through here. Per request it records the spans
  * `WarpSink.open`, `WarpSink.body` (open end → close start: parse,
  * encode and sends) with its child `WarpSink.send` (the summed send
  * time), and `WarpSink.close`, keyed by the transaction id.
  */
final class TimedTransport(endpoint: String, now: String = "") extends WarpTransport {
  @transient private lazy val inner = new HttpWarpTransport(endpoint, now)
  @transient private var txn = ""
  @transient private var openStart = 0L
  @transient private var openEnd = 0L
  @transient private var sendNs = 0L
  @transient private var sent = 0L
  @transient private var bytes = 0L

  override def open(token: String, txn: String): Unit = {
    this.txn = txn; sendNs = 0L; sent = 0L; bytes = 0L
    openStart = System.nanoTime()
    inner.open(token, txn)
    openEnd = System.nanoTime()
  }

  override def send(line: String): Unit = {
    val t = System.nanoTime()
    inner.send(line)
    sendNs += System.nanoTime() - t
    sent += 1; bytes += line.length
  }

  override def close(): Option[String] = {
    val t = System.nanoTime()
    val r = inner.close()
    val end = System.nanoTime()
    TimedTransport.record(txn, openStart, openEnd, t, end, sendNs, sent, bytes)
    r
  }

  override def abort(): Unit = inner.abort()
}

object TimedTransport {
  /** Transport totals across the traced window. */
  final class Totals {
    val opens = new java.util.concurrent.atomic.AtomicLong
    val points = new java.util.concurrent.atomic.AtomicLong
    val bytes = new java.util.concurrent.atomic.AtomicLong
  }
  @volatile var totals = new Totals

  def record(txn: String, openStart: Long, openEnd: Long, closeStart: Long, closeEnd: Long,
      sendNs: Long, sent: Long, bytes: Long): Unit = if (Tracer.on) {
    totals.opens.incrementAndGet(); totals.points.addAndGet(sent); totals.bytes.addAndGet(bytes)
    val root = Tracer.add("WarpSink.transport", openStart, closeEnd, -1, txn)
    Tracer.add("WarpSink.open", openStart, openEnd, root, txn)
    val body = Tracer.add("WarpSink.body", openEnd, closeStart, root, txn)
    Tracer.add("WarpSink.send", openEnd, openEnd + sendNs, body, txn)
    Tracer.add("WarpSink.close", closeStart, closeEnd, root, txn)
  }
}
