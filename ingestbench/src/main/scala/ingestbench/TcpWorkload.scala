package ingestbench

import graft.streaming.{BanStore, HttpWarpTransport, IngestServer, TcpSpooler, WarpTransport}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import java.net.{InetAddress, Socket}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** `tcp_stream`: Graphite lines over TCP into [[TcpSpooler]]; each
  * connection becomes one spool file that the [[IngestServer]] streaming
  * query parses and delivers through `TokenRoutedWarpWriter` to the stub.
  * Connections open at a fixed rate; freshness is one sample per
  * connection, from its due time to the stub's receipt of its last point.
  */
final class TcpWorkload(seed: Long, seconds: Int, trace: Boolean, rep: Report, work: Path,
    rateOverride: Option[Double] = None) {
  private val linesPerConn = 1000
  // lines per second: a third of capacity, not half. At half, a slower
  // host pushed the stream past capacity (see README, Calibration).
  private val rate = rateOverride.getOrElse(30000.0)
  private val burst = 4 // connections in one closed-loop pass
  private val warmPasses = 15
  private val warmupSecs = 3.0 // open loop before the measured passes, so the JIT settles

  private val windowSecs = if (trace) seconds / 2.0 else seconds.toDouble
  private val windowConns = math.round(windowSecs * rate / linesPerConn).toInt
  private val warmupConns = math.round(warmupSecs * rate / linesPerConn).toInt
  // a traced run measures an untraced half window, then a traced full one
  private val tracedConns = if (trace) math.round(seconds * rate / linesPerConn).toInt else 0
  private val totalConns = burst * (1 + warmPasses) + warmupConns + windowConns + tracedConns
  private val gen = new Payloads(seed, 1024)
  private val conns: Array[Payload] = Array.fill(totalConns)(gen.graphite(linesPerConn, tcp = true))
  private val stub = new WarpStub(gen.keySpace, gen.expected.contains, groupSize = linesPerConn)
  private var nextConn = 0
  private val sender = java.util.concurrent.Executors.newSingleThreadExecutor(new Named("bench-gen"))

  private final class Pipeline(val spark: SparkSession, val spooler: TcpSpooler, val query: StreamingQuery) {
    def stop(): Unit = { query.stop(); spooler.stop(); Sessions.stop(spark) }
  }

  private def start(n: Int): Pipeline = {
    val dir = work.resolve(s"tcp/$n")
    DataGen.deleteTree(dir)
    val spool = Files.createDirectories(dir.resolve("spool"))
    val spark = Sessions.streaming(work)
    val spooler = new TcpSpooler(0, spool).start()
    val q = IngestServer.start(spark, spool, dir.resolve("checkpoint"),
      TcpWorkload.transports(stub.endpoint), new BanStore(60000L))
    new Pipeline(spark, spooler, q)
  }

  private def send(port: Int, k: Int): Unit = {
    val s = new Socket(InetAddress.getLoopbackAddress, port)
    try { s.getOutputStream.write(conns(k).body); s.shutdownOutput() } finally s.close()
  }

  private def waitDone(ks: Range, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (ks.exists(k => stub.groupDoneNs.get(k) == 0L) && System.nanoTime() < deadline) Thread.sleep(1)
    ks.forall(k => stub.groupDoneNs.get(k) != 0L)
  }

  private def onSender[T](body: => T): T = sender.submit[T](() => body).get()

  /** A closed-loop pass: `burst` connections at once, until all delivered. */
  private def pass(port: Int): Double = {
    val ks = nextConn until nextConn + burst
    nextConn += burst
    val t0 = System.nanoTime()
    onSender(ks.foreach(k => send(port, k)))
    if (!waitDone(ks, 60)) rep.fail(1, "a burst was not delivered within 60 s")
    (ks.map(stub.groupDoneNs.get).max - t0) / 1e9
  }

  /** Open loop over the next `windowConns` connections; returns the
    * freshness samples (ms), max lateness (ms) and the CPU marks.
    */
  private def openLoop(port: Int, n: Int = windowConns): (Seq[Double], Double, Cpu.Mark, Cpu.Mark) = {
    val ks = nextConn until nextConn + n
    nextConn += n
    val due = new Array[Long](ks.size)
    val m0 = Cpu.mark()
    val t0 = System.nanoTime() + 2000000L
    val late = onSender {
      var worst = 0L
      ks.indices.foreach { i =>
        due(i) = t0 + (i * linesPerConn * 1e9 / rate).toLong
        var now = System.nanoTime()
        while (now < due(i)) { Thread.sleep(math.max(0L, (due(i) - now) / 1000000L)); now = System.nanoTime() }
        worst = math.max(worst, now - due(i))
        send(port, ks(i))
      }
      worst
    }
    if (!waitDone(ks, 60)) rep.fail(1, "open-loop connections not delivered within 60 s")
    val m1 = Cpu.mark()
    val fresh = ks.indices.flatMap { i =>
      val d = stub.groupDoneNs.get(ks(i)); if (d == 0L) None else Some((d - due(i)) / 1e6)
    }
    (fresh, late / 1e6, m0, m1)
  }

  def run(): Unit = {
    rep.note("workload", "tcp_stream")
    val setups = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      val p = start(i)
      val d = (System.nanoTime() - t0) / 1e9
      if (i < 3) p.stop()
      (d, p)
    }
    val p = setups.last._2
    rep.put("setup_s", Stats.median(setups.map(_._1)), "s", setups.size)
    rep.put("setup_first_s", setups.head._1, "s")
    val port = p.spooler.boundPort

    rep.put("first_pass_s", pass(port), "s")
    openLoop(port, warmupConns)
    val warm = (1 to warmPasses).map(_ => pass(port))
    rep.put("pass_s", Stats.median(warm), "s", warm.size)

    val (fresh, late, m0, m1) = openLoop(port)
    rep.put("latency_p50_ms", Stats.median(fresh), "ms", fresh.size)
    val points = windowConns.toLong * linesPerConn
    rep.put("cpu_us_per_point", Cpu.programNs(m0, m1) / 1e3 / points, "us", points)
    rep.put("loadgen.late_ms_max", late, "ms", fresh.size)

    if (trace) traced(p, port, Stats.median(fresh))

    check()
    rep.attempted = nextConn.toLong
    p.stop()
    stub.stop(); sender.shutdown()
    rep.put("heap_retained_mb", Heap.retainedMb(), "MB")
  }

  private def traced(p: Pipeline, port: Int, untraced: Double): Unit = {
    val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e)
    }
    p.spark.streams.addListener(listener)
    val probe = SparkProbe.attach(p.spark)
    SparkProbe.drain(p.spark)
    TimedTransport.totals = new TimedTransport.Totals
    Tracer.clear(); Tracer.on = true
    val filesBefore = p.spooler.reqOk.get
    val a = probe.snap(); val fromMs = System.currentTimeMillis()
    val (fresh, late, _, _) = openLoop(port, tracedConns)
    val toMs = System.currentTimeMillis()
    Tracer.on = false
    SparkProbe.drain(p.spark)
    probe.report(a, probe.snap(), fromMs, toMs, rep)
    p.spark.sparkContext.removeSparkListener(probe)
    p.spark.streams.removeListener(listener)

    rep.put("trace.overhead_pct", 100.0 * (Stats.median(fresh) - untraced) / untraced, "%")
    rep.put("loadgen.late_ms_max", late, "ms", fresh.size)
    rep.put("loadgen.sent", tracedConns.toDouble, "count")
    rep.put("IngestServer.fresh_ms_p90", Stats.pctOrZero(fresh, 0.9), "ms", fresh.size)
    rep.put("IngestServer.spool_files", (p.spooler.reqOk.get - filesBefore).toDouble, "count")
    val batches = progress.asScala.map(_.progress)
      .filter(b => java.time.Instant.parse(b.timestamp).toEpochMilli >= fromMs && b.numInputRows > 0).toSeq
    def dur(k: String) = batches.map(b => Option(b.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    rep.put("IngestServer.batches", batches.size.toDouble, "count")
    rep.put("IngestServer.rows_per_batch_p50", Stats.pctOrZero(batches.map(_.numInputRows.toDouble), 0.5), "count", batches.size)
    rep.put("IngestServer.busy_ratio", dur("triggerExecution").sum / math.max(1L, toMs - fromMs), "1", batches.size)
    // mean per batch with data
    Seq("addBatch", "latestOffset", "getBatch", "walCommit", "queryPlanning").foreach { k =>
      rep.put(s"IngestServer.${k}_ms", dur(k).sum / math.max(1, batches.size), "ms", batches.size)
    }
    Layers.warpSink(Tracer.all.groupBy(_.name), rep)
    Layers.parsers(conns.take(50).toSeq, rep, tcp = true)
  }

  /** Each sent connection's points arrived exactly once; nothing else did. */
  private def check(): Unit =
    Layers.exactlyOnce(conns.toIndexedSeq, k => if (k < nextConn) 1 else 0, gen, stub, rep)
}

object TcpWorkload {
  /** The program's transport, timed while tracing is on. Serializable:
    * the streaming sink ships it to its tasks.
    */
  def transports(endpoint: String): () => WarpTransport =
    () => if (Tracer.on) new TimedTransport(endpoint) else new HttpWarpTransport(endpoint)
}
