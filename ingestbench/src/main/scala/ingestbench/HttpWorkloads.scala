package ingestbench

import graft.core.GraftConfig
import graft.streaming.{BanStore, HttpIngress, HttpWarpTransport}

import java.util.concurrent.atomic.{AtomicInteger, AtomicIntegerArray, AtomicLong}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

/** `http_small` and `http_bulk`: pushes through [[HttpIngress]] to the
  * stub. No SparkSession is created; the program's start is the ingress.
  *
  *  - http_small: 10 points per request, half influx and half Graphite,
  *    over 3 keep-alive connections; latency is measured in an open loop
  *    at a fixed rate, from each request's due time.
  *  - http_bulk: 5,000 lines per request, six requests of each of influx
  *    (two fields per line), remote_write, OpenTSDB and Graphite, over one
  *    connection in a closed loop.
  */
final class HttpWorkload(bulk: Boolean, seed: Long, seconds: Int, trace: Boolean, rep: Report,
    rateOverride: Option[Double] = None) {
  private val conns = if (bulk) 1 else 3
  // http_small open-loop requests per second over all connections: about
  // half the rate at which p99 starts to climb (see README, Calibration)
  private val rate = rateOverride.getOrElse(400.0)
  private val warmPasses = 24
  private val warmupSecs = 3.0 // closed loop before the measured passes, so the JIT settles
  private val Setups = 15

  private val gen = new Payloads(seed, if (bulk) 4096 else 64)
  private val pool: Vector[Payload] = {
    val rnd = new scala.util.Random(seed)
    if (bulk) {
      val ps = Vector.tabulate(24) { i =>
        i % 4 match {
          case 0 => gen.influx(5000)
          case 1 => gen.promRemoteWrite(5000)
          case 2 => gen.opentsdb(5000)
          case _ => gen.graphite(5000, tcp = false)
        }
      }
      rnd.shuffle(ps)
    } else rnd.shuffle(Vector.tabulate(400)(i => if (i % 2 == 0) gen.influx(5) else gen.graphite(10, tcp = false)))
  }
  private val pointsPerPass = pool.map(_.points.toLong).sum
  private val sends = new AtomicIntegerArray(pool.size)
  private val stub = new WarpStub(gen.keySpace, gen.expected.contains)
  private val workers = Executors.newFixedThreadPool(conns, new Named("bench-gen"))

  private val config = GraftConfig(
    warpEndpoint = stub.endpoint, warpEndpointDelete = "http://127.0.0.1:9/",
    connectionTimeoutMs = 300000, dialTimeoutMs = 10000, keepAliveTimeoutMs = 30000,
    bannishmentMs = 3000L, graphiteParse = true, dryRun = false)

  private def newIngress(): HttpIngress = {
    val ep = stub.endpoint
    new HttpIngress(0,
      now => if (Tracer.on) new TimedTransport(ep, now) else new HttpWarpTransport(ep, now),
      new BanStore(60000L), config).start()
  }

  private val statusFailures = new AtomicLong
  private val requestsDone = new AtomicLong

  private def post(c: KeepAliveClient, i: Int): c.Response = {
    val r = c.post(pool(i))
    requestsDone.incrementAndGet()
    if (r.status / 100 == 2) sends.incrementAndGet(i) else statusFailures.incrementAndGet()
    r
  }

  /** Run `body(connIndex, client)` on every connection; wait for all. */
  private def onAll(clients: Vector[KeepAliveClient])(body: (Int, KeepAliveClient) => Unit): Unit = {
    val fs = clients.indices.map(i => workers.submit[Unit](() => body(i, clients(i))))
    fs.foreach(_.get())
  }

  /** One closed-loop pass over the whole pool; returns (wall s, latencies ms). */
  private def pass(clients: Vector[KeepAliveClient]): (Double, Seq[Double]) = {
    val next = new AtomicInteger
    val lat = new ConcurrentLinkedQueue[java.lang.Double]()
    val t0 = System.nanoTime()
    onAll(clients) { (_, c) =>
      var i = next.getAndIncrement()
      while (i < pool.size) {
        val s = System.nanoTime(); post(c, i); lat.add((System.nanoTime() - s) / 1e6)
        i = next.getAndIncrement()
      }
    }
    ((System.nanoTime() - t0) / 1e9, lat.asScala.map(_.doubleValue).toSeq)
  }

  /** Open loop at `rate` for `secs`: latencies from due time (ms), max lateness (ms), requests sent. */
  private def openLoop(clients: Vector[KeepAliveClient], secs: Double): (Seq[Double], Double, Long) = {
    val lat = new ConcurrentLinkedQueue[java.lang.Double]()
    val lateMax = new java.util.concurrent.atomic.AtomicLong
    val sent = new AtomicLong
    val t0 = System.nanoTime() + 2000000L
    val total = (secs * rate).toLong
    onAll(clients) { (ci, c) =>
      var k = ci.toLong
      while (k < total) {
        val due = t0 + (k * 1e9 / rate).toLong
        var now = System.nanoTime()
        while (now < due) {
          val waitNs = due - now
          if (waitNs > 200000L) Thread.sleep((waitNs - 100000L) / 1000000L, ((waitNs - 100000L) % 1000000L).toInt)
          else Thread.onSpinWait()
          now = System.nanoTime()
        }
        lateMax.accumulateAndGet(now - due, math.max)
        post(c, (k % pool.size).toInt)
        lat.add((System.nanoTime() - due) / 1e6)
        sent.incrementAndGet()
        k += conns
      }
    }
    (lat.asScala.map(_.doubleValue).toSeq, lateMax.get / 1e6, sent.get)
  }

  /** Closed-loop passes for `secs`, at least 3; (pass times s, latencies ms). */
  private def closedLoop(clients: Vector[KeepAliveClient], secs: Double): (Seq[Double], Seq[Double]) = {
    val ps = scala.collection.mutable.ArrayBuffer.empty[(Double, Seq[Double])]
    val t0 = System.nanoTime()
    while (ps.size < 3 || (System.nanoTime() - t0) / 1e9 < secs) ps += pass(clients)
    (ps.map(_._1).toSeq, ps.flatMap(_._2).toSeq)
  }

  def run(): Unit = {
    rep.note("workload", if (bulk) "http_bulk" else "http_small")
    rep.note("points_per_pass", pointsPerPass)
    // set-up: construct and start the ingress until it answers a ping
    val setups = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      val ing = newIngress()
      val c = new KeepAliveClient(ing.boundPort, gen.Token)
      val st = c.request("GET", "/influxdb/ping", "text/plain", Array.emptyByteArray).status
      val s = (System.nanoTime() - t0) / 1e9
      c.close()
      if (st != 204) rep.fail(1, s"ping answered $st")
      if (i < Setups) ing.stop()
      (s, ing)
    }
    val ingress = setups.last._2
    rep.put("setup_s", Stats.median(setups.map(_._1)), "s", setups.size)
    rep.put("setup_first_s", setups.head._1, "s")

    val clients = Vector.fill(conns)(new KeepAliveClient(ingress.boundPort, gen.Token))
    val (first, _) = pass(clients)
    rep.put("first_pass_s", first, "s")
    val w0 = System.nanoTime()
    while ((System.nanoTime() - w0) / 1e9 < warmupSecs) pass(clients)
    // http_small: pass time and CPU are read over closed-loop passes, where
    // CPU is steadier than in the lightly loaded open loop; http_bulk reads
    // both in its closed-loop window below
    if (!bulk) {
      val c0 = Cpu.mark()
      val warm = (1 to warmPasses).map(_ => pass(clients))
      val c1 = Cpu.mark()
      rep.put("pass_s", Stats.median(warm.map(_._1)), "s", warm.size)
      rep.put("cpu_us_per_point", Cpu.programNs(c0, c1) / 1e3 / (warm.size * pointsPerPass), "us",
        warm.size * pointsPerPass)
    }

    // the measured window; a traced run measures an untraced and a traced half
    val secs = if (trace) seconds / 2.0 else seconds.toDouble
    val m0 = Cpu.mark()
    val (primary, lat) =
      if (bulk) {
        val (passes, lat) = closedLoop(clients, secs)
        val m1 = Cpu.mark()
        val points = passes.size * pointsPerPass
        rep.put("pass_s", Stats.median(passes), "s", passes.size)
        rep.put("points_per_s", points / ((m1.wallNs - m0.wallNs) / 1e9), "1/s", passes.size)
        rep.put("cpu_us_per_point", Cpu.programNs(m0, m1) / 1e3 / points, "us", points)
        (Stats.median(passes), lat)
      } else {
        val (lat, late, _) = openLoop(clients, secs)
        rep.put("loadgen.late_ms_max", late, "ms", lat.size)
        (Stats.median(lat), lat)
      }
    rep.put("latency_p50_ms", Stats.median(lat), "ms", lat.size)
    if (Stats.supported(lat.size, 0.99)) rep.put("latency_p99_ms", Stats.pct(lat, 0.99), "ms", lat.size)

    if (trace) traced(ingress, clients, secs, primary)

    clients.foreach(_.close())
    check()
    rep.put("HttpIngress.access_log_entries", ingress.accessLog.size.toDouble, "count")
    rep.attempted = requestsDone.get + Setups
    stub.stop(); workers.shutdown(); workers.awaitTermination(5, TimeUnit.SECONDS)
    rep.put("heap_retained_mb", Heap.retainedMb(), "MB")
    ingress.stop()
  }

  private def traced(ingress: HttpIngress, clients: Vector[KeepAliveClient], secs: Double, untraced: Double): Unit = {
    val logBefore = ingress.accessLog.size
    TimedTransport.totals = new TimedTransport.Totals
    Tracer.clear(); Tracer.on = true
    val sentBefore = requestsDone.get
    val tracedPrimary =
      if (bulk) Stats.median(closedLoop(clients, secs)._1)
      else {
        val (lat, late, _) = openLoop(clients, secs)
        rep.put("loadgen.late_ms_max", late, "ms", lat.size)
        Stats.median(lat)
      }
    Tracer.on = false
    rep.put("loadgen.sent", (requestsDone.get - sentBefore).toDouble, "count")
    rep.put("trace.overhead_pct", 100.0 * (tracedPrimary - untraced) / untraced, "%")

    val byName = Tracer.all.groupBy(_.name)
    Layers.warpSink(byName, rep)

    // request span (the access log's latency) minus the transport span,
    // which holds open, body (parse + encode + sends) and close
    val transport = byName.getOrElse("WarpSink.transport", Vector.empty).map(s => s.req -> s).toMap
    val selfMs = ingress.accessLog.drop(logBefore).flatMap { r =>
      transport.get(r.txn).map { t =>
        Tracer.add("HttpIngress.request", t.end - r.latency_ns, t.end, -1, r.txn)
        (r.latency_ns - t.ns) / 1e6
      }
    }
    rep.put("HttpIngress.self_ms_p50", Stats.pctOrZero(selfMs, 0.5), "ms", selfMs.size)
    Layers.parsers(pool, rep)
  }

  /** Every generated point arrived once per accepted send; sampled lines
    * are byte-exact; no line was malformed.
    */
  private def check(): Unit = {
    rep.fail(statusFailures.get, s"${statusFailures.get} non-2xx responses")
    Layers.exactlyOnce(pool, sends.get, gen, stub, rep)
  }
}
