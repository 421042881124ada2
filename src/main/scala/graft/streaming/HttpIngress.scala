package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.core.{GraftConfig, Gts, ReverseProxy, Sensision, TokenExtract, Txn, WarpError}
import graft.parsers.{GraphiteParser, InfluxLineParser, OpenTsdbParser, PromParser, PromProtoParser, PrompbParser}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.zip.GZIPInputStream

/** The 12-field per-request access-log record (middlewares/logger.go:79-92)
  * — the A34 surface. Latency stays in exact nanoseconds (the reference
  * logs `duration.String()` of the same value); `date_ms` is the stop
  * instant in epoch ms UTC.
  */
final case class AccessLogRecord(
    remote: String,
    host: String,
    uri: String,
    method: String,
    path: String,
    referer: String,
    user_agent: String,
    status: Int,
    latency_ns: Long,
    date_ms: Long,
    txn: String,
    datapoints: Long)

/** The live HTTP ingress facade — the reference's full route table
  * (cmd/root.go:116-145: legacy + prefixed paths, per-protocol method
  * allowlists), middleware stack (CORS cmd/root.go:104-110; logger/txn
  * middlewares/logger.go:51-92; bannishment middlewares/auth.go:30-54)
  * and per-protocol handler contract (core/handler.go:113-208) served on
  * a real local HTTP listener, driving the SAME parsers, Sensision
  * encoder, error taxonomy, ban store and WarpTransport the engine's
  * distributed paths use — the protocol semantics cannot drift between
  * the edge and the cluster because they are one implementation.
  *
  * Spark-first split (identical to [[TcpSpooler]]'s): the facade is the
  * thin synchronous network edge the reference is; everything that must
  * scale with data volume (parse law, value inference, encoding, error
  * classes) is the shared library code that also runs inside Spark jobs.
  * The access log is surfaced as a DataFrame ([[accessLogDf]]) so the
  * observability pipeline is a query, not a grep.
  *
  * `newTransport` receives the request's `X-Warp10-Now` header value
  * (NewWarp's third argument, core/handler.go:170).
  */
final class HttpIngress(
    port: Int,
    newTransport: String => WarpTransport,
    bans: BanStore,
    config: GraftConfig = GraftConfig.load(),
    banSleepMs: Long = 0L) { // the reference tarpits bannishment.duration ms; tests pass 0

  // observability counters (middlewares/logger.go:14-48 as plain atomics)
  val reqCount = new AtomicLong
  val errCount = new AtomicLong
  private val accessLogQ = new ConcurrentLinkedQueue[AccessLogRecord]()
  // one shared copy of each repeated access-log value (client address,
  // host, method, path, ...), so a retained record holds little of its own
  private val logValues = new ConcurrentHashMap[String, String]()

  private def canonical(v: String): String = {
    val c = logValues.get(v)
    if (c != null) c
    else if (logValues.size >= HttpIngress.LogValuesCap) v
    else { val prev = logValues.putIfAbsent(v, v); if (prev == null) v else prev }
  }

  def accessLog: Seq[AccessLogRecord] = {
    val it = accessLogQ.iterator(); val b = Seq.newBuilder[AccessLogRecord]
    while (it.hasNext) b += it.next()
    b.result()
  }

  /** A34 as a query surface: the access log is data. */
  def accessLogDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    accessLog.toDF()
  }

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  private val pool = Executors.newCachedThreadPool()
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))

  def boundPort: Int = server.getAddress.getPort
  def start(): this.type = { server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdown() }

  // ---- route table (cmd/root.go:116-145) ----

  private val MethodsByProtocol: Map[String, Set[String]] = Map(
    "opentsdb" -> Set("POST"),
    "prometheus" -> Set("POST", "PUT"),
    "prometheus_remote_write" -> Set("POST", "PUT"),
    "influxdb" -> Set("POST"),
    "graphite" -> Set("POST"),
    "warp" -> Set("POST"))

  private sealed trait Route
  private case class Protocol(name: String) extends Route
  private case object Ping extends Route
  private case class Proxy(cfg: ReverseProxy.ReverseConfig, wildcard: String) extends Route
  private case object NotFound extends Route

  /** Echo-style longest-prefix resolution of the reference's table:
    * legacy exact paths AND the per-protocol subtrees share handlers;
    * the remote_write prefix beats the prometheus subtree; the influx
    * write/ping prefixes beat the legacy influx path; the warp update
    * prefix is ingest while delete/any are reverse proxies.
    */
  private def resolve(path: String): Route = {
    def under(p: String, prefix: String) = p == prefix || p.startsWith(prefix + "/")
    if (under(path, "/opentsdb")) Protocol("opentsdb")
    else if (path.startsWith("/prometheus/remote_write")) Protocol("prometheus_remote_write")
    else if (under(path, "/prometheus")) Protocol("prometheus")
    else if (path.startsWith("/influxdb/write")) Protocol("influxdb")
    else if (path.startsWith("/influxdb/ping")) Ping
    else if (path == "/influxdb") Protocol("influxdb")
    else if (path == "/graphite/api/v1/sink") Protocol("graphite")
    else if (path.startsWith("/warp/api/v0/update")) Protocol("warp")
    else if (path == "/warp") Protocol("warp")
    else ReverseProxy.route(path, config.warpEndpoint.stripSuffix("/api/v0/update"),
        config.warpEndpointDelete) match {
      case Some((cfg, wild)) => Proxy(cfg, wild)
      case None => NotFound
    }
  }

  // ---- middleware chain ----

  private def handle(ex: HttpExchange): Unit = {
    val startNs = System.nanoTime()
    reqCount.incrementAndGet()
    def header(k: String): Option[String] =
      Option(ex.getRequestHeaders.getFirst(k)).filter(_.nonEmpty)

    // CORS (cmd/root.go:104-110): star origin on every response,
    // preflight answered at the edge
    val resp = ex.getResponseHeaders
    resp.set("Access-Control-Allow-Origin", "*")
    if (ex.getRequestMethod == "OPTIONS") {
      resp.set("Access-Control-Allow-Methods", "GET,PUT,POST,DELETE")
      resp.set("Access-Control-Allow-Headers",
        "Origin,Authorization,Content-Type,X-Warp10-Token")
      ex.sendResponseHeaders(204, -1); ex.close(); return
    }

    // logger middleware start (logger.go:56-65): txn = sha256 of
    // XFF + lowercase-hex start nanos, echoed as X-App-Txn
    val txn = Txn.id(header("X-Forwarded-For").getOrElse("") + java.lang.Long.toHexString(startNs))
    resp.set("X-App-Txn", txn)

    val uri = ex.getRequestURI
    val path = Option(uri.getPath).filter(_.nonEmpty).getOrElse("/")
    val body = ex.getRequestBody.readAllBytes()
    val query = parseQuery(Option(uri.getRawQuery).getOrElse(""))

    var status = 200
    var datapoints = 0L
    var respBody: Array[Byte] = Array.empty

    def finish(code: Int, bodyStr: String = ""): Unit = {
      status = code
      respBody = bodyStr.getBytes(StandardCharsets.UTF_8)
    }

    try {
      // bannishment middleware (auth.go:30-54): token extraction error →
      // 401; banned token → tarpit then 401. Applies to EVERY route.
      val formP =
        if (header("Content-Type").exists(_.startsWith("application/x-www-form-urlencoded")))
          parseQuery(new String(body, StandardCharsets.UTF_8)).get("p")
        else None
      val tokenE = TokenExtract.fromRequest(
        header("X-Warp10-Token"), header("X-Metrics-Token"), header("X-Cityzen-Token"),
        header("Authorization"), query.get("p"), formP)
      tokenE match {
        case Left(_) => finish(401)
        case Right(token) if bans.isBanned(token, System.currentTimeMillis()) =>
          if (banSleepMs > 0) Thread.sleep(banSleepMs)
          finish(401)
        case Right(token) =>
          resolve(path) match {
            case NotFound => finish(404)
            case Ping =>
              // A33 (catalyser/influxdb.go:17-18,53-57): the supported
              // protocol version and the request's txn echoed back
              resp.set("X-Influxdb-Version", "1.4.x")
              resp.set("Request-Id", txn)
              finish(204)
            case Proxy(cfg, wild) =>
              val headers = {
                val b = Seq.newBuilder[(String, String)]
                ex.getRequestHeaders.forEach((k, vs) => vs.forEach(v => b += (k -> v)))
                b.result()
              }
              val raw = path + Option(uri.getRawQuery).map("?" + _).getOrElse("")
              val r = ReverseProxy.forward(cfg,
                ReverseProxy.ProxyRequest(ex.getRequestMethod, raw, wild, headers, body))
              r.headers.foreach { case (k, v) => resp.set(k, v) }
              if (r.contentType.nonEmpty) resp.set("Content-Type", r.contentType)
              status = r.status; respBody = r.body
            case Protocol(proto) =>
              if (!MethodsByProtocol(proto).contains(ex.getRequestMethod)) finish(405)
              else handleProtocol(proto, path, query, header, body, token, txn, finish,
                n => datapoints = n)
          }
      }
    } catch {
      case e: Throwable => finish(502, Option(e.getMessage).getOrElse(""))
    }

    val lenHint = if (respBody.isEmpty) -1L else respBody.length.toLong
    try {
      ex.sendResponseHeaders(status, lenHint)
      if (respBody.nonEmpty) ex.getResponseBody.write(respBody)
    } catch { case _: Throwable => () }
    ex.close()

    // logger middleware stop (logger.go:71-104)
    val stopNs = System.nanoTime()
    if (status >= 300) errCount.incrementAndGet()
    accessLogQ.add(AccessLogRecord(
      remote = canonical(header("X-Forwarded-For")
        .getOrElse(ex.getRemoteAddress.getAddress.getHostAddress)),
      host = canonical(header("Host").getOrElse("")),
      uri = canonical(path + Option(uri.getRawQuery).map("?" + _).getOrElse("")),
      method = canonical(ex.getRequestMethod),
      path = canonical(path),
      referer = canonical(header("Referer").getOrElse("")),
      user_agent = canonical(header("User-Agent").getOrElse("")),
      status = status,
      latency_ns = stopNs - startNs,
      date_ms = System.currentTimeMillis(),
      txn = txn,
      datapoints = datapoints)): Unit
  }

  // ---- per-protocol handlers (core/handler.go:113-208 contract) ----

  private def handleProtocol(
      proto: String,
      path: String,
      query: Map[String, String],
      header: String => Option[String],
      rawBody: Array[Byte],
      token: String,
      txn: String,
      finish: (Int, String) => Unit,
      setDatapoints: Long => Unit): Unit = {

    // gzip decode (handler.go:152-163)
    val bodyE: Either[Unit, Array[Byte]] =
      if (header("Content-Encoding").exists(_.contains("gzip")))
        try Right(new GZIPInputStream(new java.io.ByteArrayInputStream(rawBody)).readAllBytes())
        catch { case _: java.io.IOException => Left(()) }
      else Right(rawBody)
    bodyE match {
      case Left(()) => finish(422, "Fail to decode gzip")
      case Right(bytes) =>
        if (config.dryRun) { // handler.go:165-170
          print(new String(bytes, StandardCharsets.UTF_8))
          finish(200, "")
        } else {
          val transport =
            try {
              val t = newTransport(header("X-Warp10-Now").getOrElse(""))
              t.open(token, txn)
              t
            } catch { case _: Throwable => finish(502, ""); return }
          var dps = 0L
          def send(g: Gts): Unit = { transport.send(Sensision.encode(g)); dps += 1 }
          // (code, msg) of the protocol body parse; None = protocol success
          val parseErr: Option[(Int, String)] = try proto match {
            case "graphite" => graphiteBody(bytes, send)
            case "influxdb" => influxBody(bytes, query, send)
            case "opentsdb" => opentsdbBody(bytes, send)
            case "prometheus" => promBody(bytes, path, header("Content-Type"), send)
            case "prometheus_remote_write" => remoteWriteBody(bytes, send)
            case _ => warpBody(bytes, transport, n => dps += n)
          } catch { case e: Throwable => transport.abort(); throw e } // never leave the POST open
          setDatapoints(dps)
          // the reference ALWAYS Closes the warp channel, even after a
          // handler error (handler.go:173-199) — whatever was already
          // sent commits, and the close body's classification (which can
          // ban the token) wins the status
          val closeErr = transport.close().map { b =>
            val cls = TokenBans.recordSinkFailure(bans, b, token, System.currentTimeMillis())
            (cls.httpStatus, closeMsg(cls))
          }
          closeErr.orElse(parseErr) match {
            case Some((code, msg)) => finish(code, msg)
            case None => finish(successCode(proto), "")
          }
        }
    }
  }

  /** Per-protocol success statuses: graphite.go:35 Accepted,
    * influxdb.go:49 / opentsdb.go:104 NoContent, prometheus.go:116
    * Accepted, remote_write.go:50 / warp.go:48 OK.
    */
  private def successCode(proto: String): Int = proto match {
    case "graphite" | "prometheus" => 202
    case "influxdb" | "opentsdb" => 204
    case _ => 200
  }

  /** handleErr's message shapes for close-path errors: token errors
    * answer an empty 401 body (handler.go:214-248); everything else
    * echoes the error text.
    */
  private def closeMsg(e: WarpError): String = e match {
    case _: WarpError.InvalidToken | _: WarpError.ExpiredToken |
         _: WarpError.RevokedToken => ""
    case WarpError.Unclassified(body) => body
    case other => other.label
  }

  /** graphite HTTP (catalyser/graphite.go:22-70): per-line parse with the
    * configured hierarchy mode, FIRST bad line aborts the request with
    * 422 (unlike the TCP edge's per-line skip — the A6 divergence the
    * `graphite_failfast` query pins). bufio ReadLine semantics: a final
    * unterminated line is parsed; a trailing newline is not an empty line.
    */
  private def graphiteBody(bytes: Array[Byte], send: Gts => Unit): Option[(Int, String)] = {
    val text = new String(bytes, StandardCharsets.UTF_8)
    val lines = {
      val ls = text.split("\n", -1)
      if (ls.nonEmpty && ls.last.isEmpty) ls.dropRight(1) else ls
    }
    val nowMs = System.currentTimeMillis()
    var i = 0
    while (i < lines.length) {
      val line = lines(i).trim
      GraphiteParser.parseLine(line, config.graphiteParse, nowMs) match {
        case Right(g) => send(g)
        case Left(_) =>
          return Some((422, s"Failed to parse datapoint\n$line"))
      }
      i += 1
    }
    None
  }

  /** influx (catalyser/influxdb.go:23-50): precision query param
    * (default "n"), all-or-nothing payload; the 400 body reproduces the
    * reference's LITERAL `{"error":"…"` format — including its missing
    * closing brace (influxdb.go→handler.go:352: `"{\"error\":\"%s\""`),
    * a wire quirk clients may already depend on.
    */
  private def influxBody(
      bytes: Array[Byte], query: Map[String, String], send: Gts => Unit): Option[(Int, String)] = {
    val precision = query.get("precision").filter(_.nonEmpty).getOrElse("n")
    InfluxLineParser.parsePayload(new String(bytes, StandardCharsets.UTF_8),
        precision, System.currentTimeMillis() * 1000000L) match {
      case Right(gts) => gts.foreach(send); None
      case Left(err) => Some((400, s"""{"error":"$err""""))
    }
  }

  /** opentsdb (catalyser/opentsdb.go:31-105): sniffer + JSON decode via
    * the shared parser; any failure is a 422 parse error.
    */
  private def opentsdbBody(bytes: Array[Byte], send: Gts => Unit): Option[(Int, String)] = {
    OpenTsdbParser.parse(new String(bytes, StandardCharsets.UTF_8),
        System.currentTimeMillis() * 1000L) match {
      case Right(gts) => gts.foreach(send); None
      case Left(err) => Some((422, s"Failed to parse datapoint: $err"))
    }
  }

  /** prometheus exposition (catalyser/prometheus.go:22-117): URL-path
    * labels after stripping `/prometheus` then `/metrics` (odd pair
    * count → 422), content-negotiated text/proto decode, ±Inf dropped.
    */
  private def promBody(
      bytes: Array[Byte], path: String, contentType: Option[String],
      send: Gts => Unit): Option[(Int, String)] = {
    val labelPath = path.stripPrefix("/prometheus").stripPrefix("/metrics")
    PromParser.pathLabels(labelPath) match {
      case Left(_) =>
        val n = labelPath.split("/").count(_.nonEmpty)
        Some((422, s"Bad number of labels in URL (must be even but got : $n entries)\n$labelPath"))
      case Right(extra) =>
        PromProtoParser.parseExposition(bytes, contentType, extra,
            System.currentTimeMillis()) match {
          case Right(gts) => gts.foreach(send); None
          case Left(_) => Some((422, s"Invalid format\n$labelPath"))
        }
    }
  }

  /** remote_write (catalyser/prometheus_remote_write.go:21-50):
    * snappy+proto decode; corrupt snappy / truncated proto map to 422
    * via handler.go's snappy/EOF arms, anything else 502.
    */
  private def remoteWriteBody(bytes: Array[Byte], send: Gts => Unit): Option[(Int, String)] = {
    PrompbParser.parseSnappyBody(bytes) match {
      case Right(gts) => gts.foreach(send); None
      case Left(err) =>
        val code = if (err.toLowerCase.contains("snappy") || err.contains("EOF")) 422 else 502
        Some((code, err))
    }
  }

  /** warp passthrough (catalyser/warp.go:15-49): raw lines re-framed
    * CRLF and flushed every 27 lines — the A22 batching law.
    */
  private def warpBody(
      bytes: Array[Byte], transport: WarpTransport, add: Long => Unit): Option[(Int, String)] = {
    val text = new String(bytes, StandardCharsets.UTF_8)
    val lines = text.split("\n", -1).filter(_.nonEmpty) // bufio.Scanner drops terminators
    val sb = new StringBuilder
    var i = 0
    var n = 0L
    lines.foreach { l =>
      sb.append(l.stripSuffix("\r")).append("\r\n")
      i += 1; n += 1
      if (i >= 27) { transport.send(sb.toString); sb.clear(); i = 0 }
    }
    if (i != 0) transport.send(sb.toString)
    add(n)
    None
  }

  private def parseQuery(q: String): Map[String, String] =
    q.split("&").iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      if (i < 0) kv -> ""
      else java.net.URLDecoder.decode(kv.substring(0, i), "UTF-8") ->
        java.net.URLDecoder.decode(kv.substring(i + 1), "UTF-8")
    }.toMap
}

object HttpIngress {
  /** Distinct access-log values shared per ingress; later ones are kept
    * as they come.
    */
  private val LogValuesCap = 4096

  /** Long-running entry point:
    * `runMain graft.streaming.HttpIngress <port> [warpEndpoint]`.
    */
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8081)
    val config = GraftConfig.load()
    val endpoint = args.lift(1).getOrElse(config.warpEndpoint)
    val bans = new BanStore(config.bannishmentMs * 20) // ban TTL (see BanStore doc)
    val ingress = new HttpIngress(port,
      now => new HttpWarpTransport(endpoint, now, config.dialTimeoutMs,
        config.connectionTimeoutMs, config.keepAliveTimeoutMs), bans, config,
      banSleepMs = config.bannishmentMs).start()
    println(s"[ingress] HTTP route table listening on ${ingress.boundPort} -> $endpoint")
    Thread.currentThread().join()
  }
}
