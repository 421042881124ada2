package graft.streaming

import graft.core.{Gts, GtsRow, Sensision}
import graft.parsers.GraphiteParser
import org.apache.spark.sql.{DataFrame, Dataset, ForeachWriter, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong

/** A parsed-and-tokenized graphite point: the per-connection token and
  * txn ride beside the GTS row so the sink can route per token.
  */
final case class TokenizedGts(token: String, txn: String, row: GtsRow)

/** The live ingress entry point the reference binds
  * (catalyser/graphite.go:149-301): a TCP accept loop whose
  * per-connection handler enforces the first-line `TOKEN@.` auth
  * prefix, strips the token prefix from every line BY LENGTH (the
  * reference slices `linePayload[tokenLength:]`, it never re-matches
  * the prefix), skips lines shorter than the prefix, and hands the
  * metric payload to the engine.
  *
  * The Spark-first split: the network edge stays thin (auth check +
  * prefix strip + durable spool — thread-per-connection exactly like
  * the reference's goroutine-per-conn), while parsing, value
  * inference, ban gating and sink delivery run INSIDE a Structured
  * Streaming query over the spool directory — the part that must
  * scale with data volume is declarative and distributed, and the
  * file-source + checkpoint pair gives replayable at-least-once
  * delivery the reference's in-memory pipe cannot (its buffered
  * prefix replay, core/warp.go:197-217, is replaced by idempotent
  * task retry over durable spool files).
  *
  * Spool files appear ATOMICALLY (tmp + rename) because Spark's file
  * source lists-then-reads; a partially-written file would be frozen
  * at its first-seen length.
  */
final class TcpSpooler(port: Int, spoolDir: Path) {

  // observability counters — the reference's prometheus counters
  // (graphite.go:94-140) as plain atomics the spec can read
  val reqTcp = new AtomicLong
  val reqOk = new AtomicLong
  val reqErr = new AtomicLong
  val noAuth = new AtomicLong
  val points = new AtomicLong

  private val connIds = new AtomicLong
  private val server = new ServerSocket(port)
  private val pool = Executors.newCachedThreadPool()
  private val tmpDir = spoolDir.resolve(".tmp")
  Files.createDirectories(tmpDir)

  /** The bound port (pass 0 to get an ephemeral one for tests). */
  def boundPort: Int = server.getLocalPort

  private val acceptThread = new Thread(() => {
    try {
      while (!server.isClosed) {
        val conn = server.accept()
        pool.execute(() => handleConnection(conn))
      }
    } catch {
      case _: SocketException => () // closed during stop()
    }
  }, "graft-ingress-accept")

  def start(): this.type = { acceptThread.setDaemon(true); acceptThread.start(); this }

  def stop(): Unit = { server.close(); pool.shutdown() }

  /** One connection = one spool file (the task-retry unit). Mirrors
    * handleTCPConnection: txn id per conn, auth on the first line,
    * blind length-based prefix strip on every line, short lines
    * skipped. Parse errors are NOT judged here — the engine's
    * permissive parse drops them (same observable behavior as the
    * reference's in-handler skip, graphite.go:276-283, but the edge
    * never pays the parse).
    */
  private def handleConnection(conn: Socket): Unit = {
    reqTcp.incrementAndGet()
    val txn = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
      d.digest(s"conn-${connIds.incrementAndGet()}".getBytes(StandardCharsets.UTF_8))
        .map(b => f"${b & 0xFF}%02x").mkString
    }
    try {
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(conn.getInputStream, StandardCharsets.UTF_8))
      var token: String = null
      var tokenLength = 0
      val out = new java.lang.StringBuilder
      var n = 0L
      var line = in.readLine()
      var abort = false
      while (line != null && !abort) {
        val payload = line.trim
        if (token == null) {
          GraphiteParser.extractTcpToken(payload) match {
            case Some((tok, len)) => token = tok; tokenLength = len
            case None => noAuth.incrementAndGet(); abort = true
          }
        }
        if (!abort && payload.length > tokenLength) {
          // token \t txn \t metric — the metric is the line minus the
          // FIXED prefix length, exactly graphite.go:271
          out.append(token).append('\t').append(txn).append('\t')
            .append(payload.substring(tokenLength)).append('\n')
          n += 1
        }
        if (!abort) line = in.readLine()
      }
      if (!abort && n > 0) {
        val tmp = Files.createTempFile(tmpDir, "conn", ".tsv")
        Files.write(tmp, out.toString.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, spoolDir.resolve(tmp.getFileName), StandardCopyOption.ATOMIC_MOVE)
      }
      if (!abort) { points.addAndGet(n); reqOk.incrementAndGet() }
    } catch {
      case _: Throwable => reqErr.incrementAndGet()
    } finally {
      try conn.close() catch { case _: Throwable => () }
    }
  }
}

/** A sink writer that routes rows to one transport PER TOKEN within a
  * partition (the reference opens one Warp client per connection;
  * after the engine repartitions by data, tokens interleave). Sink
  * failures feed the ban store, so a backend `invalid token` answer
  * bans the token for the configured window — the A28 lifecycle.
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

object IngestServer {

  /** Spool TSV lines → parsed, tokenized GTS rows (permissive: bad
    * metric lines vanish, the reference's per-line skip).
    */
  def parseSpool(
      spark: SparkSession, raw: Dataset[String],
      hierarchyLabels: Boolean): Dataset[TokenizedGts] = {
    import spark.implicits._
    raw.flatMap { l =>
      val i = l.indexOf('\t'); val j = if (i < 0) -1 else l.indexOf('\t', i + 1)
      if (j < 0) Seq.empty[TokenizedGts]
      else {
        val token = l.substring(0, i); val txn = l.substring(i + 1, j)
        GraphiteParser.parseLine(l.substring(j + 1), hierarchyLabels) match {
          case Right(g) => Seq(TokenizedGts(token, txn, Gts.toRow(g)))
          case Left(_)  => Seq.empty
        }
      }
    }
  }

  /** The full ingress pipeline as a streaming query: file-source over
    * the spool → permissive parse → per-token Warp delivery with ban
    * feedback. At-least-once with idempotent retry; checkpointed.
    */
  def start(
      spark: SparkSession, spoolDir: Path, checkpointDir: Path,
      newTransport: () => WarpTransport, bans: BanStore,
      hierarchyLabels: Boolean = false): StreamingQuery = {
    import spark.implicits._
    val raw = spark.readStream.text(spoolDir.toString).as[String]
    parseSpool(spark, raw, hierarchyLabels)
      .writeStream
      .option("checkpointLocation", checkpointDir.toString)
      .foreach(new TokenRoutedWarpWriter(newTransport, bans))
      .start()
  }

  /** Long-running entry point:
    * `runMain graft.streaming.IngestServer <port> <warpEndpoint> [spoolDir]`.
    */
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(2003)
    val endpoint = args.lift(1).getOrElse("http://127.0.0.1:8080/api/v0/update")
    val spool = args.lift(2).map(Path.of(_))
      .getOrElse(Files.createTempDirectory("graft_ingress_spool"))
    Files.createDirectories(spool)
    val spark = graft.GraftSession(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"), 8)
    spark.sparkContext.setLogLevel("WARN")
    val spooler = new TcpSpooler(port, spool).start()
    println(s"[ingress] graphite TCP listening on ${spooler.boundPort}, spool=$spool -> $endpoint")
    val q = start(spark, spool, spool.resolve(".checkpoint"),
      () => new HttpWarpTransport(endpoint), new BanStore(60000L))
    sys.addShutdownHook { spooler.stop(); q.stop() }
    q.awaitTermination()
  }
}
