package graft

import graft.parsers.GraphiteParser
import graft.core.Sensision
import graft.streaming.{BanStore, IngestServer, TcpSpooler, WarpTransport}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

/** End-to-end ingress over a REAL TCP socket: accept loop, first-line
  * `TOKEN@.` auth, blind length-based prefix strip, bad-line skip,
  * atomic spool, streaming parse + per-token Warp delivery, and the
  * ban lifecycle fed by sink failures.
  */
class IngestServerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("local[2]", 2)

  override def afterAll(): Unit = spark.stop()

  private def sendConn(port: Int, lines: Seq[String]): Unit = {
    val s = new Socket("127.0.0.1", port)
    val out = s.getOutputStream
    out.write(lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    out.flush()
    s.close()
  }

  private def awaitSpool(spooler: TcpSpooler, conns: Long): Unit = {
    val t0 = System.currentTimeMillis()
    while (spooler.reqOk.get() + spooler.noAuth.get() + spooler.reqErr.get() < conns
        && System.currentTimeMillis() - t0 < 10000) Thread.sleep(20)
  }

  test("TCP handler: auth, prefix strip by length, short-line skip, noAuth close") {
    val spool = Files.createTempDirectory("graft_ing1")
    val spooler = new TcpSpooler(0, spool).start()
    try {
      sendConn(spooler.boundPort, Seq(
        "tokA@.sys.cpu 0.5 1546420308",  // first line carries data too
        "tokA@.sys.mem 12 1546420309",
        "tokA@.",                        // exactly prefix length -> skipped
        "tokA@.notenough"))              // spooled; engine's parse drops it
      sendConn(spooler.boundPort, Seq("no token here", "tokB@.x 1")) // no auth on line 1
      awaitSpool(spooler, 2)
      assert(spooler.reqTcp.get() == 2)
      assert(spooler.reqOk.get() == 1 && spooler.noAuth.get() == 1)
      assert(spooler.points.get() == 3) // two good + one bad metric line spooled
      val files = Files.list(spool).filter(p => !p.getFileName.toString.startsWith(".")).toArray
      assert(files.length == 1, s"expected one atomic spool file, got ${files.toSeq}")
      val content = new String(Files.readAllBytes(files(0).asInstanceOf[java.nio.file.Path]),
        StandardCharsets.UTF_8)
      assert(content.contains("tokA\t") && content.contains("\tsys.cpu 0.5 1546420308"))
      assert(!content.contains("tokB"), "unauthenticated connection must spool nothing")
    } finally spooler.stop()
  }

  test("e2e: socket -> spool -> streaming parse -> per-token delivery; bans gate the sink") {
    val spool = Files.createTempDirectory("graft_ing2")
    val ckpt = Files.createTempDirectory("graft_ing2_ck")
    val spooler = new TcpSpooler(0, spool).start()
    val bans = new BanStore(3600000L)
    IngestServerSpec.delivered.clear()
    try {
      sendConn(spooler.boundPort, Seq(
        "tokA@.sys.cpu 0.5 1546420308",
        "tokA@.bad",                      // parse error -> permissive drop
        "tokA@.sys.mem 12 1546420309"))
      sendConn(spooler.boundPort, Seq("tokC@.other.metric 7 1546420310"))
      awaitSpool(spooler, 2)
      val q = IngestServer.start(spark, spool, ckpt,
        () => new RecordingTransport, bans)
      try q.processAllAvailable() finally q.stop()
      val got = IngestServerSpec.delivered.toArray.map(_.toString).sorted.toSeq
      val expect = Seq(
        "tokA:" + enc("sys.cpu 0.5 1546420308"),
        "tokA:" + enc("sys.mem 12 1546420309"),
        "tokC:" + enc("other.metric 7 1546420310")).sorted
      assert(got == expect, s"delivered=$got")

      // ban lifecycle: pre-ban tokA (the recordSinkFailure path is
      // covered by WarpErrorsSpec; here the GATE must hold the line),
      // feed one more point per token, and only tokC gets through
      bans.ban("tokA", System.currentTimeMillis())
      IngestServerSpec.delivered.clear()
      sendConn(spooler.boundPort, Seq("tokA@.sys.cpu 1.5 1546420311"))
      sendConn(spooler.boundPort, Seq("tokC@.other.metric 8 1546420312"))
      awaitSpool(spooler, 4)
      val q2 = IngestServer.start(spark, spool, ckpt,
        () => new RecordingTransport, bans)
      try q2.processAllAvailable() finally q2.stop()
      val got2 = IngestServerSpec.delivered.toArray.map(_.toString).toSeq
      assert(got2 == Seq("tokC:" + enc("other.metric 8 1546420312")),
        s"banned token leaked: $got2")
    } finally spooler.stop()
  }

  test("a token Warp rejects is banned on the driver; the query and the other tokens go on") {
    val spool = Files.createTempDirectory("graft_ing3")
    val ckpt = Files.createTempDirectory("graft_ing3_ck")
    val spooler = new TcpSpooler(0, spool).start()
    val bans = new BanStore(3600000L)
    IngestServerSpec.delivered.clear()
    IngestServerSpec.opened.clear()
    try {
      sendConn(spooler.boundPort, Seq("tokA@.sys.cpu 0.5 1546420308"))
      sendConn(spooler.boundPort, Seq("tokC@.other.metric 7 1546420310"))
      awaitSpool(spooler, 2)
      // local[2]: one attempt per task, so a failed task stops the query
      val q = IngestServer.start(spark, spool, ckpt, () => new RejectingTransport("tokA"), bans)
      try {
        q.processAllAvailable()
        assert(q.isActive && q.exception.isEmpty)
        assert(IngestServerSpec.delivered.toArray.toSeq ==
          Seq("tokC:" + enc("other.metric 7 1546420310")))
        assert(bans.isBanned("tokA", System.currentTimeMillis()),
          "the ban must reach the driver's store, not the task's copy")
        IngestServerSpec.delivered.clear()
        IngestServerSpec.opened.clear()
        sendConn(spooler.boundPort, Seq("tokA@.sys.cpu 1.5 1546420311"))
        sendConn(spooler.boundPort, Seq("tokC@.other.metric 8 1546420312"))
        awaitSpool(spooler, 4)
        q.processAllAvailable()
        assert(q.isActive)
        assert(!IngestServerSpec.opened.contains("tokA"), s"opened=${IngestServerSpec.opened}")
        assert(IngestServerSpec.delivered.toArray.toSeq ==
          Seq("tokC:" + enc("other.metric 8 1546420312")))
      } finally q.stop()
    } finally spooler.stop()
  }

  private def enc(metricLine: String): String =
    Sensision.encode(GraphiteParser.parseLine(metricLine, false)
      .getOrElse(fail(s"test line must parse: $metricLine")))
}

object IngestServerSpec {
  /** Static collector: local-mode tasks share the JVM, so the writer's
    * deliveries land here (the standard foreach-sink test pattern).
    */
  val delivered = new ConcurrentLinkedQueue[String]()
  /** Tokens a [[RejectingTransport]] opened a channel for. */
  val opened = new ConcurrentLinkedQueue[String]()
}

/** In-memory transport recording token:sensision-line pairs. */
final class RecordingTransport extends WarpTransport {
  private var token: String = _
  override def open(token: String, txn: String): Unit = this.token = token
  override def send(line: String): Unit =
    IngestServerSpec.delivered.add(s"$token:$line"): Unit
  override def close(): Option[String] = None
  override def abort(): Unit = ()
}

/** Commits a channel's lines to [[IngestServerSpec.delivered]] when it
  * closes, except for `rejected`, which the backend answers with
  * `Invalid token` and which commits nothing.
  */
final class RejectingTransport(rejected: String) extends WarpTransport {
  private var token: String = _
  private val lines = Seq.newBuilder[String]
  override def open(token: String, txn: String): Unit = {
    this.token = token
    IngestServerSpec.opened.add(token): Unit
  }
  override def send(line: String): Unit = lines += line
  override def close(): Option[String] =
    if (token == rejected) Some("io.warp10.script.WarpScriptException: Invalid token")
    else { lines.result().foreach(l => IngestServerSpec.delivered.add(s"$token:$l")); None }
  override def abort(): Unit = ()
}
