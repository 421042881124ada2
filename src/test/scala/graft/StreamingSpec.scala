package graft

import graft.core.GtsRow
import graft.streaming.GraphiteStream
import org.apache.spark.sql.Dataset
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

object StreamingSpec {
  // executor-side sink capture (local mode: same JVM)
  val sent = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  // top-level (not a suite method): the closure must not capture the
  // non-serializable scalatest engine
  def bbitParse(l: String): (String, Long, Seq[Long], Seq[Long]) = {
    val p = l.split(';')
    ("c", p(0).toLong, p(1).split(',').toSeq.map(_.toLong),
      p(2).split(',').toSeq.map(_.toLong))
  }

  def tcovParse(l: String): (String, String, Long) = {
    val p = l.split(" ")
    (p(0), p(1), 1L)
  }

  def capParse(l: String): (String, String) = {
    val p = l.split(" ", 2)
    (p(0), p(1))
  }

  def keepParse(l: String): (String, Long, String, Long) = {
    val p = l.split('|')
    (p(0), p(1).toLong, p(2), p(3).toLong)
  }

  // one doc-id line → both epochs' (epoch, bucket) rows (the shared
  // expansion lives in the processor object — serializable)
  def cursorParse(l: String): Seq[(Long, Long)] =
    graft.streaming.ResumeCursorProcessor.expand(l.trim.toLong)
}

/** End-to-end Structured Streaming slice: file source → `ops.Ingest`
  * parse → watermark + tumbling window → memory sink, plus the stateful
  * processors' batch-parity checks. The Warp sink itself is covered by
  * WarpSinkSpec and IngestServerSpec.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("local[4]", 4)

  override def afterAll(): Unit = spark.stop()

  /** Graphite lines -> GTS rows, bad lines dropped (the TCP policy). */
  private def graphite(lines: Dataset[String]): Dataset[GtsRow] = {
    import spark.implicits._
    graft.ops.Ingest.graphite(lines, mode = "DROPMALFORMED").as[GtsRow]
  }

  test("file source -> parse -> windowed counts in memory sink") {
    val dir = Files.createTempDirectory("graft_stream_in").toFile
    val lines = Seq(
      "sys.cpu.user;host=web01 0.5 1546420308",   // seconds
      "sys.cpu.user;host=web01 0.7 1546420309",
      "sys.mem.free 1024 1546420310",
      "not a parseable line at all x y z",         // dropped (PERMISSIVE)
      "sys.cpu.user;host=web01 0.9 1546420368")    // next minute
    Files.write(new java.io.File(dir, "batch1.txt").toPath,
      lines.mkString("\n").getBytes("UTF-8"))

    val q = GraphiteStream.fileIngestToMemory(spark, dir.getAbsolutePath, "graft_counts",
      outputMode = "complete")
    try {
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT name, n_points, sum_double FROM graft_counts ORDER BY name, n_points").collect()
      // window 1546420308/09 -> same minute; 1546420368 -> next minute
      val byName = rows.groupBy(_.getString(0))
      assert(byName("sys.cpu.user").map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L))
      assert(byName("sys.mem.free").head.getLong(1) == 1L)
      assert(math.abs(byName("sys.cpu.user").map(_.getDouble(2)).sum - 2.1) < 1e-9)
    } finally q.stop()
  }

  test("watermark drops late data in append mode") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_late").toFile
    // batch 1: 10:00:10 and 10:30:00 -> watermark advances to 10:20
    Files.write(new java.io.File(dir, "b1.txt").toPath,
      ("m1 1 1546423210\n" +   // 2019-01-02 10:00:10 (seconds)
       "m1 2 1546425000")      // 10:30:00
        .getBytes("UTF-8"))
    val lines = spark.readStream.text(dir.getAbsolutePath).as[String]
    val parsed = graphite(lines)
    val q = GraphiteStream.windowedCounts(parsed, "1 minute", "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("graft_late_counts").start()
    try {
      q.processAllAvailable()
      // batch 2: a LATE point at 10:05 (before the 10:20 watermark -> dropped)
      // and an on-time point at 10:50
      Files.write(new java.io.File(dir, "b2.txt").toPath,
        ("m1 99 1546423500\n" + // 10:05:00 LATE
         "m1 3 1546426200")     // 10:50:00
          .getBytes("UTF-8"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT unix_timestamp(w_start) AS ws, n_points FROM graft_late_counts ORDER BY ws")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      // emitted closed windows: 10:00 (1 point) and 10:30 (1 point);
      // the late 10:05 point must NOT appear anywhere
      assert(rows.contains((1546423200L, 1L))) // 10:00 window, count 1
      assert(rows.contains((1546425000L, 1L))) // 10:30 window, count 1
      assert(!rows.exists(_._1 == 1546423500L), s"late window emitted: $rows")
    } finally q.stop()
  }

  test("gzip-compressed line sources decompress transparently (A4 analog)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_gz").toFile
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(new java.io.File(dir, "lines.txt.gz")))
    out.write("sys.cpu.user 0.5 1546420308\nsys.cpu.user 0.7 1546420309".getBytes("UTF-8"))
    out.close()
    val lines = spark.read.text(dir.getAbsolutePath).as[String]
    val parsed = graphite(lines)
    assert(parsed.count() == 2)
    assert(parsed.collect().map(_.v_double.get).sorted.toSeq == Seq(0.5, 0.7))
  }

  test("snappy-compressed bodies decode (A5: remote_write payloads)") {
    import spark.implicits._
    // one WriteRequest{TimeSeries{__name__=up, Sample{1.0 @ 1000 ms}}}
    def ld(field: Int, body: Array[Byte]) = Array((field << 3 | 2).toByte, body.length.toByte) ++ body
    val sample = Array[Byte](0x09) ++ java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(1.0).array() ++ Array[Byte](0x10, 0xE8.toByte, 0x07)
    val series = ld(1, ld(1, "__name__".getBytes("UTF-8")) ++ ld(2, "up".getBytes("UTF-8"))) ++ ld(2, sample)
    val body = org.xerial.snappy.Snappy.compress(ld(1, series))
    // a snappy header claiming 2^32-1 bytes: refused before allocation
    val huge = Array(0xFF, 0xFF, 0xFF, 0xFF, 0x0F, 0x00).map(_.toByte)
    val rows = graft.ops.Ingest.promRemoteWrite(Seq(body, huge).toDS())
      .select("name", "ts_us", "v_double", "error").collect()
    val (good, bad) = rows.partition(_.isNullAt(3))
    assert(good.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("up", 1000000L, 1.0)))
    assert(bad.length == 1 && bad.head.getString(3).contains("claimed uncompressed length"))
  }

  test("ingest metrics: observe counts datapoints and PERMISSIVE parse errors (A35)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_ingest_metrics").toFile
    Files.write(new java.io.File(dir, "b.txt").toPath,
      "a 1 1546420308\nbad\nb 2.5 1546420308\nalso_bad".getBytes("UTF-8"))
    val lines = spark.readStream.text(dir.getAbsolutePath).as[String]
    val q = graft.ops.Ingest.graphite(lines)
      .observe("graft_ingest",
        count_if(col("error").isNull).as("datapoints"),
        count_if(col("error").isNotNull).as("parse_errors"))
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_ingest_metrics").start()
    try {
      q.processAllAvailable()
      val m = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("graft_ingest"))).lastOption
      assert(m.isDefined, "no observed metrics in progress")
      assert(m.get.getAs[Long]("datapoints") == 2L)
      assert(m.get.getAs[Long]("parse_errors") == 2L)
    } finally q.stop()
  }

  test("mapGroupsWithState running counts accumulate across micro-batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_state").toFile
    Files.write(new java.io.File(dir, "b1.txt").toPath,
      "m1 1 1546420308\nm1 2 1546420309\nm2 3 1546420310".getBytes("UTF-8"))
    val lines = spark.readStream.text(dir.getAbsolutePath).as[String]
    val parsed = graphite(lines)
    val counts = GraphiteStream.runningCountsByName(spark, parsed)
    val q = counts.toDF("name", "n").writeStream
      .outputMode("update").format("memory").queryName("graft_state_counts").start()
    try {
      q.processAllAvailable()
      // second batch: state must carry over
      Files.write(new java.io.File(dir, "b2.txt").toPath,
        "m1 4 1546420311".getBytes("UTF-8"))
      q.processAllAvailable()
      val last = spark.sql(
        "SELECT n FROM graft_state_counts WHERE name = 'm1' ORDER BY n DESC LIMIT 1")
        .as[Long].collect().head
      assert(last == 3L) // 2 from batch 1 + 1 from batch 2
    } finally q.stop()
  }

  test("streaming dedup: dropDuplicates suppresses replays across micro-batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dedup").toFile
    Files.write(new java.io.File(dir, "b1.txt").toPath,
      "m1 1 1546420308\nm1 1 1546420308\nm2 2 1546420309".getBytes("UTF-8"))
    val lines = spark.readStream.text(dir.getAbsolutePath).as[String]
    val parsed = graphite(lines)
      .dropDuplicates("name", "ts_us") // exactly-once per (series, timestamp)
    val q = parsed.toDF().writeStream
      .outputMode("append").format("memory").queryName("graft_dedup_out").start()
    try {
      q.processAllAvailable()
      // replay of an already-seen point in a later batch is suppressed too
      Files.write(new java.io.File(dir, "b2.txt").toPath,
        "m1 1 1546420308\nm3 3 1546420310".getBytes("UTF-8"))
      q.processAllAvailable()
      val names = spark.sql("SELECT name FROM graft_dedup_out ORDER BY name")
        .as[String].collect().toSeq
      assert(names == Seq("m1", "m2", "m3"))
    } finally q.stop()
  }

  test("stream-stream join: two watermarked line streams join within a time bound") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dirA = Files.createTempDirectory("graft_ss_a").toFile
    val dirB = Files.createTempDirectory("graft_ss_b").toFile
    // same series name, B's point within 30s of A's
    Files.write(new java.io.File(dirA, "a.txt").toPath,
      "sys.cpu 1.0 1546420300\nsys.mem 5.0 1546420300".getBytes("UTF-8"))
    Files.write(new java.io.File(dirB, "b.txt").toPath,
      "sys.cpu 2.0 1546420310\nsys.cpu 9.9 1546429999".getBytes("UTF-8"))
    def side(dir: java.io.File, prefix: String) = {
      val parsed = graphite(spark.readStream.text(dir.getAbsolutePath).as[String])
      parsed.toDF()
        .select(col("name").as(s"${prefix}_name"),
          timestamp_micros(col("ts_us")).as(s"${prefix}_time"),
          col("v_double").as(s"${prefix}_v"))
        .withWatermark(s"${prefix}_time", "1 minute")
    }
    val joined = side(dirA, "a").join(side(dirB, "b"),
      expr("""a_name = b_name AND
        b_time BETWEEN a_time AND a_time + INTERVAL 30 seconds"""))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("graft_ss_join").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT a_name, a_v, b_v FROM graft_ss_join").collect()
      assert(rows.length == 1) // only the within-30s sys.cpu pair
      assert(rows.head.getString(0) == "sys.cpu" && rows.head.getDouble(2) == 2.0)
    } finally q.stop()
  }

  test("checkpoint recovery: stateful query restarts and keeps its state") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ckpt_in").toFile
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    Files.write(new java.io.File(dir, "b1.txt").toPath,
      "m1 1 1546420308\nm1 2 1546420309".getBytes("UTF-8"))
    StreamingSpec.sent.clear()
    def start() = {
      val lines = spark.readStream.text(dir.getAbsolutePath).as[String]
      val parsed = graphite(lines)
      GraphiteStream.runningCountsByName(spark, parsed).toDF("name", "n")
        .writeStream.outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => StreamingSpec.sent.add(s"${r.getString(0)}=${r.getLong(1)}"))
        }
        .option("checkpointLocation", ckpt).start()
    }
    val q1 = start()
    q1.processAllAvailable()
    q1.stop() // simulate driver failure/restart
    Files.write(new java.io.File(dir, "b2.txt").toPath,
      "m1 3 1546420310".getBytes("UTF-8"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val seen = StreamingSpec.sent.toArray(Array.empty[String]).toSeq
      // state carried across restart: the post-restart batch reports m1=3
      assert(seen.contains("m1=2") && seen.contains("m1=3"),
        s"state lost across restart: $seen")
    } finally q2.stop()
  }

  test("streaming session windows merge within the gap and split across it") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_sess").toFile
    // m1: 3 points within 30s gaps -> one session; then a 10-min jump -> new session
    Files.write(new java.io.File(dir, "b.txt").toPath,
      ("m1 1 1546420300\nm1 2 1546420320\nm1 3 1546420340\n" +
       "m1 9 1546421000").getBytes("UTF-8"))
    val lines = spark.readStream.text(dir.getAbsolutePath).as[String]
    val parsed = graphite(lines)
    val q = parsed.toDF()
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "10 minutes")
      .groupBy(session_window(col("event_time"), "1 minute"), col("name"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s"), col("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("graft_sessions").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT unix_timestamp(s) AS ss, n FROM graft_sessions ORDER BY ss")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows == Seq((1546420300L, 3L), (1546421000L, 1L)), rows.toString)
    } finally q.stop()
  }

  test("influx and opentsdb streaming pipelines end-to-end") {
    import spark.implicits._
    val dirI = Files.createTempDirectory("graft_influx_s").toFile
    Files.write(new java.io.File(dirI, "b.txt").toPath,
      "cpu,host=a usage=0.5,active=3i 1546420308000000000".getBytes("UTF-8"))
    val qi = graft.ops.Ingest.influx(spark.readStream.text(dirI.getAbsolutePath).as[String])
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_influx_stream").start()
    try {
      qi.processAllAvailable()
      val names = spark.sql("SELECT name FROM graft_influx_stream ORDER BY name")
        .as[String].collect().toSeq
      assert(names == Seq("cpu.active", "cpu.usage"))
    } finally qi.stop()

    val dirO = Files.createTempDirectory("graft_otsdb_s").toFile
    Files.write(new java.io.File(dirO, "b.txt").toPath,
      """{"metric":"sys.mem","timestamp":1546420308,"value":7,"tags":{"h":"x"}}""".getBytes("UTF-8"))
    val qo = graft.ops.Ingest.opentsdb(spark.readStream.text(dirO.getAbsolutePath).as[String])
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_otsdb_stream").start()
    try {
      qo.processAllAvailable()
      val row = spark.sql(
        "SELECT name, v_double, ts_us FROM graft_otsdb_stream").collect().head
      assert(row.getString(0) == "sys.mem" && row.getDouble(1) == 7.0 &&
        row.getLong(2) == 1546420308000000L)
    } finally qo.stop()
  }

  test("transformWithState timers: session closes when the WATERMARK passes last+gap") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    val dir = Files.createTempDirectory("graft_timer").toFile
    // lines: "key epochSeconds"
    val pts = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong * 1000L) }
      .withColumn("eventTime", timestamp_millis(col("_2")))
      .withWatermark("eventTime", "0 seconds")
      .select(col("_1"), col("_2")).as[(String, Long)]
    val q = graft.streaming.SessionTimerProcessor(spark, pts, gapMs = 5000L)
      .toDF("key", "start_ms", "end_ms", "n")
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_timer_out").start()
    try {
      // batch 1: two events for A inside one session (gap 5s); watermark
      // after the batch = 1000s — A's timer (1002s + 5s) not yet due
      Files.write(new java.io.File(dir, "b1.txt").toPath,
        "A 1000\nA 1002".getBytes("UTF-8"))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM graft_timer_out").head.getLong(0) == 0,
        "session must stay OPEN until the watermark passes last+gap")
      // batch 2: far-future event for B pushes the watermark past A's
      // expiry -> A's timer fires, the closed session is emitted exactly
      // once with the full extent; B stays open
      Files.write(new java.io.File(dir, "b2.txt").toPath,
        "B 2000".getBytes("UTF-8"))
      q.processAllAvailable()
      q.processAllAvailable() // one more cycle so the advanced watermark drives timers
      val rows = spark.sql("SELECT key, start_ms, end_ms, n FROM graft_timer_out")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(rows == Set(("A", 1000000L, 1002000L, 2L)), s"closed sessions: $rows")
    } finally q.stop()
  }

  test("transformWithState (v2 API, RocksDB store): per-series stats accumulate") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tws").toFile
    Files.write(new java.io.File(dir, "b1.txt").toPath,
      "m1 1.5 1546420308\nm1 9.5 1546420309\nm2 2 1546420310".getBytes("UTF-8"))
    val lines = spark.readStream.text(dir.getAbsolutePath).as[String]
    val parsed = graphite(lines)
    val q = graft.streaming.SeriesStatsProcessor(spark, parsed)
      .toDF("name", "n", "mx")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_tws_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath,
        "m1 0.5 1546420311".getBytes("UTF-8"))
      q.processAllAvailable()
      val m1 = spark.sql(
        "SELECT n, mx FROM graft_tws_out WHERE name='m1' ORDER BY n DESC LIMIT 1")
        .collect().head
      assert(m1.getLong(0) == 3L)          // state carried: 2 + 1
      assert(m1.getDouble(1) == 9.5)        // running max retained
    } finally q.stop()
  }

  test("socket source: live TCP lines parse like the reference's graphite listener (A2)") {
    import spark.implicits._
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val writer = new Thread(() => {
      try {
        val sock = server.accept()
        val out = new java.io.PrintWriter(sock.getOutputStream, true)
        out.println("sys.cpu.user;host=web01 0.5 1546420308")
        out.println("not parseable at all x y")
        out.println("sys.mem.free 1024 1546420309")
        Thread.sleep(3000)
        out.close(); sock.close()
      } catch { case _: Throwable => () }
    })
    writer.setDaemon(true)
    writer.start()
    val lines = spark.readStream
      .format("socket").option("host", "127.0.0.1").option("port", port)
      .load().as[String]
    val parsed = graphite(lines)
    val q = parsed.toDF().writeStream.outputMode("append")
      .format("memory").queryName("graft_socket_out").start()
    try {
      val deadline = System.currentTimeMillis() + 20000
      var n = 0L
      while (n < 2 && System.currentTimeMillis() < deadline) {
        Thread.sleep(300)
        n = spark.sql("SELECT count(*) FROM graft_socket_out").collect().head.getLong(0)
      }
      assert(n == 2L, s"expected 2 parsed points from socket, got $n")
      val names = spark.sql("SELECT name FROM graft_socket_out ORDER BY name")
        .as[String].collect().toSeq
      assert(names == Seq("sys.cpu.user", "sys.mem.free"))
    } finally { q.stop(); server.close() }
  }

  test("dropDuplicatesWithinWatermark: bounded-state streaming dedup") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_dedup_wm").toFile
    Files.write(new java.io.File(dir, "b1.txt").toPath,
      "m1 1 1546420308\nm1 1 1546420308\nm2 2 1546420309".getBytes("UTF-8"))
    val lines = spark.readStream.text(dir.getAbsolutePath).as[String]
    val parsed = graphite(lines)
      .toDF()
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "10 minutes")
      // state for a (name, ts) key is EVICTED once the watermark passes —
      // bounded memory, unlike plain dropDuplicates' forever-state
      .dropDuplicatesWithinWatermark("name", "ts_us")
    val q = parsed.writeStream.outputMode("append")
      .format("memory").queryName("graft_ddwm").start()
    try {
      q.processAllAvailable()
      val names = spark.sql("SELECT name FROM graft_ddwm ORDER BY name")
        .as[String].collect().toSeq
      assert(names == Seq("m1", "m2"))
    } finally q.stop()
  }

  test("observed metrics: Dataset.observe surfaces counters in streaming progress") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_obs").toFile
    Files.write(new java.io.File(dir, "b.txt").toPath,
      "m1 1.5 1546420308\nm2 2.5 1546420309".getBytes("UTF-8"))
    val lines = spark.readStream.text(dir.getAbsolutePath).as[String]
    val parsed = graphite(lines)
      .toDF()
      .observe("graft_ingest", count(lit(1)).as("rows"), sum("v_double").as("sum_v"))
    val q = parsed.writeStream.outputMode("append")
      .format("memory").queryName("graft_obs_out").start()
    try {
      q.processAllAvailable()
      val obs = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("graft_ingest"))).lastOption
      assert(obs.isDefined, "no observed metrics in progress")
      assert(obs.get.getAs[Long]("rows") == 2L)
      assert(math.abs(obs.get.getAs[Double]("sum_v") - 4.0) < 1e-9)
    } finally q.stop()
  }

  test("banned-token anti-join gate (broadcast)") {
    import spark.implicits._
    val events = Seq(("tokA", 1L), ("tokB", 2L), ("tokA", 3L)).toDF("token", "v")
    val banned = Seq("tokA").toDF("token_b").withColumnRenamed("token_b", "token")
    val kept = GraphiteStream.filterBanned(events, banned, "token")
    assert(kept.select("v").as[Long].collect().toSet == Set(2L))
  }

  test("ban lifecycle end-to-end: sink error bans, next batch filtered, TTL un-bans (A28)") {
    import graft.streaming.{BanStore, TokenBans}
    import org.apache.spark.sql.Dataset
    import spark.implicits._
    val store = new BanStore(banDurationMs = 10000L)
    val clock = new java.util.concurrent.atomic.AtomicLong(1000L)
    val admitted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val dir = Files.createTempDirectory("graft_ban").toFile

    val q = spark.readStream.text(dir.getAbsolutePath).as[String]
      .writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[String], _: Long) =>
        val now = clock.get()
        val rows = batch.map(_.split(" ")(0)).toDF("token")
        // step 3: the gate filters actively-banned tokens out of the batch
        val toks = TokenBans.gate(rows, store, "token", now)
          .as[String].collect().sorted
        toks.foreach(admitted.add)
        // steps 1-2: the Warp sink rejects tokBAD -> classify -> ban upsert
        if (toks.contains("tokBAD")) {
          val err = TokenBans.recordSinkFailure(store,
            "io.warp10.script.WarpScriptException: Invalid token", "tokBAD", now)
          assert(err.bansToken && err.httpStatus == 401)
        }
        ()
      }.start()
    try {
      // batch 1: both tokens flow; sink error bans tokBAD at t=1000
      Files.write(new java.io.File(dir, "b1.txt").toPath,
        "tokBAD line1\ntokOK line2".getBytes("UTF-8"))
      q.processAllAvailable()
      assert(store.isBanned("tokBAD", clock.get()))
      assert(!store.isBanned("tokOK", clock.get()))

      // batch 2 (inside the TTL): tokBAD is filtered, tokOK flows
      clock.set(2000L)
      Files.write(new java.io.File(dir, "b2.txt").toPath,
        "tokBAD line3\ntokOK line4".getBytes("UTF-8"))
      q.processAllAvailable()

      // batch 3 (TTL elapsed): tokBAD un-banned, re-admitted — and then
      // re-banned, because the sink still rejects it (the full cycle)
      clock.set(1000L + 10000L)
      assert(!store.isBanned("tokBAD", clock.get())) // TTL expiry un-bans
      Files.write(new java.io.File(dir, "b3.txt").toPath,
        "tokBAD line5\ntokOK line6".getBytes("UTF-8"))
      q.processAllAvailable()
      assert(store.isBanned("tokBAD", clock.get())) // sink error re-banned it

      val byTok = admitted.toArray(Array.empty[String]).groupBy(identity).view.mapValues(_.length).toMap
      assert(byTok("tokOK") == 3, s"tokOK should pass all 3 batches: $byTok")
      assert(byTok("tokBAD") == 2, s"tokBAD passes batches 1 and 3 only: $byTok")
    } finally q.stop()
  }

  test("FAILFAST parse throws on the first bad line; PERMISSIVE drops it (graphite.go:49-56 vs :276-283)") {
    import spark.implicits._
    val lines = Seq("a.b 1 1546420308", "not!parseable", "c.d 2 1546420309").toDS()
    assert(graphite(lines).count() == 2)
    // PERMISSIVE keeps the bad line out of the good rows as one error row
    assert(graft.ops.Ingest.graphite(lines).filter("error IS NOT NULL").count() == 1)
    val ex = intercept[Exception] {
      graft.ops.Ingest.graphite(lines, mode = "FAILFAST").count()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(chain(ex).exists(_.contains("malformed input: Bad metric format in <not!parseable>")),
      s"unexpected: $ex")
  }

  test("negotiated prometheus exposition: proto and text bodies through one ingest (A17)") {
    import graft.parsers.PromProtoParser
    import graft.parsers.PromProtoParser.{Metric, MetricFamily}
    import spark.implicits._
    val protoBody = PromProtoParser.encodeDelimited(Seq(
      MetricFamily("m_proto", PromProtoParser.COUNTER,
        Seq(Metric(Map("k" -> "v"), Some(1.5), None, None, Some(10L))))))
    val textBody = "m_text{k=\"w\"} 2.5 20\n".getBytes("UTF-8")
    val ds = Seq(
      (protoBody, Option(PromProtoParser.ProtoContentType)),
      (textBody, Option("text/plain; version=0.0.4"))).toDS()
    val rows = graft.ops.Ingest.promExposition(ds, Map("job" -> "j")).as[GtsRow]
      .collect().sortBy(_.name)
    assert(rows.map(_.name).toSeq == Seq("m_proto", "m_text"))
    assert(rows(0).labels == Map("k" -> "v", "job" -> "j"))
    assert(rows(0).ts_us.contains(10000L) && rows(1).ts_us.contains(20000L))
  }

  test("prom-proto wire replay: delimited MetricFamily bodies stream across micro-batches") {
    import graft.parsers.PromProtoParser
    import graft.parsers.PromProtoParser.{Bucket, Metric, MetricFamily}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_promproto").toFile
    def b64(families: Seq[MetricFamily]): String =
      java.util.Base64.getEncoder.encodeToString(PromProtoParser.encodeDelimited(families))
    // batch 1: a counter + a histogram (flattens to _bucket/_sum/_count)
    val body1 = b64(Seq(
      MetricFamily("req_total", PromProtoParser.COUNTER,
        Seq(Metric(Map("path" -> "/w"), Some(7.0), None, None, Some(10L)))),
      MetricFamily("lat", PromProtoParser.HISTOGRAM,
        Seq(Metric(Map.empty, None, None,
          Some((3L, 1.25, Seq(Bucket(1L, 0.5), Bucket(3L, Double.PositiveInfinity)))),
          Some(20L))))))
    // batch 2: a gauge for a different series
    val body2 = b64(Seq(
      MetricFamily("mem_bytes", PromProtoParser.GAUGE,
        Seq(Metric(Map("area" -> "heap"), Some(1048576.0), None, None, Some(30L))))))
    Files.write(new java.io.File(dir, "b1.txt").toPath, body1.getBytes("UTF-8"))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map(l => (java.util.Base64.getDecoder.decode(l), Option(PromProtoParser.ProtoContentType)))
    val q = graft.ops.Ingest.promExposition(src, Map("job" -> "replay")).as[GtsRow]
      .map(g => (g.name, g.labels.toSeq.sorted.map(kv => kv._1 + "=" + kv._2).mkString(","),
        g.ts_us.getOrElse(-1L), g.v_double.getOrElse(Double.NaN)))
      .toDF("name", "labels", "ts_us", "v")
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_promproto_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, body2.getBytes("UTF-8"))
      q.processAllAvailable()
      val got = spark.sql("SELECT name, labels, ts_us, v FROM graft_promproto_out")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      // histogram flattening: +Inf bucket, finite bucket, _sum, _count
      assert(got.contains(("req_total", "job=replay,path=/w", 10000L, 7.0)), s"$got")
      assert(got.contains(("lat_bucket", "job=replay,le=0.5", 20000L, 1.0)), s"$got")
      assert(got.contains(("lat_bucket", "job=replay,le=+Inf", 20000L, 3.0)), s"$got")
      assert(got.contains(("lat_sum", "job=replay", 20000L, 1.25)), s"$got")
      assert(got.contains(("lat_count", "job=replay", 20000L, 3.0)), s"$got")
      // batch 2 arrived with Go-format large-value label semantics intact
      assert(got.contains(("mem_bytes", "area=heap,job=replay", 30000L, 1048576.0)), s"$got")
    } finally q.stop()
  }

  test("streaming quota: admission state persists across micro-batches") {
    import graft.streaming.{QuotaEvent, TokenBans}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_quota").toFile
    val events = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); QuotaEvent(p(0), p(1).toLong, p(2).toLong) }
    val q = TokenBans.quotaLimit(events, limit = 3L)
      .writeStream.outputMode("append").format("memory").queryName("graft_quota_out").start()
    try {
      // batch 1: 2 points for tokA/day0 -> both admitted (2/3 used)
      Files.write(new java.io.File(dir, "b1.txt").toPath,
        "tokA 0 1\ntokA 0 2\ntokB 0 10".getBytes("UTF-8"))
      q.processAllAvailable()
      // batch 2: 2 more for tokA/day0 -> only ONE admitted (state = 2);
      // tokA/day1 is a fresh key -> admitted
      Files.write(new java.io.File(dir, "b2.txt").toPath,
        "tokA 0 3\ntokA 0 4\ntokA 1 20".getBytes("UTF-8"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT id FROM graft_quota_out").as[Long].collect().toSet
      assert(ids == Set(1L, 2L, 3L, 10L, 20L), s"admitted ids: $ids")
    } finally q.stop()
  }

  test("streaming quota: limit beyond Int.MaxValue admits everything (no toInt wrap)") {
    // regression: room = (limit - used).toInt wrapped negative for
    // limits > Int.MaxValue, silently dropping every event for keys far
    // under quota
    import graft.streaming.{QuotaEvent, TokenBans}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_quota_big").toFile
    val events = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); QuotaEvent(p(0), p(1).toLong, p(2).toLong) }
    val q = TokenBans.quotaLimit(events, limit = Long.MaxValue)
      .writeStream.outputMode("append").format("memory").queryName("graft_quota_big_out").start()
    try {
      Files.write(new java.io.File(dir, "b1.txt").toPath,
        "tokA 0 1\ntokA 0 2\ntokA 0 3".getBytes("UTF-8"))
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*) FROM graft_quota_big_out").head.getLong(0)
      assert(n == 3L, s"admitted $n of 3 under an effectively-unlimited quota")
    } finally q.stop()
  }

  test("streaming weighted budget: spend persists across batches, exclusive-prefix cut") {
    // streaming twin of pack_token_budget: per-source token budget with
    // the SAME greedy rule as ops/Sample.budgetCap — admit iff spent-so-
    // far < budget (overshoot ≤ 1 row), resuming across micro-batches
    import graft.streaming.TokenBans
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_budget").toFile
    val rows = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong) }
    val q = TokenBans.budgetLimit(rows, budget = 100L)
      .toDF("src", "id", "w")
      .writeStream.outputMode("append").format("memory").queryName("graft_budget_out").start()
    try {
      // batch 1: srcA spends 40+50=90 (both admitted, 90<100); the next
      // row starts at 90<100 so it IS admitted (overshoot row), then cut
      Files.write(new java.io.File(dir, "b1.txt").toPath,
        "srcA 1 40\nsrcA 2 50\nsrcB 1 10".getBytes("UTF-8"))
      q.processAllAvailable()
      // batch 2: srcA is at 90 — id 3 admitted (90<100, overshoot to 150),
      // id 4 dropped (150>=100); srcB resumes at 10 and admits
      Files.write(new java.io.File(dir, "b2.txt").toPath,
        "srcA 3 60\nsrcA 4 5\nsrcB 2 20".getBytes("UTF-8"))
      q.processAllAvailable()
      val got = spark.sql("SELECT src, id FROM graft_budget_out")
        .as[(String, Long)].collect().toSet
      assert(got == Set(("srcA", 1L), ("srcA", 2L), ("srcA", 3L),
        ("srcB", 1L), ("srcB", 2L)), s"admitted: $got")
    } finally q.stop()
  }

  test("streaming z-score anomaly: stable series quiet, outlier flags, state spans batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_anom").toFile
    val points = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toDouble) }
    val q = graft.streaming.AnomalyProcessor(spark, points)
      .toDF("series", "value", "z", "is_anomaly")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_anomaly_out").start()
    try {
      // batch 1: 8 stable points around 10 — builds history, nothing flags
      val stable = (1 to 8).map(i => s"cpu 10.${i % 4}").mkString("\n")
      Files.write(new java.io.File(dir, "b1.txt").toPath, stable.getBytes("UTF-8"))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM graft_anomaly_out WHERE is_anomaly").head.getLong(0) == 0)
      // batch 2: state persisted across batches — the spike flags, the
      // normal point around the mean does not
      Files.write(new java.io.File(dir, "b2.txt").toPath,
        "cpu 10.2\ncpu 500.0".getBytes("UTF-8"))
      q.processAllAvailable()
      val flagged = spark.sql(
        "SELECT value FROM graft_anomaly_out WHERE is_anomaly").as[Double].collect().toSet
      assert(flagged == Set(500.0), s"flagged: $flagged")
    } finally q.stop()
  }

  test("streaming z-score ring buffer has exact frame parity with the batch trailing-20 window") {
    // the AnomalyProcessor docstring claims the SAME frame as
    // q_zscore_anomaly (ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) — prove
    // it: run the processor's scoring core over a 40-point series whose
    // level shifts mid-way (so ring eviction matters: points after the
    // shift must be scored against the post-shift window, not all history,
    // which is exactly where the old Welford-over-everything state diverged)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val vals = (0 until 40).map { i =>
      val base = if (i < 22) 10.0 else 40.0
      val spike = if (i == 15 || i == 34) 300.0 else 0.0
      base + (i % 5) * 0.7 + spike
    }.toVector
    val (_, scored) =
      graft.streaming.AnomalyProcessor.score(Vector.empty, vals,
        threshold = 3.0, minHistory = 5, window = 20)
    val w = Window.orderBy("i").rowsBetween(-20, -1)
    val batch = vals.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "value")
      .withColumn("mu", avg("value").over(w))
      .withColumn("sd", stddev_samp(col("value")).over(w))
      .withColumn("nw", count("value").over(w))
      .withColumn("live", col("nw") >= 5 && round(col("sd"), 6) > 0)
      .withColumn("z", when(col("live"), (col("value") - col("mu")) / col("sd")).otherwise(0.0))
      .withColumn("flag", col("live") && abs(round(col("z"), 6)) > 3)
      .orderBy("i")
      .select("value", "z", "flag").as[(Double, Double, Boolean)].collect().toVector
    assert(scored.length == batch.length)
    scored.zip(batch).zipWithIndex.foreach { case (((sv, sz, sf), (bv, bz, bf)), i) =>
      assert(sv == bv, s"value mismatch at $i")
      assert(sf == bf, s"flag mismatch at $i: stream z=$sz batch z=$bz")
      assert(math.abs(sz - bz) < 1e-9, s"z mismatch at $i: $sz vs $bz")
    }
    // eviction sanity: both engines flag the two spikes and the shift edge
    assert(scored.count(_._3) == batch.count(_._3))
    assert(scored(15)._3 && scored(34)._3, "spikes must flag in the stream twin")
  }

  test("streaming incremental dedup: bloom prefilter + exact confirm across micro-batches") {
    // the streaming twin of the dedup_incremental batch operator: each
    // micro-batch is prefiltered by a Bloom filter over everything seen
    // so far (bounded sketch, no false negatives), bloom-hits are
    // confirmed by an exact anti-join against the seen-fingerprint store,
    // and only genuinely-new docs pass through + extend the store.
    import org.apache.spark.sql.functions._
    val in = Files.createTempDirectory("graft_incdedup_in").toFile
    val seenDir = Files.createTempDirectory("graft_incdedup_seen").toString + "/fps"
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100000L, 0.01)
    val passed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val stream = spark.readStream.text(in.getAbsolutePath)
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val s = batch.sparkSession
        val d = batch.select(
          split(col("value"), "\\|").getItem(0).cast("long").as("doc_id"),
          md5(split(col("value"), "\\|").getItem(1)).as("fp"))
        val bc = s.sparkContext.broadcast(bloom)
        val might = udf((fp: String) => bc.value.mightContainString(fp))
        val seen =
          if (new java.io.File(seenDir).exists) s.read.parquet(seenDir)
          else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("fp",
                org.apache.spark.sql.types.StringType))))
        val fresh = d.filter(!might(col("fp")))
          .union(d.filter(might(col("fp"))).join(seen, Seq("fp"), "left_anti")
            .select("fp", "doc_id").select(col("doc_id"), col("fp")))
          .dropDuplicates("fp") // within-batch dups collapse too
          .collect()
        fresh.foreach { r =>
          passed.add(r.getLong(0))
          bloom.putString(r.getString(1))
        }
        val sq = s
        import sq.implicits._
        fresh.map(_.getString(1)).toSeq.toDF("fp")
          .write.mode("append").parquet(seenDir)
    }.start()
    try {
      Files.write(new java.io.File(in, "b1.txt").toPath,
        "1|alpha text\n2|beta text\n3|gamma text\n4|alpha text".getBytes("UTF-8"))
      q.processAllAvailable()
      // 4 is a within-batch dup of 1 -> only 1,2,3 pass
      assert(passed.toArray.toSet == Set(1L, 2L, 3L), s"batch1 passed: $passed")
      Files.write(new java.io.File(in, "b2.txt").toPath,
        "5|beta text\n6|delta text\n7|gamma text".getBytes("UTF-8"))
      q.processAllAvailable()
      // 5 and 7 replay seen content across batches -> only 6 is new
      assert(passed.toArray.toSet == Set(1L, 2L, 3L, 6L), s"after batch2: $passed")
    } finally q.stop()
  }

  test("EwmaProcessor matches the batch ts_ewma fold EXACTLY across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_ewma").toFile
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("user_id") < 5)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(r => (r._2, r._3))
    assert(ev.length > 10)
    // a chronological split keeps every key ordered ACROSS batches — the
    // exact-parity precondition the processor documents
    val (b1, b2) = ev.splitAt(ev.length / 2)
    def fmt(rs: Array[(Long, Long, Long, Double)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3} ${r._4}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0).toLong, p(1).toLong, p(2).toLong, p(3).toDouble) }
    val q = graft.streaming.EwmaProcessor(spark, src, Seq(0.25, 0.5))
      .toDF("k", "n", "levels")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_ewma_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      // update mode emits one row per touched key per batch: keep the
      // final (max-n) row per key
      val got = spark.sql("SELECT k, n, levels FROM graft_ewma_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
        .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
      val want = graft.ops.Series.ewmaLast(
          Tables.events(spark, "/root/testdata/sf0.001").filter(col("user_id") < 5),
          "user_id", "ts_us", "event_id", "value", Seq(0.25, 0.5))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .toMap
    assert(got.keySet == want.keySet)
      got.foreach { case (k, (_, n, levels)) =>
        val (wn, w25, w50) = want(k)
        assert(n == wn, s"count for key $k")
        // EXACT double equality: identical fold order, identical IEEE ops
        assert(levels(0) == w25 && levels(1) == w50,
          s"key $k: streaming $levels vs batch ($w25, $w50)")
      }
    } finally q.stop()
  }

  test("HoltProcessor matches the batch ts_holt_forecast fold EXACTLY across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_holt").toFile
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("user_id") < 5)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._2, r._3))
    assert(ev.length > 10)
    // chronological split: every key stays ordered across batches — the
    // processor's exact-parity precondition
    val (b1, b2) = ev.splitAt(ev.length / 2)
    def fmt(rs: Array[(Long, Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3} ${r._4}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0).toLong, p(1).toLong, p(2).toLong, p(3).toLong) }
    val q = graft.streaming.HoltProcessor(spark, src)
      .toDF("k", "n", "level_c", "trend_c", "fc3_c")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_holt_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql("SELECT k, n, level_c, trend_c, fc3_c FROM graft_holt_out")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2._1)._2 }
      val want = graft.queries.Series.tsHoltForecast.fn(spark, "/root/testdata/sf0.001")
        .filter(col("user_id") < 5)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      assert(got.keySet == want.keySet)
      // BIT-EXACT: the integer recurrence admits no tolerance
      got.foreach { case (k, g) => assert(g == want(k), s"key $k: $g vs ${want(k)}") }
    } finally q.stop()
  }

  test("SloBurnProcessor matches the batch ts_slo_burn rows EXACTLY across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_slo").toFile
    // constant key 0: the batch query is the single-series instance of
    // the keyed streaming monitor
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("ts_us"),
        expr("CASE WHEN event_type = 'error' THEN 1L ELSE 0L END").as("err"))
      .collect().map(r => (0L, r.getLong(0), r.getLong(1)))
      .sortBy(_._2)
    assert(ev.length > 100)
    // chronological split: the partial tail hour of batch 1 is re-emitted
    // corrected in batch 2 (update mode — last row per hour wins)
    val (b1, b2) = ev.splitAt(ev.length / 2)
    def fmt(rs: Array[(Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0).toLong, p(1).toLong, p(2).toLong) }
    val q = graft.streaming.SloBurnProcessor(spark, src)
      .toDF("k", "h", "n", "ne", "burn1_bp", "burn6_bp", "page", "ticket")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_slo_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      // per hour keep the final correction (max n — counts only grow)
      val got = spark.sql(
          "SELECT h, n, ne, burn1_bp, burn6_bp, page, ticket FROM graft_slo_out")
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5), r.getBoolean(6))))
        .groupBy(_._1).map { case (h, rows) => h -> rows.maxBy(_._2._1)._2 }
      val want = graft.queries.Series.tsSloBurn.fn(spark, "/root/testdata/sf0.001")
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5), r.getBoolean(6))))
        .toMap
      assert(got.keySet == want.keySet, s"hour grids differ: ${got.keySet} vs ${want.keySet}")
      // BIT-EXACT: integer floor division admits no tolerance
      got.foreach { case (h, g) => assert(g == want(h), s"hour $h: $g vs ${want(h)}") }
    } finally q.stop()
  }

  test("TempMixProcessor matches the batch temperature allocation EXACTLY per batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_mix").toFile
    val srcs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(srcs.length > 50)
    val (b1, b2) = srcs.splitAt(srcs.length / 2)
    def fmt(rs: Array[(Long, String)]): Array[Byte] =
      rs.map(r => s"${r._2} 1").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong) }
    val q = graft.streaming.TempMixProcessor(spark, src, budget = 100L)
      .toDF("source", "n_rows", "weight", "alloc")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_mix_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      // final manifest per source = the row with the max count
      val got = spark.sql("SELECT source, n_rows, weight, alloc FROM graft_mix_out")
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .groupBy(_._1).map { case (s, rows) => s -> rows.maxBy(_._2._1)._2 }
      val want = graft.ops.Sample.temperatureAlloc(
          Tables.t(spark, "/root/testdata/sf0.001", "documents"), "source", 100L)
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(got.keySet == want.keySet, s"strata differ: ${got.keySet} vs ${want.keySet}")
      got.foreach { case (s, g) => assert(g == want(s), s"stratum $s: $g vs ${want(s)}") }
      assert(got.values.map(_._3).sum == 100L, "allocation must sum to the budget")
    } finally q.stop()
  }

  test("LshGateProcessor: streamed candidate set == batch candidatePairs, any split") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_lshgate").toFile
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val sigs = graft.ops.Lsh.signatures(
      graft.ops.Lsh.shingles(docs, "doc_id", "text", n = 3), "doc_id").persist()
    // one line per band row: "band|bsig docId" — split at a DOC boundary
    // (a doc's band rows travel together, like a real ingest)
    val rows = graft.ops.Lsh.bandRows(sigs, "doc_id")
      .select(col("doc_id"), col("band"), col("bsig"))
      .collect().map(r => (r.getLong(0), s"${r.get(1)}|${r.getString(2)}"))
      .sortBy(_._1)
    val cut = rows.map(_._1).distinct.apply(rows.map(_._1).distinct.length / 2)
    val (b1, b2) = rows.partition(_._1 < cut)
    def fmt(rs: Array[(Long, String)]): Array[Byte] =
      rs.map(r => s"${r._2} ${r._1}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong) }
    val q = graft.streaming.LshGateProcessor(spark, src).toDF("d1", "d2")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_lsh_gate").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql("SELECT d1, d2 FROM graft_lsh_gate").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = graft.ops.Lsh.candidatePairs(sigs, "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(want.nonEmpty, "batch candidate set unexpectedly empty")
      assert(got == want, s"streamed vs batch candidates: " +
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    } finally q.stop()
  }

  test("prefix gate: streamed prefix-posting buckets + exact verify == dedup_prefix_filter") {
    // the prefix-filter miner streams through the SAME unchanged gate as
    // text LSH and phash: bucket key = the prefix gram itself, the exact
    // Jaccard check filters candidates, and the result must equal the
    // batch prefix-filter query (whose df belt is vacuous at this SF)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_prefixgate").toFile
    val sfDir = "/root/testdata/sf0.001"
    val docs = Tables.t(spark, sfDir, "documents")
    val sh = graft.ops.Lsh.shingles(docs, "doc_id", "text", n = 3).persist()
    val pre = graft.ops.Lsh.prefixPostings(sh, "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val sets: Map[Long, Set[String]] = sh.collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    // grams contain spaces — doc id leads the line, split ONCE
    val rows = pre.sortBy(_._1)
    val cut = {
      val ids = rows.map(_._1).distinct
      ids(ids.length / 2)
    }
    val (b1, b2) = rows.partition(_._1 < cut)
    def fmt(rs: Array[(Long, String)]): Array[Byte] =
      rs.map(r => s"${r._1} pf|${r._2}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" ", 2); (p(1), p(0).toLong) }
    val q = graft.streaming.LshGateProcessor(spark, src).toDF("d1", "d2")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_prefix_gate").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql("SELECT DISTINCT d1, d2 FROM graft_prefix_gate").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (a, b) =>
          val i = (sets(a) intersect sets(b)).size.toLong
          2L * i >= sets(a).size + sets(b).size - i
        }.toSet
      val want = graft.queries.Dedup.prefixFilter.fn(spark, sfDir)
        .select("d1", "d2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(want.nonEmpty, "batch prefix-filter pair set unexpectedly empty")
      assert(got == want, s"streamed vs batch prefix pairs: " +
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    } finally q.stop()
  }

  test("phash gate: streamed banded image near-dups == multimodal_phash_pairs") {
    // the image near-dup miner is the SAME gate as text LSH — band keys
    // from the perceptual hash stream through LshGateProcessor, the
    // exact popcount(xor) distance filters the candidates, and the
    // result must equal the batch pair miner. The streamed gate uses
    // the simple 4x16 pigeonhole while the batch miner uses the r13
    // clean-triple keys + representative layer — BOTH are complete for
    // Hamming <= 3, and the exact distance filter equalizes the
    // candidate supersets (caps vacuous at this SF), so set equality
    // is the correct pin across the two constructions
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_phashgate").toFile
    val sfDir = "/root/testdata/sf0.001"
    val hashes = graft.queries.TextOps.multimodalPhash.fn(spark, sfDir)
      .select("doc_id", "ahash")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val hmap = hashes.toMap
    // 4 bands × 16 bits, one line per band row "bi|bandval docId"
    val rows = hashes.flatMap { case (id, h) =>
      (0 until 4).map(bi => (id, s"$bi|${(h >> (16 * bi)) & 0xFFFFL}"))
    }.sortBy(_._1)
    val cut = {
      val ids = rows.map(_._1).distinct
      ids(ids.length / 2)
    }
    val (b1, b2) = rows.partition(_._1 < cut)
    def fmt(rs: Array[(Long, String)]): Array[Byte] =
      rs.map(r => s"${r._2} ${r._1}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong) }
    val q = graft.streaming.LshGateProcessor(spark, src).toDF("d1", "d2")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_phash_gate").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql("SELECT DISTINCT d1, d2 FROM graft_phash_gate").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (a, b) =>
          java.lang.Long.bitCount(hmap(a) ^ hmap(b)) <= 3
        }.toSet
      val want = graft.queries.TextOps.multimodalPhashPairs.fn(spark, sfDir)
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(want.nonEmpty, "batch phash pair set unexpectedly empty")
      assert(got == want, s"streamed vs batch phash pairs: " +
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    } finally q.stop()
  }

  test("symspell gate: streamed deletion-variant buckets == dedup_symspell pairs") {
    // the token-edit-distance miner is the SAME gate again: deletion
    // variants (the full prefix plus each single-token deletion) stream
    // through LshGateProcessor keyed on the variant STRING, the exact
    // edit-distance-<=1 checker filters the candidates, and the result
    // must equal the batch dedup_symspell pair set (whose df-cap at 128
    // is vacuous at this SF)
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_symgate").toFile
    val sfDir = "/root/testdata/sf0.001"
    val corpus = graft.queries.Dedup.symspellCorpus(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toVector))
    val tok = corpus.toMap
    val rows = corpus.flatMap { case (id, t) =>
      val full = t.mkString(" ")
      val dels = t.indices.map(p => (t.take(p) ++ t.drop(p + 1)).mkString(" "))
      (full +: dels).map(v => (id, v))
    }.sortBy(_._1)
    val cut = { val ids = rows.map(_._1).distinct; ids(ids.length / 2) }
    val (b1, b2) = rows.partition(_._1 < cut)
    def fmt(rs: Array[(Long, String)]): Array[Byte] =
      rs.map(r => s"${r._2}\t${r._1}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split('\t'); (p(0), p(1).toLong) }
    val q = graft.streaming.LshGateProcessor(spark, src).toDF("d1", "d2")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_sym_gate").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      // exact verify: the batch query's kind taxonomy, recomputed
      def kind(a: Vector[String], b: Vector[String]): Option[String] = {
        if (a == b) Some("dup")
        else if (a.length == b.length) {
          if (a.indices.count(i => a(i) != b(i)) == 1) Some("sub") else None
        } else {
          val (lo, hi) = if (a.length < b.length) (a, b) else (b, a)
          if (hi.length == lo.length + 1 &&
            hi.indices.exists(p => hi.take(p) ++ hi.drop(p + 1) == lo)) Some("del")
          else None
        }
      }
      val got = spark.sql("SELECT DISTINCT d1, d2 FROM graft_sym_gate").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .flatMap { case (a, b) => kind(tok(a), tok(b)).map(k => (a, b, k)) }.toSet
      val want = graft.queries.Dedup.symspell.fn(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(want.nonEmpty, "batch symspell pair set unexpectedly empty")
      assert(got == want, s"streamed vs batch symspell pairs: " +
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    } finally q.stop()
  }

  test("OrdinalProcessor: streamed pattern counts == ts_ordinal_patterns histogram") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_ordinal").toFile
    val sfDir = "/root/testdata/sf0.001"
    // the hourly series the batch query folds, in series order
    val hourly = Tables.events(spark, sfDir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (r._1, r._2))
    // split at a GLOBAL hour cutoff: per-key order is preserved across
    // the two files (the fold-twin ordering precondition)
    val hs = hourly.map(_._2).distinct.sorted
    val cut = hs(hs.length / 2)
    val (b1, b2) = hourly.partition(_._2 < cut)
    def fmt(rs: Array[(String, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong) }
    val q = graft.streaming.OrdinalProcessor(spark, src).toDF("k", "pattern")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_ordinal").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql("SELECT k, pattern, count(*) AS n FROM graft_ordinal GROUP BY k, pattern")
        .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
      val want = graft.queries.Series.tsOrdinalPatterns.fn(spark, sfDir)
        .select("event_type", "pattern", "n")
        .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
      assert(want.nonEmpty, "batch pattern histogram unexpectedly empty")
      assert(got == want, s"streamed vs batch patterns: " +
        s"missing=${(want.toSet -- got.toSet).take(5)} extra=${(got.toSet -- want.toSet).take(5)}")
    } finally q.stop()
  }

  test("GapStatsProcessor: running gap moments == ts_burstiness after the full stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_gapstats").toFile
    val sfDir = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts_us"), col("event_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (r._1, r._2, r._3))
    // split at a global time cutoff: per-key (ts, id) order holds across files
    val ts = rows.map(_._2).sorted
    val cut = ts(ts.length / 2)
    val (b1, b2) = rows.partition(_._2 < cut)
    def fmt(rs: Array[(String, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong) }
    val q = graft.streaming.GapStatsProcessor(spark, src)
      .toDF("k", "n", "mu", "sigma", "b")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_gapstats").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      // final emission per key = the row with the max n
      val got = spark.sql(
        """SELECT k, n, mu, sigma, b FROM (
            SELECT *, row_number() OVER (PARTITION BY k ORDER BY n DESC) AS rn
            FROM graft_gapstats) WHERE rn = 1""")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val want = graft.queries.Series.tsBurstiness.fn(spark, sfDir)
        .select("event_type", "n_gaps", "mean_gap_s", "sigma_gap_s", "burstiness_e4")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(want.nonEmpty, "batch burstiness unexpectedly empty")
      assert(got == want, s"streamed vs batch gap stats: got=$got want=$want")
    } finally q.stop()
  }

  test("GapMemoryProcessor: running lag-1 gap correlation == ts_gap_memory after the full stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_gapmem").toFile
    val sfDir = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts_us"), col("event_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (r._1, r._2, r._3))
    // split at a global time cutoff: per-key (ts, id) order holds across files
    val ts = rows.map(_._2).sorted
    val cut = ts(ts.length / 2)
    val (b1, b2) = rows.partition(_._2 < cut)
    def fmt(rs: Array[(String, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong) }
    val q = graft.streaming.GapMemoryProcessor(spark, src)
      .toDF("k", "n", "mem")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_gapmem").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT k, n, mem FROM (
            SELECT *, row_number() OVER (PARTITION BY k ORDER BY n DESC) AS rn
            FROM graft_gapmem) WHERE rn = 1""")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      val want = graft.queries.Series.tsGapMemory.fn(spark, sfDir)
        .select("event_type", "n_pairs", "memory_e4")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      assert(want.nonEmpty, "batch gap memory unexpectedly empty")
      assert(got == want, s"streamed vs batch gap memory: got=$got want=$want")
    } finally q.stop()
  }

  test("MannKendallProcessor: running windowed trend test == ts_mann_kendall after the full stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_mk").toFile
    val sfDir = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (r._1, r._2))
    // split at a global time cutoff: per-key ts order holds across files
    val ts = rows.map(_._2).sorted
    val cut = ts(ts.length / 2)
    val (b1, b2) = rows.partition(_._2 < cut)
    def fmt(rs: Array[(String, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong) }
    val q = graft.streaming.MannKendallProcessor(spark, src)
      .toDF("k", "n_pairs", "s", "n_ties", "tau_bp")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_mk").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      // final emission per key = the newest batch's row (max pairs seen)
      val got = spark.sql(
        """SELECT k, n_pairs, s, n_ties, tau_bp FROM (
            SELECT *, row_number() OVER (PARTITION BY k ORDER BY n_pairs DESC) AS rn
            FROM graft_mk) WHERE rn = 1""")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val want = graft.queries.Series.tsMannKendall.fn(spark, sfDir)
        .select("event_type", "n_pairs", "s", "n_ties", "tau_bp")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(want.nonEmpty, "batch mann-kendall unexpectedly empty")
      assert(got == want, s"streamed vs batch mann-kendall: got=$got want=$want")
    } finally q.stop()
  }

  test("BenfordProcessor: running digit audit == quality_benford after the full stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val dir = Files.createTempDirectory("graft_benford").toFile
    val sfDir = "/root/testdata/sf0.001"
    val rows = graft.Tables.t(spark, sfDir, "lineitem")
      .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("c"))
      .collect().map(r => r.getLong(0))
    // order-insensitive: arbitrary split, no sort anywhere
    val (b1, b2) = rows.splitAt(rows.length / 3)
    def fmt(rs: Array[Long]): Array[Byte] =
      rs.map(c => s"all $c").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong) }
    val q = graft.streaming.BenfordProcessor(spark, src)
      .toDF("k", "digit", "n", "total", "share_bp", "benford_bp", "dev_bp")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_benford").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT digit, n, total, share_bp, benford_bp, dev_bp FROM (
            SELECT *, row_number() OVER (PARTITION BY digit ORDER BY total DESC) AS rn
            FROM graft_benford) WHERE rn = 1""")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getLong(4)),
            if (r.isNullAt(5)) None else Some(r.getLong(5)))).toMap
      val want = graft.queries.Quality.qualityBenford.fn(spark, sfDir)
        .select("digit", "n", "total", "share_bp", "benford_bp", "dev_bp")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getLong(4)),
            if (r.isNullAt(5)) None else Some(r.getLong(5)))).toMap
      assert(want.nonEmpty, "batch benford unexpectedly empty")
      assert(got == want, s"streamed vs batch benford: got=$got want=$want")
    } finally q.stop()
  }

  test("HistogramQuantileProcessor: running bucketed quantiles == ts_histogram_quantile after the full stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_hq").toFile
    val sfDir = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // order-insensitive: arbitrary split, no sort anywhere
    val (b1, b2) = rows.splitAt(rows.length / 3)
    def fmt(rs: Array[(String, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong) }
    val q = graft.streaming.HistogramQuantileProcessor(spark, src)
      .toDF("k", "phi_bp", "total", "q_e4")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_hq").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT k, phi_bp, total, q_e4 FROM (
            SELECT *, row_number() OVER (PARTITION BY k, phi_bp ORDER BY total DESC) AS rn
            FROM graft_hq) WHERE rn = 1""")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      val want = graft.queries.Series.tsHistogramQuantile.fn(spark, sfDir)
        .select("event_type", "phi_bp", "total", "q_e4")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      assert(want.nonEmpty, "batch histogram quantile unexpectedly empty")
      assert(got == want, s"streamed vs batch histogram quantile: got=$got want=$want")
    } finally q.stop()
  }

  test("HdrProcessor: streamed quantiles == sketch_hdr_quantiles under shuffled slicing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_hdr").toFile
    val sfDir = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sfDir)
      .selectExpr("event_type", "CAST(round(value * 100) AS BIGINT) AS cents")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // ADVERSARIAL slicing: globally shuffled, split mid-key — the HDR
    // sketch is order-free (pure bucket counts), so parity must hold
    // even where the sorted-input processors' contract would not
    val shuffled = new scala.util.Random(7).shuffle(rows.toSeq)
    val (b1, b2) = shuffled.splitAt(shuffled.length / 3)
    def fmt(rs: Seq[(String, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong) }
    val q = graft.streaming.HdrProcessor(spark, src)
      .toDF("k", "n", "p50", "p90", "p99")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_hdr").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT k, n, p50, p90, p99 FROM (
            SELECT *, row_number() OVER (PARTITION BY k ORDER BY n DESC) AS rn
            FROM graft_hdr) WHERE rn = 1""")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val batch = graft.queries.Sketches.hdrQuantiles.fn(spark, sfDir)
        .select("event_type", "phi_bp", "n", "q_est_c")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val want = batch.groupBy(_._1).map { case (k, rs) =>
        val byPhi = rs.map(r => r._2 -> r._4).toMap
        k -> (rs.head._3, byPhi(5000L), byPhi(9000L), byPhi(9900L))
      }
      assert(want.nonEmpty, "batch hdr quantiles unexpectedly empty")
      assert(got == want, s"streamed vs batch hdr quantiles: got=$got want=$want")
    } finally q.stop()
  }

  test("MatrixProfileProcessor: streamed banded profile == brute force per position") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_mp").toFile
    val sfDir = "/root/testdata/sf0.001"
    val hourly = Tables.events(spark, sfDir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (r._1, r._2))
    // in-order split at a global h cutoff (per-key order holds across files)
    val hs = hourly.map(_._2).sorted
    val cut = hs(hs.length / 2)
    val (b1, b2) = hourly.partition(_._2 < cut)
    def fmt(rs: Array[(String, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong) }
    val q = graft.streaming.MatrixProfileProcessor(spark, src)
      .toDF("k", "pos", "sad", "nn", "ver")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_mp").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT k, pos, sad, nn FROM (
            SELECT *, row_number() OVER (PARTITION BY k, pos ORDER BY ver DESC) AS rn
            FROM graft_mp) WHERE rn = 1""")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      // independent brute-force banded SAD profile (1-based positions,
      // |j-i| in [4,48], ties to the smallest neighbor — the batch order)
      val want = hourly.groupBy(_._1).flatMap { case (k, rs) =>
        val vs = rs.sortBy(_._2).map(_._3)
        val nSub = vs.length - 3
        (1 to nSub).flatMap { i =>
          val cands = (1 to nSub)
            .filter(j => math.abs(j - i) >= 4 && math.abs(j - i) <= 48)
            .map { j =>
              ((0 until 4).map(t => math.abs(vs(i - 1 + t) - vs(j - 1 + t))).sum, j.toLong)
            }
          if (cands.isEmpty) None else Some((k, i.toLong) -> cands.min)
        }
      }.toMap
      assert(want.nonEmpty, "brute-force profile unexpectedly empty")
      assert(got == want,
        s"streamed vs brute-force profile: sizes got=${got.size} want=${want.size}, " +
          s"first diff=${(got.toSet diff want.toSet).take(3)}")
    } finally q.stop()
  }

  test("MsfProcessor: online forest == batch Boruvka MSF under shuffled arrivals") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_msf").toFile
    val sfDir = "/root/testdata/sf0.001"
    // the SAME weighted similarity edges graph_mst_boruvka consumes
    val edges = graft.queries.Graphs.jaccardNbrs.fn(spark, sfDir)
      .selectExpr("ua", "ub", "10000 - jacc_bp AS w")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // order-free contract: shuffle globally, split anywhere — the MSF
    // is unique under the strict (w, lo, hi) order
    val shuffled = new scala.util.Random(11).shuffle(edges.toSeq)
    val (b1, b2) = shuffled.splitAt(shuffled.length / 3)
    def fmt(rs: Seq[(Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"g ${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong, p(3).toLong) }
    val q = graft.streaming.MsfProcessor(spark, src)
      .toDF("k", "lo", "hi", "w", "ver")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_msf").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT lo, hi, w FROM (
            SELECT *, max(ver) OVER (PARTITION BY k) AS mv FROM graft_msf)
           WHERE ver = mv""")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = graft.queries.Graphs.mstBoruvka.fn(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(want.nonEmpty, "batch MSF unexpectedly empty")
      assert(got == want, s"online vs batch MSF: extra=${got diff want} missing=${want diff got}")
    } finally q.stop()
  }

  test("GramGateProcessor: streamed dotplot matches + islands agg == dedup_max_span") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, min, row_number}
    import org.apache.spark.sql.expressions.Window
    val dir = Files.createTempDirectory("graft_gramgate").toFile
    val sfDir = "/root/testdata/sf0.001"
    val docs = Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), graft.ops.Text.words(col("text")).as("w"))
    // the positional 5-gram index, one line per occurrence "gh doc pos",
    // split at a DOC boundary (a doc's gram rows travel together)
    val rows = graft.ops.Text.gramPositionIndex(docs, "doc_id", "w", 5)
      .select(col("gh"), col("doc_id"), col("p"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (r._2, r._3))
    val ids = rows.map(_._2).distinct
    val cut = ids(ids.length / 2)
    val (b1, b2) = rows.partition(_._2 < cut)
    def fmt(rs: Array[(Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0).toLong, p(1).toLong, p(2).toLong) }
    val q = graft.streaming.GramGateProcessor(spark, src).toDF("da", "pa", "db", "pb")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_gram_gate").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val matches = spark.sql("SELECT DISTINCT da, pa, db, pb FROM graft_gram_gate")
      // batch m relation: the capped index self-joined on the gram hash
      // (no gram saturates at sf0.001 — max occupancy 4 — so the gate's
      // first-cap truncation and the batch n_occ filter both no-op)
      val idx = graft.ops.Text.gramPositionIndex(docs, "doc_id", "w", 5)
        .withColumn("n_occ", count(lit(1)).over(Window.partitionBy("gh")))
        .filter(col("n_occ") <= 50)
      val want = idx.select(col("doc_id").as("da"), col("p").as("pa"), col("gh"))
        .join(idx.select(col("doc_id").as("db"), col("p").as("pb"), col("gh")), "gh")
        .filter(col("da") < col("db")).select("da", "pa", "db", "pb")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val got = matches.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(want.nonEmpty, "batch match relation unexpectedly empty")
      assert(got == want, s"streamed vs batch matches: " +
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      // capstone: the batch islands aggregation over the STREAMED matches
      // reproduces the registered detector's spans exactly
      val runs = Window.partitionBy("da", "db", "diag").orderBy("pa")
      val spans = matches.withColumn("diag", col("pa") - col("pb"))
        .withColumn("isl", col("pa") - row_number().over(runs))
        .groupBy("da", "db", "diag", "isl")
        .agg(min("pa").as("start_a"), min("pb").as("start_b"),
          (count(lit(1)) + 4).as("span_tokens"))
        .filter(col("span_tokens") >= 8)
        .select("da", "db", "start_a", "start_b", "span_tokens")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val wantSpans = graft.queries.Dedup.dedupMaxSpan.fn(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(wantSpans.nonEmpty, "detector found no spans at sf0.001")
      assert(spans == wantSpans, s"streamed spans vs dedup_max_span: " +
        s"missing=${(wantSpans -- spans).take(3)} extra=${(spans -- wantSpans).take(3)}")
    } finally q.stop()
  }

  test("GramGateProcessor: bucket saturates at the cap — later arrivals dropped") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_gramcap").toFile
    // one gram, 4 occurrences across 2 micro-batches, cap 3: the 4th
    // (doc 4) is never stored and never emits
    Files.write(new java.io.File(dir, "b1.txt").toPath,
      "7 1 10\n7 2 20".getBytes("UTF-8"))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0).toLong, p(1).toLong, p(2).toLong) }
    val q = graft.streaming.GramGateProcessor(spark, src, cap = 3)
      .toDF("da", "pa", "db", "pb")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_gram_cap").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath,
        "7 3 30\n7 4 40".getBytes("UTF-8"))
      q.processAllAvailable()
      val got = spark.sql("SELECT da, pa, db, pb FROM graft_gram_cap").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == Set((1L, 10L, 2L, 20L), (1L, 10L, 3L, 30L), (2L, 20L, 3L, 30L)),
        s"cap semantics: $got")
    } finally q.stop()
  }

  test("SloBurnLateProcessor: watermark drops late points, admitted points match the ring") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_slolate").toFile
    val H = 3600000000L // one hour in µs
    // batch 1 — key 0: hour 100 (4 points, 1 err), hour 102 (2 points,
    // both err). Max event = 102h+30min → watermark after the batch
    // ("2 hours" delay) = 100h+30min.
    val b1 = Seq(
      (0L, 100 * H + 1_000_000L, 1L), (0L, 100 * H + 2_000_000L, 0L),
      (0L, 100 * H + 3_000_000L, 0L), (0L, 100 * H + 4_000_000L, 0L),
      (0L, 102 * H + 1_000_000L, 1L), (0L, 102 * H + 1800 * 1_000_000L, 1L))
    // batch 2: one LATE point (99h+10min < watermark — must be dropped,
    // would otherwise resurrect an hour below the ring) and one on-time
    // error at 102h+40min
    val b2 = Seq(
      (0L, 99 * H + 600 * 1_000_000L, 0L),
      (0L, 102 * H + 2400 * 1_000_000L, 1L))
    def fmt(rs: Seq[(Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0).toLong, p(1).toLong, p(2).toLong) }
    val q = graft.streaming.SloBurnLateProcessor(spark, src)
      .toDF("k", "h", "n", "ne", "burn1_bp", "burn6_bp", "page", "ticket")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_slo_late").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT k, h, n, ne, burn1_bp, burn6_bp, page, ticket FROM graft_slo_late")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getBoolean(6), r.getBoolean(7))).toSet
      // hand-computed: batch 1 emits h=100 (burn1 = 1·50000/4) and
      // h=102 (window {100,102}: 3 errs / 6 → 25000); batch 2 re-emits
      // ONLY h=102 with the admitted error folded in (4 errs / 7).
      val want = Set(
        (0L, 100L, 4L, 1L, 12500L, 12500L, false, true),
        (0L, 102L, 2L, 2L, 50000L, 25000L, true, true),
        (0L, 102L, 3L, 3L, 50000L, 28571L, true, true))
      assert(got == want, s"late-gated ring: got=$got")
      // the late point left no trace: no h=99 row, h=100 never re-emitted
      assert(!got.exists(_._2 == 99L), "late point must be dropped")
      assert(got.count(_._2 == 100L) == 1, "h=100 must not be re-emitted by the late point")
    } finally q.stop()
  }

  test("AttributionProcessor: streamed purchase credits == batch window fold") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, col, expr, first, last, lit, when}
    val dir = Files.createTempDirectory("graft_attr").toFile
    val sfDir = "/root/testdata/sf0.001"
    val pts = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("rev_c"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
      .sortBy(p => (p._2, p._3)) // global (ts, id) order => per-key order across batches
    val (b1, b2) = pts.splitAt(pts.length / 2)
    def fmt(rs: Seq[(Long, Long, Long, String, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3} ${r._4} ${r._5}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1.toSeq))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0).toLong, p(1).toLong, p(2).toLong, p(3), p(4).toLong) }
    val q = graft.streaming.AttributionProcessor(spark, src)
      .toDF("user_id", "ts_us", "event_id", "last_touch", "first_touch", "rev_c")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_attr_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2.toSeq))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM graft_attr_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
          r.getString(4), r.getLong(5))).toSet
      // batch truth: the q_attribution window fold BEFORE aggregation
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val want = Tables.events(spark, sfDir)
        .withColumn("touch", when(col("event_type") =!= "purchase", col("event_type")))
        .withColumn("lt", coalesce(last("touch", ignoreNulls = true).over(w), lit("(none)")))
        .withColumn("ft", coalesce(first("touch", ignoreNulls = true).over(w), lit("(none)")))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("event_id"), col("lt"), col("ft"),
          expr("CAST(round(value * 100) AS BIGINT)"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
          r.getString(4), r.getLong(5))).toSet
      assert(want.nonEmpty, "batch attribution unexpectedly empty")
      assert(got == want, s"streamed vs batch attribution: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("AttributionProcessor recovers first/last-touch state across a checkpoint restart") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, col, expr, first, last, lit, when}
    val sfDir = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft_attr_ck_in").toFile
    val ckpt = Files.createTempDirectory("graft_attr_ck").toString
    val pts = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("rev_c"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
      .sortBy(p => (p._2, p._3))
    val (b1, b2) = pts.splitAt(pts.length / 2)
    def fmt(rs: Seq[(Long, Long, Long, String, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3} ${r._4} ${r._5}").mkString("\n").getBytes("UTF-8")
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, String, String, Long)]()
    def start() = {
      val src = spark.readStream.text(dir.getAbsolutePath).as[String]
        .map { l => val p = l.split(" "); (p(0).toLong, p(1).toLong, p(2).toLong, p(3), p(4).toLong) }
      graft.streaming.AttributionProcessor(spark, src)
        .toDF("user_id", "ts_us", "event_id", "last_touch", "first_touch", "rev_c")
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => out.add((r.getLong(0), r.getLong(1), r.getLong(2),
            r.getString(3), r.getString(4), r.getLong(5))))
        }
        .option("checkpointLocation", ckpt).start()
    }
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1.toSeq))
    val q1 = start(); q1.processAllAvailable(); q1.stop() // simulated failure
    Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2.toSeq))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = out.toArray(Array.empty[(Long, Long, Long, String, String, Long)]).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val want = Tables.events(spark, sfDir)
      .withColumn("touch", when(col("event_type") =!= "purchase", col("event_type")))
      .withColumn("lt", coalesce(last("touch", ignoreNulls = true).over(w), lit("(none)")))
      .withColumn("ft", coalesce(first("touch", ignoreNulls = true).over(w), lit("(none)")))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id"), col("lt"), col("ft"),
        expr("CAST(round(value * 100) AS BIGINT)"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getString(4), r.getLong(5))).toSet
    assert(want.nonEmpty, "batch attribution unexpectedly empty")
    assert(got == want, s"post-restart attribution parity: " +
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("CusumProcessor: streamed completed hours == batch ts_cusum_alarm rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_cusum").toFile
    val sfDir = "/root/testdata/sf0.001"
    // refs from the SAME integer math the batch query uses (hindsight
    // μ/MAD become the monitor's fixed control parameters)
    val hb = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("ts_us DIV 3600000000").as("h"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("event_type", "h").agg(expr("sum(cents) DIV count(1)").as("m"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val refs = hb.groupBy(_._1).map { case (et, rows) =>
      val ms = rows.map(_._3)
      val mu = ms.sum / ms.length
      val mad = math.max(1L, ms.map(m => math.abs(m - mu)).sum / ms.length)
      et -> ((mu, math.max(1L, mad / 2), 5 * mad))
    }
    val pts = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
    // split at an hour boundary + sentinel far-future point per key to
    // flush the final real hour (the sentinel hour never completes)
    val cutTs = (pts(pts.length / 2)._2 / 3600000000L + 1) * 3600000000L
    val (b1, b2) = pts.partition(_._2 < cutTs)
    val maxH = pts.map(_._2).max / 3600000000L
    val sentinels = refs.keys.map(et => (et, (maxH + 10) * 3600000000L, 0L))
    def fmt(rs: Seq[(String, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1.toSeq))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong) }
    val q = graft.streaming.CusumProcessor(spark, src, refs)
      .toDF("event_type", "h", "mean_cents", "cusum_hi", "cusum_lo",
        "alarm_hi", "alarm_lo")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_cusum_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath,
        fmt(b2.toSeq ++ sentinels))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM graft_cusum_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5), r.getBoolean(6))).toSet
      val want = graft.queries.Series.tsCusumAlarm.fn(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6))).toSet
      assert(want.nonEmpty, "batch cusum unexpectedly empty")
      assert(got == want, s"streamed vs batch cusum: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("PageHinkleyProcessor: streamed final rows == batch ts_page_hinkley BIT-EXACT") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_ph").toFile
    val sfDir = "/root/testdata/sf0.001"
    val pts = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
    // split at an hour boundary + one far-future sentinel point per key
    // so the final REAL hour completes (the sentinel hour never does)
    val cutTs = (pts(pts.length / 2)._2 / 3600000000L + 1) * 3600000000L
    val (b1, b2) = pts.partition(_._2 < cutTs)
    val maxH = pts.map(_._2).max / 3600000000L
    val keys = pts.map(_._1).distinct.toSeq
    val sentinels = keys.map(et => (et, (maxH + 10) * 3600000000L, 0L))
    def fmt(rs: Seq[(String, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1.toSeq))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong) }
    val q = graft.streaming.PageHinkleyProcessor(spark, src)
      .toDF("event_type", "h", "mean_cents", "n_hours", "ph", "ph_max",
        "n_alarm_hours", "first_alarm_h")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_ph_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath,
        fmt(b2.toSeq ++ sentinels))
      q.processAllAvailable()
      // the running aggregate at the LAST completed hour per key is the
      // batch answer
      val got = spark.sql(
        """SELECT event_type, n_hours, ph_max, n_alarm_hours, first_alarm_h
           FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                   ORDER BY n_hours DESC) AS _rn FROM graft_ph_out)
           WHERE _rn = 1""")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), if (r.getLong(4) == -1L) None else Some(r.getLong(4)))).toSet
      val want = graft.queries.Series.tsPageHinkley.fn(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSet
      assert(want.nonEmpty, "batch page-hinkley unexpectedly empty")
      assert(got == want, s"streamed vs batch page-hinkley: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("KalmanProcessor: streamed final state == batch ts_kalman BIT-EXACT") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_kalman").toFile
    val sfDir = "/root/testdata/sf0.001"
    val pts = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts_us"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._2, r._3))
    assert(pts.length > 100)
    // chronological split keeps each key ordered ACROSS batches — the
    // exact-parity precondition the processor documents
    val (b1, b2) = pts.splitAt(pts.length / 2)
    def fmt(rs: Array[(String, Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3} ${r._4}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong, p(3).toLong) }
    val q = graft.streaming.KalmanProcessor(spark, src)
      .toDF("event_type", "n_points", "nis_alarms", "level_c", "var_c2")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_kalman_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      // update mode emits one row per touched key per batch: keep the
      // final (max-n) row per key
      val got = spark.sql("SELECT * FROM graft_kalman_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._2) }.toSet
      val want = graft.queries.Series.tsKalman.fn(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(want.nonEmpty && want.exists(_._3 > 0), "batch kalman empty or alarm-free")
      assert(got == want, s"streamed vs batch kalman: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("AlertForProcessor: streamed pending/firing rows == batch ts_alert_for") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_alertfor").toFile
    val sfDir = "/root/testdata/sf0.001"
    val pts = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
    // split at an hour boundary + far-future sentinel per key to flush
    // the final real hour (the sentinel hour never completes and its
    // zero mean can never satisfy the condition)
    val cutTs = (pts(pts.length / 2)._2 / 3600000000L + 1) * 3600000000L
    val (b1, b2) = pts.partition(_._2 < cutTs)
    val maxH = pts.map(_._2).max / 3600000000L
    val keys = pts.map(_._1).distinct
    val sentinels = keys.map(et => (et, (maxH + 10) * 3600000000L, 0L))
    def fmt(rs: Seq[(String, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1.toSeq))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong) }
    val q = graft.streaming.AlertForProcessor(spark, src)
      .toDF("event_type", "h", "mean_c", "streak", "state")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_alertfor_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath,
        fmt(b2.toSeq ++ sentinels))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM graft_alertfor_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).toSet
      val want = graft.queries.Series.tsAlertFor.fn(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getInt(3).toLong, r.getString(4))).toSet
      assert(want.nonEmpty, "batch alert_for unexpectedly empty")
      assert(got == want, s"streamed vs batch alert_for: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("CounterRateProcessor: streamed completed hours == batch ts_counter_rate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_ctrrate").toFile
    val sfDir = "/root/testdata/sf0.001"
    // counter readings from the SAME integer rule the batch query uses:
    // per-key running cent sum modulo 10^6 in (ts, event_id) order
    val pts = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts_us"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._2, r._3))
    val cum = scala.collection.mutable.HashMap.empty[String, Long]
    val readings = pts.map { case (et, ts, eid, cents) =>
      val c = cum.getOrElse(et, 0L) + cents
      cum.update(et, c)
      (et, ts, eid, c % 1000000L)
    }
    val cutTs = (readings(readings.length / 2)._2 / 3600000000L + 1) * 3600000000L
    val (b1, b2) = readings.partition(_._2 < cutTs)
    val maxH = readings.map(_._2).max / 3600000000L
    val keys = readings.map(_._1).distinct
    val sentinels = keys.map(et => (et, (maxH + 10) * 3600000000L, Long.MaxValue, 0L))
    def fmt(rs: Seq[(String, Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3} ${r._4}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1.toSeq))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong, p(3).toLong) }
    val q = graft.streaming.CounterRateProcessor(spark, src)
      .toDF("event_type", "h", "samples", "increase_cents", "resets", "rate_e4")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_ctrrate_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath,
        fmt(b2.toSeq ++ sentinels))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM graft_ctrrate_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      val want = graft.queries.Series.tsCounterRate.fn(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      assert(want.nonEmpty && want.exists(_._5 > 0), "batch counter-rate empty or reset-free")
      assert(got == want, s"streamed vs batch counter-rate: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("M4Processor: streamed completed buckets == batch ts_downsample_m4") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_m4").toFile
    val sfDir = "/root/testdata/sf0.001"
    val pts = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts_us"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._2, r._3))
    // split MID-BUCKET so the restartless cross-batch merge is exercised,
    // sentinel flushes the final real bucket
    val (b1, b2) = pts.splitAt(pts.length / 2)
    val maxB = pts.map(_._2).max / 36000000000L
    val keys = pts.map(_._1).distinct
    val sentinels = keys.map(et => (et, (maxB + 10) * 36000000000L, Long.MaxValue, 0L))
    def fmt(rs: Seq[(String, Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3} ${r._4}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1.toSeq))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong, p(3).toLong) }
    val q = graft.streaming.M4Processor(spark, src)
      .toDF("event_type", "b", "n", "min_c", "max_c", "first_c", "last_c")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_m4_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath,
        fmt(b2.toSeq ++ sentinels))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM graft_m4_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6))).toSet
      val want = graft.queries.Series.tsDownsampleM4.fn(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
      assert(want.nonEmpty, "batch M4 unexpectedly empty")
      assert(got == want, s"streamed vs batch M4: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("Cusum + GramGate processors recover their state across a checkpoint restart") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val sfDir = "/root/testdata/sf0.001"
    // --- Cusum: cut MID-HOUR so the restart must recover the OPEN
    // hour's accumulator, not just completed state
    val dirC = Files.createTempDirectory("graft_cusum_ck_in").toFile
    val ckptC = Files.createTempDirectory("graft_cusum_ck").toString
    val hbC = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("ts_us DIV 3600000000").as("h"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("event_type", "h").agg(expr("sum(cents) DIV count(1)").as("m"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val refs = hbC.groupBy(_._1).map { case (et, rows) =>
      val ms = rows.map(_._3)
      val mu = ms.sum / ms.length
      val mad = math.max(1L, ms.map(m => math.abs(m - mu)).sum / ms.length)
      et -> ((mu, math.max(1L, mad / 2), 5 * mad))
    }
    val pts = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
    val (cb1, cb2) = pts.splitAt(pts.length / 2)
    val maxH = pts.map(_._2).max / 3600000000L
    val sentinels = refs.keys.map(et => (et, (maxH + 10) * 3600000000L, 0L))
    def cfmt(rs: Seq[(String, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    val cuOut = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long, Long, Long, Boolean, Boolean)]()
    def startCu() = {
      val src = spark.readStream.text(dirC.getAbsolutePath).as[String]
        .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong) }
      graft.streaming.CusumProcessor(spark, src, refs)
        .toDF("event_type", "h", "mean_cents", "cusum_hi", "cusum_lo",
          "alarm_hi", "alarm_lo")
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => cuOut.add((r.getString(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6))))
        }
        .option("checkpointLocation", ckptC).start()
    }
    Files.write(new java.io.File(dirC, "b1.txt").toPath, cfmt(cb1.toSeq))
    val c1 = startCu(); c1.processAllAvailable(); c1.stop() // simulated failure
    Files.write(new java.io.File(dirC, "b2.txt").toPath,
      cfmt(cb2.toSeq ++ sentinels))
    val c2 = startCu()
    try c2.processAllAvailable() finally c2.stop()
    val gotC = cuOut.toArray(
      Array.empty[(String, Long, Long, Long, Long, Boolean, Boolean)]).toSet
    val wantC = graft.queries.Series.tsCusumAlarm.fn(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6))).toSet
    assert(gotC == wantC, s"cusum after restart: " +
      s"missing=${(wantC -- gotC).take(3)} extra=${(gotC -- wantC).take(3)}")

    // --- GramGate: bucket membership must survive the restart — the
    // dedup'd streamed match set still equals the batch dotplot relation
    val dirG = Files.createTempDirectory("graft_gram_ck_in").toFile
    val ckptG = Files.createTempDirectory("graft_gram_ck").toString
    val docs = Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), graft.ops.Text.words(col("text")).as("w"))
    val grams = graft.ops.Text.gramPositionIndex(docs, "doc_id", "w", 5)
      .select(col("gh"), col("doc_id"), col("p"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (r._2, r._3))
    val (gb1, gb2) = grams.splitAt(grams.length / 2)
    def gfmt(rs: Array[(Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    val grOut = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
    def startGr() = {
      val src = spark.readStream.text(dirG.getAbsolutePath).as[String]
        .map { l => val p = l.split(" "); (p(0).toLong, p(1).toLong, p(2).toLong) }
      graft.streaming.GramGateProcessor(spark, src)
        .toDF("da", "pa", "db", "pb")
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => grOut.add((r.getLong(0), r.getLong(1),
            r.getLong(2), r.getLong(3))))
        }
        .option("checkpointLocation", ckptG).start()
    }
    Files.write(new java.io.File(dirG, "b1.txt").toPath, gfmt(gb1))
    val g1 = startGr(); g1.processAllAvailable(); g1.stop()
    Files.write(new java.io.File(dirG, "b2.txt").toPath, gfmt(gb2))
    val g2 = startGr()
    try g2.processAllAvailable() finally g2.stop()
    val gotG = grOut.toArray(Array.empty[(Long, Long, Long, Long)]).toSet
    val idx = graft.ops.Text.gramPositionIndex(docs, "doc_id", "w", 5)
    val wantG = idx.select(col("doc_id").as("da"), col("p").as("pa"), col("gh"))
      .join(idx.select(col("doc_id").as("db"), col("p").as("pb"), col("gh")), "gh")
      .filter(col("da") < col("db")).select("da", "pa", "db", "pb")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(gotG == wantG, s"gram gate after restart: " +
      s"missing=${(wantG -- gotG).take(3)} extra=${(gotG -- wantG).take(3)}")
  }

  test("SloBurn + TempMix processors recover their state across a checkpoint restart") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    // --- SloBurn: stop after batch 1, restart from the checkpoint,
    // feed batch 2 — the recovered ring must still produce the batch rows
    val dirS = Files.createTempDirectory("graft_slo_ck_in").toFile
    val ckptS = Files.createTempDirectory("graft_slo_ck").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("ts_us"),
        expr("CASE WHEN event_type = 'error' THEN 1L ELSE 0L END").as("err"))
      .collect().map(r => (0L, r.getLong(0), r.getLong(1))).sortBy(_._2)
    val (sb1, sb2) = ev.splitAt(ev.length / 2)
    def sfmt(rs: Array[(Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    val sloOut = new java.util.concurrent.ConcurrentLinkedQueue[(Long, (Long, Long, Long, Long, Boolean, Boolean))]()
    def startSlo() = {
      val src = spark.readStream.text(dirS.getAbsolutePath).as[String]
        .map { l => val p = l.split(" "); (p(0).toLong, p(1).toLong, p(2).toLong) }
      graft.streaming.SloBurnProcessor(spark, src)
        .toDF("k", "h", "n", "ne", "burn1_bp", "burn6_bp", "page", "ticket")
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => sloOut.add((r.getLong(1), (r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6), r.getBoolean(7)))))
        }
        .option("checkpointLocation", ckptS).start()
    }
    Files.write(new java.io.File(dirS, "b1.txt").toPath, sfmt(sb1))
    val q1 = startSlo(); q1.processAllAvailable(); q1.stop() // simulated failure
    Files.write(new java.io.File(dirS, "b2.txt").toPath, sfmt(sb2))
    val q2 = startSlo()
    try q2.processAllAvailable() finally q2.stop()
    val got = sloOut.toArray(Array.empty[(Long, (Long, Long, Long, Long, Boolean, Boolean))])
      .groupBy(_._1).map { case (h, rows) => h -> rows.map(_._2).maxBy(_._1) }
    val want = graft.queries.Series.tsSloBurn.fn(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5), r.getBoolean(6)))).toMap
    assert(got.keySet == want.keySet, s"slo hour grids: ${got.keySet} vs ${want.keySet}")
    got.foreach { case (h, g) => assert(g == want(h), s"slo hour $h after restart: $g vs ${want(h)}") }

    // --- TempMix: same restart shape; recovered counts must reproduce
    // the batch allocation exactly
    val dirM = Files.createTempDirectory("graft_mix_ck_in").toFile
    val ckptM = Files.createTempDirectory("graft_mix_ck").toString
    val srcs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (mb1, mb2) = srcs.splitAt(srcs.length / 2)
    def mfmt(rs: Array[(Long, String)]): Array[Byte] =
      rs.map(r => s"${r._2} 1").mkString("\n").getBytes("UTF-8")
    val mixOut = new java.util.concurrent.ConcurrentLinkedQueue[(String, (Long, Long, Long))]()
    def startMix() = {
      val src = spark.readStream.text(dirM.getAbsolutePath).as[String]
        .map { l => val p = l.split(" "); (p(0), p(1).toLong) }
      graft.streaming.TempMixProcessor(spark, src, budget = 100L)
        .toDF("source", "n_rows", "weight", "alloc")
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => mixOut.add((r.getString(0),
            (r.getLong(1), r.getLong(2), r.getLong(3)))))
        }
        .option("checkpointLocation", ckptM).start()
    }
    Files.write(new java.io.File(dirM, "b1.txt").toPath, mfmt(mb1))
    val m1 = startMix(); m1.processAllAvailable(); m1.stop()
    Files.write(new java.io.File(dirM, "b2.txt").toPath, mfmt(mb2))
    val m2 = startMix()
    try m2.processAllAvailable() finally m2.stop()
    val gotM = mixOut.toArray(Array.empty[(String, (Long, Long, Long))])
      .groupBy(_._1).map { case (s, rows) => s -> rows.map(_._2).maxBy(_._1) }
    val wantM = graft.ops.Sample.temperatureAlloc(
        Tables.t(spark, "/root/testdata/sf0.001", "documents"), "source", 100L)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(gotM.keySet == wantM.keySet, s"mix strata: ${gotM.keySet} vs ${wantM.keySet}")
    gotM.foreach { case (s, g) => assert(g == wantM(s), s"mix $s after restart: $g vs ${wantM(s)}") }
  }

  test("SpaceSavingProcessor: heavy-hitter superset + count-bound guarantees across batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_ss").toFile
    // stream: per event_type, which users are the heavy hitters
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
      .select(col("event_type"), col("ts_us"), col("event_id"),
        col("user_id").cast("string").as("item"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(r => (r._2, r._3))
    val k = 24
    val (b1, b2) = ev.splitAt(ev.length / 2)
    def fmt(rs: Array[(String, Long, Long, String)]): Array[Byte] =
      rs.map(r => s"${r._1}|${r._2}|${r._3}|${r._4}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split('|'); (p(0), p(1).toLong, p(2).toLong, p(3)) }
    val q = graft.streaming.SpaceSavingProcessor(spark, src, k)
      .toDF("key", "item", "est", "err", "n_seen")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_ss_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      // final summary per key = the rows carrying that key's max n_seen
      val rowsOut = spark.sql("SELECT key, item, est, err, n_seen FROM graft_ss_out")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      val finalByKey = rowsOut.groupBy(_._1).map { case (key, rs) =>
        val nMax = rs.map(_._5).max
        key -> (nMax, rs.filter(_._5 == nMax).map(r => r._2 -> (r._3, r._4)).toMap)
      }
      val exact = ev.groupBy(_._1).map { case (key, rs) =>
        key -> rs.groupBy(_._4).map { case (it, xs) => it -> xs.length.toLong }
      }
      assert(finalByKey.nonEmpty && finalByKey.keySet == exact.keySet)
      finalByKey.foreach { case (key, (n, summary)) =>
        val truth = exact(key)
        assert(n == truth.values.sum, s"$key: n mismatch")
        // guarantee 1: every item above N/k is tracked
        truth.filter(_._2 > n / k).foreach { case (it, c) =>
          assert(summary.contains(it), s"$key: heavy hitter $it ($c > ${n / k}) missing") }
        // guarantee 2: true <= est, est - err <= true
        summary.foreach { case (it, (est, err)) =>
          val c = truth.getOrElse(it, 0L)
          assert(c <= est && est - err <= c, s"$key/$it: true=$c est=$est err=$err") }
      }
    } finally q.stop()
  }

  test("BottomKProcessor equals the batch priority sample bit-for-bit across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_bk").toFile
    val k = 100
    // score through the SHARED expression, then stream the scored rows
    val docs = Tables.t(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), col("n_chars"))
    val scored = graft.ops.Sample.prioritized(docs, "doc_id", "n_chars")
      .select(col("doc_id"), col("priority"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    val (b1, b2) = scored.splitAt(scored.length / 3)
    def fmt(rs: Array[(Long, Long)]): Array[Byte] =
      rs.map(r => s"all|${r._1}|${r._2}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split('|'); (p(0), p(1).toLong, p(2).toLong) }
    val q = graft.streaming.BottomKProcessor(spark, src, k)
      .toDF("key", "doc_id", "priority", "rank")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_bk_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      // the LAST emitted generation: re-emits overwrite ranks, so take
      // each rank's final doc — memory sink keeps all batches, dedupe
      // by keeping the last occurrence per rank
      val rowsOut = spark.sql("SELECT doc_id, priority, rank FROM graft_bk_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val lastGen = rowsOut.zipWithIndex
        .groupBy(_._1._3).map { case (rank, xs) => rank -> xs.maxBy(_._2)._1 }
        .toSeq.sortBy(_._1).map { case (_, (id, p, _)) => (id, p) }
      val want = graft.ops.Sample.priorityWeighted(docs, "doc_id", "n_chars", k)
        .select(col("doc_id"), col("priority"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(lastGen == want, s"stream sample diverged: ${lastGen.take(5)} vs ${want.take(5)}")
    } finally q.stop()
  }

  test("BottomKProcessor recovers the reservoir across a checkpoint restart") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_bk_ck_in").toFile
    val ckpt = Files.createTempDirectory("graft_bk_ck").toString
    val k = 50
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("n_chars"))
    val scored = graft.ops.Sample.prioritized(docs, "doc_id", "n_chars")
      .select(col("doc_id"), col("priority"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val (b1, b2) = scored.splitAt(scored.length / 2)
    def fmt(rs: Array[(Long, Long)]): Array[Byte] =
      rs.map(r => s"all|${r._1}|${r._2}").mkString("\n").getBytes("UTF-8")
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    def start() = {
      val src = spark.readStream.text(dir.getAbsolutePath).as[String]
        .map { l => val p = l.split('|'); (p(0), p(1).toLong, p(2).toLong) }
      graft.streaming.BottomKProcessor(spark, src, k)
        .toDF("key", "doc_id", "priority", "rank")
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
          b.collect().foreach(r => out.add((r.getLong(1), r.getLong(2), bid)))
        }
        .option("checkpointLocation", ckpt).start()
    }
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val q1 = start(); q1.processAllAvailable(); q1.stop() // simulated failure
    Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // the reservoir after restart must equal the batch sample over BOTH halves
    val rows = out.toArray(Array.empty[(Long, Long, Long)])
    val lastBatch = rows.map(_._3).max
    val got = rows.filter(_._3 == lastBatch).map(r => (r._1, r._2))
      .sortBy { case (id, p) => (-p, id) }.toSeq
    val want = graft.ops.Sample.priorityWeighted(docs, "doc_id", "n_chars", k)
      .select(col("doc_id"), col("priority"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want, s"post-restart reservoir diverged: " +
      s"${got.take(3)} vs ${want.take(3)}")
  }

  test("SpeedGateProcessor counters equal the batch geo_speed_gate lag window") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_speedgate").toFile
    val sfDir = "/root/testdata/sf0.001"
    // positions through the SHARED builder; stream split at a time cut
    val rows = graft.queries.Analytics.eventPoints(spark, sfDir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("lat"), col("lon"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(r => (r._2, r._3))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    def fmt(rs: Array[(Long, Long, Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3} ${r._4} ${r._5}")
        .mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l =>
        val p = l.split(' ')
        (p(0).toLong, p(1).toLong, p(2).toLong, p(3).toLong, p(4).toLong)
      }
    val q = graft.streaming.SpeedGateProcessor(spark, src)
      .toDF("user_id", "n_hops", "n_teleports", "max_d2")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_speedgate_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      // last emit per user (n_hops only grows)
      val got = spark.sql("""SELECT user_id, n_hops, n_teleports, max_d2 FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY n_hops DESC) AS rn FROM graft_speedgate_out)
          WHERE rn = 1""")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      // driver-side batch reference: the same fold per user in Long math
      val want = rows.groupBy(_._1).map { case (u, rs) =>
        val ord = rs.sortBy(r => (r._2, r._3))
        var (nh, nt, mx) = (0L, 0L, 0L)
        ord.sliding(2).foreach {
          case Array(a, b) =>
            val d2 = (b._4 - a._4) * (b._4 - a._4) + (b._5 - a._5) * (b._5 - a._5)
            val dt = math.max((b._2 - a._2) / 1000000L, 1L)
            val cl = math.min(dt, 1001L)
            val tel = dt <= 1000L && d2 > 1000000000000L * cl * cl
            nh += 1; if (tel) { nt += 1; mx = math.max(mx, d2) }
          case _ => ()
        }
        u -> ((nh, nt, mx))
      }
      assert(want.nonEmpty && got == want,
        s"speed-gate diverged: ${(want.toSet -- got.toSet).take(3)}")
      // and the flagged subset matches the batch query's rows
      val batch = graft.queries.Analytics.qGeoSpeedGate.fn(spark, sfDir)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      batch.foreach { case (u, v) =>
        assert(got(u) == v, s"user $u: stream ${got(u)} vs batch $v")
      }
    } finally q.stop()
  }

  test("BloomManifestProcessor equals the batch per-file bloom manifest bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_bloomman").toFile
    val sfDir = "/root/testdata/sf0.001"
    def wordOr(w: Int): String =
      (1 to 3).map(j => graft.ops.Sketch.bloomWordSql(s"bl$j", "pk", w, words = 4))
        .mkString("(", " | ", ")")
    // rows with the word contributions pre-OR'd through the SHARED expr
    val rows = Tables.t(spark, sfDir, "lineitem")
      .select(expr("CAST(l_orderkey DIV 8 AS STRING)").as("f"),
        col("l_partkey").as("pk"))
      .select(col("f"), expr(wordOr(0)).as("w0"), expr(wordOr(1)).as("w1"),
        expr(wordOr(2)).as("w2"), expr(wordOr(3)).as("w3"), col("pk"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .sortBy(r => (r._6, r._1))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    def fmt(rs: Array[(String, Long, Long, Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1}|${r._2}|${r._3}|${r._4}|${r._5}|${r._6}")
        .mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l =>
        val p = l.split('|')
        (p(0), p(1).toLong, p(2).toLong, p(3).toLong, p(4).toLong, p(5).toLong)
      }
    val q = graft.streaming.BloomManifestProcessor(spark, src)
      .toDF("f", "b0", "b1", "b2", "b3", "mn", "mx", "n")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_bloomman_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      // final manifest per file = the row with that file's max n
      val got = spark.sql("""SELECT f, b0, b1, b2, b3, mn, mx, n FROM (
            SELECT *, row_number() OVER (PARTITION BY f ORDER BY n DESC) AS rn
            FROM graft_bloomman_out) WHERE rn = 1""")
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))))
        .toMap
      val want = rows.groupBy(_._1).map { case (f, rs) =>
        f -> ((rs.map(_._2).reduce(_ | _), rs.map(_._3).reduce(_ | _),
          rs.map(_._4).reduce(_ | _), rs.map(_._5).reduce(_ | _),
          rs.map(_._6).min, rs.map(_._6).max, rs.length.toLong))
      }
      assert(want.nonEmpty && got == want,
        s"manifest diverged on ${(want.keySet -- got.keySet).take(3)} / value drift")
    } finally q.stop()
  }

  test("CountMinProcessor table equals the batch CM counters bit-for-bit (linear sketch)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, explode}
    val dir = Files.createTempDirectory("graft_cm").toFile
    val (d, w) = (4, 128)
    val sfDir = "/root/testdata/sf0.001"
    // (event_type, j, bucket) through the SHARED h60 bucket expression
    val cellRows = Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr("concat(CAST(user_id AS STRING), '|', event_type)").as("key"),
        col("event_id"))
      .withColumn("j", explode(expr(s"sequence(0, ${d - 1})")))
      .withColumn("bucket", expr(s"${graft.ops.Sketch.h60("j", "key")} % $w"))
      .select(col("event_type"), col("j").cast("int"), col("bucket").cast("int"),
        col("event_id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .sortBy(_._4)
    val (b1, b2) = cellRows.splitAt(cellRows.length / 2)
    def fmt(rs: Array[(String, Int, Int, Long)]): Array[Byte] =
      rs.map(r => s"${r._1}|${r._2}|${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split('|'); (p(0), p(1).toInt, p(2).toInt) }
    val q = graft.streaming.CountMinProcessor(spark, src, d, w)
      .toDF("key", "j", "bucket", "c")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_cm_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      // final table = max count per cell (counts only grow)
      val got = spark.sql(
          "SELECT key, j, bucket, max(c) AS c FROM graft_cm_out GROUP BY 1, 2, 3")
        .collect().map(r => ((r.getString(0), r.getInt(1), r.getInt(2)), r.getLong(3)))
        .toMap
      val want = cellRows.groupBy(r => (r._1, r._2, r._3))
        .map { case (cell, xs) => cell -> xs.length.toLong }
      assert(want.nonEmpty && got == want,
        s"CM tables diverge: ${(want.toSet -- got.toSet).take(3)} vs ${(got.toSet -- want.toSet).take(3)}")
    } finally q.stop()
  }

  test("CountMinProcessor recovers its counter table across a checkpoint restart") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, explode}
    val dir = Files.createTempDirectory("graft_cm_ck_in").toFile
    val ckpt = Files.createTempDirectory("graft_cm_ck").toString
    val (d, w) = (4, 128)
    val cellRows = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_type"),
        expr("concat(CAST(user_id AS STRING), '|', event_type)").as("key"),
        col("event_id"))
      .withColumn("j", explode(expr(s"sequence(0, ${d - 1})")))
      .withColumn("bucket", expr(s"${graft.ops.Sketch.h60("j", "key")} % $w"))
      .select(col("event_type"), col("j").cast("int"), col("bucket").cast("int"),
        col("event_id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .sortBy(_._4)
    val (b1, b2) = cellRows.splitAt(cellRows.length / 2)
    def fmt(rs: Array[(String, Int, Int, Long)]): Array[Byte] =
      rs.map(r => s"${r._1};${r._2};${r._3}").mkString("\n").getBytes("UTF-8")
    val out = new java.util.concurrent.ConcurrentLinkedQueue[((String, Int, Int), Long)]()
    def start() = {
      val src = spark.readStream.text(dir.getAbsolutePath).as[String]
        .map { l => val p = l.split(';'); (p(0), p(1).toInt, p(2).toInt) }
      graft.streaming.CountMinProcessor(spark, src, d, w)
        .toDF("key", "j", "bucket", "c")
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => out.add(
            ((r.getString(0), r.getInt(1), r.getInt(2)), r.getLong(3))))
        }
        .option("checkpointLocation", ckpt).start()
    }
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val q1 = start(); q1.processAllAvailable(); q1.stop() // simulated failure
    Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // counts only grow: the max per cell is the post-restart table
    val got = out.toArray(Array.empty[((String, Int, Int), Long)])
      .groupBy(_._1).map { case (cell, xs) => cell -> xs.map(_._2).max }
    val want = cellRows.groupBy(r => (r._1, r._2, r._3))
      .map { case (cell, xs) => cell -> xs.length.toLong }
    assert(want.nonEmpty && got == want,
      s"post-restart CM diverged: ${(want.toSet -- got.toSet).take(3)}")
  }

  test("KmvProcessor matches the batch sketch_kmv estimate EXACTLY across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_kmv").toFile
    // same hash the batch op uses, computed OUTSIDE the stream so both
    // sides consume identical (event_type, h) pairs
    val ev = Tables.t(spark, "/root/testdata/sf0.01", "events")
      .selectExpr("event_type",
        s"${graft.ops.Sketch.h60("'k'", "user_id")} DIV 16 AS h")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val (b1, b2) = ev.splitAt(ev.length / 2)
    def fmt(rs: Array[(String, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong) }
    val q = graft.streaming.KmvProcessor(spark, src)
      .toDF("event_type", "n_rows_seen", "n_held", "n_est")
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_kmv_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      // final emission per key = the row with the max monotone n_rows_seen
      val got = spark.sql("""SELECT event_type, n_est FROM (
          SELECT *, row_number() OVER (PARTITION BY event_type
            ORDER BY n_rows_seen DESC) rn FROM graft_kmv_out) WHERE rn = 1""")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = graft.ops.Sketch.kmvEstimate(
          Tables.t(spark, "/root/testdata/sf0.01", "events"),
          "event_type", "user_id", 16)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(got.keySet == want.keySet)
      // EXACT equality: k-min sets are order- and batching-insensitive
      got.foreach { case (k, v) => assert(v == want(k), s"key $k: $v vs ${want(k)}") }
    } finally q.stop()
  }

  test("MedianProcessor matches the batch ts_rolling_median EXACTLY (pure integers)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_med").toFile
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("user_id") < 5)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .select(col("user_id"), col("ts_us"), col("event_id"), col("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._2, r._3))
    val (b1, b2) = ev.splitAt(ev.length / 2)
    def fmt(rs: Array[(Long, Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3} ${r._4}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0).toLong, p(1).toLong, p(2).toLong, p(3).toLong) }
    val q = graft.streaming.MedianProcessor(spark, src)
      .toDF("user_id", "event_id", "n_window", "med_e4", "mad_e4")
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_med_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT user_id, event_id, n_window, med_e4, mad_e4 FROM graft_med_out")
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val want = graft.queries.Series.tsRollingMedian
        .fn(spark, "/root/testdata/sf0.001")
        .filter(col("user_id") < 5)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(got.keySet == want.keySet)
      // EXACT integer equality for every event's trailing median/MAD
      got.foreach { case (k, v) => assert(v == want(k), s"row $k: $v vs ${want(k)}") }
    } finally q.stop()
  }

  test("RecordsProcessor: running record counts == ts_record_stats after the full stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_records").toFile
    val sfDir = "/root/testdata/sf0.001"
    // the same hourly-mean series the batch query folds over
    val rows = Tables.events(spark, sfDir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (r._1, r._2))
    // split at a global hour cutoff: per-key h order holds across files
    val hs = rows.map(_._2).sorted
    val cut = hs(hs.length / 2)
    val (b1, b2) = rows.partition(_._2 < cut)
    def fmt(rs: Array[(String, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong) }
    val q = graft.streaming.RecordsProcessor(spark, src)
      .toDF("k", "n", "n_rec_hi", "n_rec_lo", "h_last_hi", "h_last_lo")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_records").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      // final emission per key = the row with the max n
      val got = spark.sql(
        """SELECT k, n, n_rec_hi, n_rec_lo, h_last_hi, h_last_lo FROM (
            SELECT *, row_number() OVER (PARTITION BY k ORDER BY n DESC) AS rn
            FROM graft_records) WHERE rn = 1""")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      val want = graft.queries.Series.tsRecordStats.fn(spark, sfDir)
        .select("event_type", "n", "n_rec_hi", "n_rec_lo", "h_last_hi", "h_last_lo")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      assert(want.nonEmpty, "batch record stats unexpectedly empty")
      assert(got == want, s"streamed vs batch records: got=$got want=$want")
    } finally q.stop()
  }

  test("VarianceRatioProcessor: running VR(q) moments == ts_variance_ratio after the full stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_vr").toFile
    val sfDir = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sfDir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (r._1, r._2))
    val hs = rows.map(_._2).sorted
    val cut = hs(hs.length / 2)
    val (b1, b2) = rows.partition(_._2 < cut)
    def fmt(rs: Array[(String, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong) }
    val q = graft.streaming.VarianceRatioProcessor(spark, src)
      .toDF("k", "q", "m", "mu", "v1", "vq", "vr_e4")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_vr").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      // final emission per (key, q) = the row with the max m
      val got = spark.sql(
        """SELECT k, q, m, mu, v1, vq, vr_e4 FROM (
            SELECT *, row_number() OVER (PARTITION BY k, q ORDER BY m DESC) AS rn
            FROM graft_vr) WHERE rn = 1""")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            if (r.isNullAt(6)) None else Some(r.getLong(6)))).toMap
      val want = graft.queries.Series.tsVarianceRatio.fn(spark, sfDir)
        .select("event_type", "q", "m", "mu", "v1", "vq", "vr_e4")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            if (r.isNullAt(6)) None else Some(r.getLong(6)))).toMap
      assert(want.nonEmpty, "batch variance ratio unexpectedly empty")
      assert(got == want, s"streamed vs batch VR: got=$got want=$want")
    } finally q.stop()
  }

  test("WelchProcessor: running A/B moments == q_ab_welch after the full stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_welch").toFile
    val sfDir = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("user_id % 2").as("arm"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // order-insensitive: split arbitrarily, no sort anywhere
    val (b1, b2) = rows.splitAt(rows.length / 2)
    def fmt(rs: Array[(String, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong) }
    val q = graft.streaming.WelchProcessor(spark, src)
      .toDF("k", "n_a", "n_b", "mu_a", "mu_b", "d", "v_a", "v_b", "t2_e4", "sig")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_welch").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT k, n_a, n_b, mu_a, mu_b, d, v_a, v_b, t2_e4, sig FROM (
            SELECT *, row_number() OVER (PARTITION BY k ORDER BY n_a + n_b DESC) AS rn
            FROM graft_welch) WHERE rn = 1""")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6), r.getLong(7),
            if (r.isNullAt(8)) None else Some(r.getLong(8)),
            if (r.isNullAt(9)) None else Some(r.getBoolean(9)))).toMap
      val want = graft.queries.Analytics.qAbWelch.fn(spark, sfDir)
        .select("event_type", "n_a", "n_b", "mu_a", "mu_b", "d", "v_a", "v_b",
          "t2_e4", "significant_5pct")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6), r.getLong(7),
            if (r.isNullAt(8)) None else Some(r.getLong(8)),
            if (r.isNullAt(9)) None else Some(r.getBoolean(9)))).toMap
      assert(want.nonEmpty, "batch welch unexpectedly empty")
      assert(got == want, s"streamed vs batch welch: got=$got want=$want")
    } finally q.stop()
  }

  test("RunsTestProcessor: runs state vs the frozen median == ts_runs_test after the full stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_runs").toFile
    val sfDir = "/root/testdata/sf0.001"
    val hourly = Tables.events(spark, sfDir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("sum(cents) DIV count(1)").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // freeze the reference exactly like the batch: last 512 buckets per
    // key, discrete median at rank (n+1) DIV 2 ordered by (c, h)
    val rows = hourly.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
      val last = rs.sortBy(_._2).takeRight(512)
      val srt = last.sortBy(r => (r._3, r._2))
      val m = srt(((srt.length + 1) / 2 - 1).toInt)._3
      last.map(r => (k, r._2, r._3, m))
    }.sortBy(r => (r._1, r._2)).toArray
    val hs = rows.map(_._2).sorted
    val cut = hs(hs.length / 2)
    val (b1, b2) = rows.partition(_._2 < cut)
    def fmt(rs: Array[(String, Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3} ${r._4}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong, p(3).toLong) }
    val q = graft.streaming.RunsTestProcessor(spark, src)
      .toDF("k", "n1", "n2", "runs", "n", "mu_e4", "z2_e4", "random_at_5pct")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_runs").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT k, n1, n2, runs, n, mu_e4, z2_e4, random_at_5pct FROM (
            SELECT *, row_number() OVER (PARTITION BY k ORDER BY n DESC) AS rn
            FROM graft_runs) WHERE rn = 1""")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            if (r.isNullAt(6)) None else Some(r.getLong(6)),
            if (r.isNullAt(7)) None else Some(r.getBoolean(7)))).toMap
      val want = graft.queries.Series.tsRunsTest.fn(spark, sfDir)
        .select("event_type", "n1", "n2", "runs", "n", "mu_e4", "z2_e4", "random_at_5pct")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            if (r.isNullAt(6)) None else Some(r.getLong(6)),
            if (r.isNullAt(7)) None else Some(r.getBoolean(7)))).toMap
      assert(want.nonEmpty, "batch runs test unexpectedly empty")
      assert(got == want, s"streamed vs batch runs: got=$got want=$want")
    } finally q.stop()
  }

  test("AdfProcessor: running Dickey-Fuller moments == ts_adf_lite after the full stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_adf").toFile
    val sfDir = "/root/testdata/sf0.001"
    // the batch query's exact hourly unit series
    val rows = Tables.events(spark, sfDir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("(sum(cents) DIV count(1)) DIV 100").as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (r._1, r._2))
    val hs = rows.map(_._2).sorted
    val cut = hs(hs.length / 2)
    val (b1, b2) = rows.partition(_._2 < cut)
    def fmt(rs: Array[(String, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong) }
    val q = graft.streaming.AdfProcessor(spark, src)
      .toDF("k", "m", "rho_e6", "t2_e4", "rej")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_adf").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT k, m, rho_e6, t2_e4, rej FROM (
            SELECT *, row_number() OVER (PARTITION BY k ORDER BY m DESC) AS rn
            FROM graft_adf) WHERE rn = 1""")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)),
            if (r.isNullAt(3)) None else Some(r.getLong(3)),
            if (r.isNullAt(4)) None else Some(r.getBoolean(4)))).toMap
      val want = graft.queries.Series.tsAdfLite.fn(spark, sfDir)
        .select("event_type", "m", "rho_e6", "t2_e4", "unit_root_rejected_5pct")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)),
            if (r.isNullAt(3)) None else Some(r.getLong(3)),
            if (r.isNullAt(4)) None else Some(r.getBoolean(4)))).toMap
      assert(want.nonEmpty, "batch adf unexpectedly empty")
      assert(got == want, s"streamed vs batch adf: got=$got want=$want")
    } finally q.stop()
  }

  test("DiversityProcessor: MapState running Simpson == quality_diversity_index, any split") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_diversity").toFile
    val sfDir = "/root/testdata/sf0.001"
    val docs = Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val rows = docs.flatMap { case (id, src, lang) =>
      Seq((id, "source", src), (id, "lang", lang))
    }
    val cut = docs(docs.length / 2)._1
    val (b1, b2) = rows.partition(_._1 < cut)
    def fmt(rs: Array[(Long, String, String)]): Array[Byte] =
      rs.map(r => s"${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" ", 2); (p(0), p(1)) }
    val q = graft.streaming.DiversityProcessor(spark, src)
      .toDF("dimension", "n_groups", "n_docs", "simpson_e6",
        "inv_simpson_e4", "berger_parker_bp")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_diversity").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT dimension, n_groups, n_docs, simpson_e6, inv_simpson_e4,
             berger_parker_bp FROM (
            SELECT *, row_number() OVER (PARTITION BY dimension ORDER BY n_docs DESC) AS rn
            FROM graft_diversity) WHERE rn = 1""")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      val want = graft.queries.Quality.qualityDiversityIndex.fn(spark, sfDir)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      assert(want.nonEmpty, "batch diversity unexpectedly empty")
      assert(got == want, s"streamed vs batch diversity: got=$got want=$want")
    } finally q.stop()
  }

  test("KAnonymityProcessor: MapState per-group (ksize, ldiv) == quality_k_anonymity, any split") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_kanon").toFile
    val sfDir = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sfDir)
      .select(col("event_id"),
        expr("concat(event_type, '|', (ts_us DIV 3600000000) % 24, '|', " +
          "CAST(round(value * 100) AS BIGINT) DIV 1000)").as("k"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    def fmt(rs: Array[(Long, String, Long)]): Array[Byte] =
      rs.map(r => s"${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" ", 2); (p(0), p(1).toLong) }
    val q = graft.streaming.KAnonymityProcessor(spark, src)
      .toDF("quasi", "ksize", "ldiv")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_kanon").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      // final running row per group (counts only grow), then the batch
      // query's identical k-threshold report over the bounded group table
      val got = spark.sql(
        """SELECT kt, count(*) AS n_groups,
             sum(CASE WHEN ksize < kt THEN 1L ELSE 0L END) AS groups_below,
             sum(CASE WHEN ksize < kt THEN ksize ELSE 0L END) AS rows_below,
             10000 * sum(CASE WHEN ksize < kt THEN ksize ELSE 0L END)
               DIV sum(ksize) AS exposure_bp,
             min(ksize) AS min_k, min(ldiv) AS min_l
           FROM (
             SELECT ksize, ldiv FROM (
               SELECT *, row_number() OVER (PARTITION BY quasi ORDER BY ksize DESC) AS rn
               FROM graft_kanon) WHERE rn = 1)
           LATERAL VIEW explode(array(2L, 5L, 10L)) t AS kt
           GROUP BY kt ORDER BY kt""")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
      val want = graft.queries.Quality.qualityKAnonymity.fn(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
      assert(want.nonEmpty, "batch k-anonymity unexpectedly empty")
      assert(got == want, s"streamed vs batch k-anonymity: got=$got want=$want")
    } finally q.stop()
  }

  test("PiiProcessor: running per-source census == quality_pii_census, any split") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_pii").toFile
    val sfDir = "/root/testdata/sf0.001"
    // the IDENTICAL per-doc detection rows the batch census aggregates
    // (shared builder — the stream gate cannot drift from the detector)
    val rows = graft.queries.Quality.piiDetections(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_email"), col("n_phone"),
        col("n_ipv4"), expr("CASE WHEN length(cc) = 16 THEN 1L ELSE 0L END").as("has_cc"),
        col("cc_luhn"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .sortBy(_._1)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    def fmt(rs: Array[(Long, String, Long, Long, Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._2} ${r._3} ${r._4} ${r._5} ${r._6} ${r._7}")
        .mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" ")
        (p(0), p(1).toLong, p(2).toLong, p(3).toLong, p(4).toLong, p(5).toLong) }
    val q = graft.streaming.PiiProcessor(spark, src)
      .toDF("source", "n_docs", "n_email", "n_phone", "n_ipv4", "n_cc",
        "n_cc_luhn", "n_pii_docs", "pii_bp")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_pii").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT source, n_docs, n_email, n_phone, n_ipv4, n_cc, n_cc_luhn,
             n_pii_docs, pii_bp FROM (
            SELECT *, row_number() OVER (PARTITION BY source ORDER BY n_docs DESC) AS rn
            FROM graft_pii) WHERE rn = 1""")
        .collect().map(r => r.getString(0) -> (1 to 8).map(r.getLong).toSeq).toMap
      val want = graft.queries.Quality.qualityPiiCensus.fn(spark, sfDir)
        .collect().map(r => r.getString(0) -> (1 to 8).map(r.getLong).toSeq).toMap
      assert(want.nonEmpty, "batch pii census unexpectedly empty")
      assert(got == want, s"streamed vs batch pii census: got=$got want=$want")
    } finally q.stop()
  }

  test("KAnonymityProcessor recovers its MapState across a checkpoint restart") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    // the Adf restart spec proves ValueState recovery; this proves the
    // MAP state (value->count per quasi group) restores — a lost map
    // would under-count ldiv for every value re-seen after the restart
    val sfDir = "/root/testdata/sf0.001"
    val dirA = Files.createTempDirectory("graft_kanon_ck_in").toFile
    val ckptA = Files.createTempDirectory("graft_kanon_ck").toString
    val rows = Tables.events(spark, sfDir)
      .select(col("event_id"),
        expr("concat(event_type, '|', (ts_us DIV 3600000000) % 24, '|', " +
          "CAST(round(value * 100) AS BIGINT) DIV 1000)").as("k"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    def fmt(rs: Array[(Long, String, Long)]): Array[Byte] =
      rs.map(r => s"${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    def start() = {
      val src = spark.readStream.text(dirA.getAbsolutePath).as[String]
        .map { l => val p = l.split(" ", 2); (p(0), p(1).toLong) }
      graft.streaming.KAnonymityProcessor(spark, src)
        .toDF("quasi", "ksize", "ldiv")
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => out.add((r.getString(0), r.getLong(1), r.getLong(2))))
        }
        .option("checkpointLocation", ckptA).start()
    }
    Files.write(new java.io.File(dirA, "b1.txt").toPath, fmt(b1))
    val q1 = start(); q1.processAllAvailable(); q1.stop() // simulated failure
    Files.write(new java.io.File(dirA, "b2.txt").toPath, fmt(b2))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = out.toArray(Array.empty[(String, Long, Long)])
      .groupBy(_._1).map { case (k, rs) => k -> { val m = rs.maxBy(_._2); (m._2, m._3) } }
    val want = rows.groupBy(_._2).map { case (k, rs) =>
      k -> (rs.length.toLong, rs.map(_._3).distinct.length.toLong) }
    assert(want.nonEmpty && got == want,
      s"k-anonymity state after restart: got=${got.toSeq.sortBy(_._1).take(5)}… " +
        s"want=${want.toSeq.sortBy(_._1).take(5)}…")
  }

  test("AdfProcessor recovers its moment state across a checkpoint restart") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val sfDir = "/root/testdata/sf0.001"
    val dirA = Files.createTempDirectory("graft_adf_ck_in").toFile
    val ckptA = Files.createTempDirectory("graft_adf_ck").toString
    val rows = Tables.events(spark, sfDir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("h"))
      .agg(expr("(sum(cents) DIV count(1)) DIV 100").as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (r._2, r._1))
    // cut mid-series: the restart must recover the six moments AND the
    // carried last observation, or every post-restart delta is wrong
    val (b1, b2) = rows.splitAt(rows.length / 2)
    def fmt(rs: Array[(String, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Option[Long], Option[Long], Option[Boolean])]()
    def start() = {
      val src = spark.readStream.text(dirA.getAbsolutePath).as[String]
        .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong) }
      graft.streaming.AdfProcessor(spark, src)
        .toDF("k", "m", "rho_e6", "t2_e4", "rej")
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => out.add((r.getString(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)),
            if (r.isNullAt(3)) None else Some(r.getLong(3)),
            if (r.isNullAt(4)) None else Some(r.getBoolean(4)))))
        }
        .option("checkpointLocation", ckptA).start()
    }
    Files.write(new java.io.File(dirA, "b1.txt").toPath, fmt(b1))
    val q1 = start(); q1.processAllAvailable(); q1.stop() // simulated failure
    Files.write(new java.io.File(dirA, "b2.txt").toPath, fmt(b2))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = out.toArray(Array.empty[(String, Long, Option[Long], Option[Long], Option[Boolean])])
      .groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._2) }
      .map { case (k, r) => k -> (r._2, r._3, r._4, r._5) }
    val want = graft.queries.Series.tsAdfLite.fn(spark, sfDir)
      .select("event_type", "m", "rho_e6", "t2_e4", "unit_root_rejected_5pct")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getBoolean(4)))).toMap
    assert(want.nonEmpty && got == want,
      s"adf after restart: got=$got want=$want")
  }

  test("ExtremalProcessor: exceedance clustering vs the frozen threshold == ts_extremal_index") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_extremal").toFile
    val sfDir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // freeze u exactly like the batch: ceiling-rank 90% order statistic
    // ordered by (c, event_id); idx = time order (ts_us, event_id)
    val rows = ev.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
      val srt = rs.sortBy(r => (r._4, r._2))
      val u = srt(((90L * rs.length + 99L) / 100L - 1L).toInt)._4
      rs.sortBy(r => (r._3, r._2)).zipWithIndex.map { case (r, i) =>
        (k, (i + 1).toLong, r._4, u)
      }
    }.sortBy(r => (r._1, r._2)).toArray
    val idxs = rows.map(_._2).sorted
    val cut = idxs(idxs.length / 2)
    val (b1, b2) = rows.partition(_._2 < cut)
    def fmt(rs: Array[(String, Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3} ${r._4}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong, p(3).toLong) }
    val q = graft.streaming.ExtremalProcessor(spark, src)
      .toDF("k", "n_exceed", "n_clusters", "theta_runs_bp", "theta_fs_bp")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_extremal").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT k, n_exceed, n_clusters, theta_runs_bp, theta_fs_bp FROM (
            SELECT *, row_number() OVER (PARTITION BY k ORDER BY n_exceed DESC) AS rn
            FROM graft_extremal) WHERE rn = 1""")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val want = graft.queries.Series.tsExtremalIndex.fn(spark, sfDir)
        .select("event_type", "n_exceed", "n_clusters", "theta_runs_bp", "theta_fs_bp")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(want.nonEmpty, "batch extremal index unexpectedly empty")
      assert(got == want, s"streamed vs batch extremal: got=$got want=$want")
    } finally q.stop()
  }

  test("ConformalProcessor: coverage census vs frozen (med, qhat) == quality_conformal_bounds") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_conformal").toFile
    val sfDir = "/root/testdata/sf0.001"
    // the batch query freezes the calibration split's (med, qhat); the
    // stream monitors the TEST split's realized coverage against them
    val frozen = graft.queries.Quality.qualityConformal.fn(spark, sfDir)
      .select("event_type", "med", "qhat", "n_test", "covered", "coverage_bp")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val rows = Tables.events(spark, sfDir)
      .filter(expr("event_id % 2 = 1"))
      .select(col("event_type"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .collect().map { r =>
        val k = r.getString(0); val (med, qhat, _, _, _) = frozen(k)
        (k, r.getLong(1), r.getLong(2), med, qhat)
      }
    // three arbitrary micro-batches: the census is order-insensitive sums
    val b1 = rows.filter(_._2 % 3 == 0); val b2 = rows.filter(_._2 % 3 == 1)
    val b3 = rows.filter(_._2 % 3 == 2)
    def fmt(rs: Array[(String, Long, Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._3} ${r._4} ${r._5}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong, p(3).toLong) }
    val q = graft.streaming.ConformalProcessor(spark, src)
      .toDF("k", "n_test", "covered", "coverage_bp")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_conformal").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b3.txt").toPath, fmt(b3))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT k, n_test, covered, coverage_bp FROM (
            SELECT *, row_number() OVER (PARTITION BY k ORDER BY n_test DESC) AS rn
            FROM graft_conformal) WHERE rn = 1""")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val want = frozen.map { case (k, (_, _, nt, cov, bp)) => k -> (nt, cov, bp) }
      assert(want.nonEmpty, "batch conformal unexpectedly empty")
      assert(got == want, s"streamed vs batch conformal: got=$got want=$want")
    } finally q.stop()
  }

  test("TClosenessProcessor: per-group EMD vs frozen global == tClosenessGroups") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, expr, lit}
    val dir = Files.createTempDirectory("graft_tclose").toFile
    val sfDir = "/root/testdata/sf0.001"
    val base = Tables.events(spark, sfDir).select(col("event_id"),
      col("event_type"),
      expr("(ts_us DIV 3600000000) % 24").as("hod"),
      expr("CAST(round(value * 100) AS BIGINT) DIV 1000").as("vb"),
      expr("CAST(round(value * 100) AS BIGINT) DIV 200").as("sb"))
    // freeze the global distribution from the published release (the
    // SAME data the batch query aggregates — so parity is exact)
    val gl = base.groupBy("sb").agg(count(lit(1)).as("gcnt"))
      .orderBy("sb").collect().map(r => (r.getLong(0), r.getLong(1)))
    val nTot = gl.map(_._2).sum
    val m = gl.length.toLong
    var cum = 0L
    val globalCum = gl.map { case (sb, g) => cum += g; (sb, cum) }
    val rows = base.collect().map { r =>
      (s"${r.getString(1)}|${r.getLong(2)}|${r.getLong(3)}", r.getLong(0), r.getLong(4))
    }
    val b1 = rows.filter(_._2 % 3 == 0); val b2 = rows.filter(_._2 % 3 == 1)
    val b3 = rows.filter(_._2 % 3 == 2)
    def fmt(rs: Array[(String, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong) }
    val q = graft.streaming.TClosenessProcessor(spark, src, globalCum, nTot, m)
      .toDF("k", "ksize", "emd_e6")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_tclose").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b3.txt").toPath, fmt(b3))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT k, ksize, emd_e6 FROM (
            SELECT *, row_number() OVER (PARTITION BY k ORDER BY ksize DESC) AS rn
            FROM graft_tclose) WHERE rn = 1""")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = graft.queries.Quality.tClosenessGroups(spark, sfDir)
        .collect().map(r => s"${r.getString(0)}|${r.getLong(1)}|${r.getLong(2)}" ->
          (r.getLong(3), r.getLong(4))).toMap
      assert(want.nonEmpty, "batch t-closeness unexpectedly empty")
      assert(got == want, s"streamed vs batch t-closeness per-group rows differ: " +
        s"onlyGot=${(got.keySet -- want.keySet).take(3)} " +
        s"onlyWant=${(want.keySet -- got.keySet).take(3)} " +
        s"diff=${got.collect { case (k, v) if want.get(k).exists(_ != v) => (k, v, want(k)) }.take(3)}")
    } finally q.stop()
  }

  test("ZonemapProcessor: running per-file (min,max,count) == batch zone-map aggregate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("graft_zonemap").toFile
    val sfDir = "/root/testdata/sf0.001"
    // the layout_zonemap_skip file assignment: 64 natural orderkey-range files
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val mx = li.agg(org.apache.spark.sql.functions.max("l_orderkey")).collect()(0).getLong(0)
    val data = li.collect().map { r =>
      (s"f${r.getLong(0) * 63 / mx}", r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val b1 = data.filter(_._2 % 3 == 0); val b2 = data.filter(_._2 % 3 == 1)
    val b3 = data.filter(_._2 % 3 == 2)
    def fmt(rs: Array[(String, Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._3} ${r._4}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong) }
    val q = graft.streaming.ZonemapProcessor(spark, src)
      .toDF("f", "n", "p_min", "p_max", "s_min", "s_max")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_zonemap").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b3.txt").toPath, fmt(b3))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT f, n, p_min, p_max, s_min, s_max FROM (
            SELECT *, row_number() OVER (PARTITION BY f ORDER BY n DESC) AS rn
            FROM graft_zonemap) WHERE rn = 1""")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      val want = data.groupBy(_._1).map { case (f, rs) =>
        f -> (rs.length.toLong, rs.map(_._3).min, rs.map(_._3).max,
          rs.map(_._4).min, rs.map(_._4).max)
      }
      assert(want.nonEmpty && got == want,
        s"streamed vs batch zone maps differ: got=${got.size} want=${want.size}")
    } finally q.stop()
  }

  test("DedupRateProcessor: running dup rates == batch countDistinct, across a restart") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, conv, substring}
    val dir = Files.createTempDirectory("graft_duprate_in").toFile
    val ckpt = Files.createTempDirectory("graft_duprate_ck").toString
    // the batch query family's md5-60 keys: exact text + word-set template
    val rows = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("source"),
        conv(substring(org.apache.spark.sql.functions.md5(col("text")), 1, 15), 16, 10)
          .cast("long").as("ch"),
        conv(substring(graft.ops.Text.fingerprint(col("text")), 1, 15), 16, 10)
          .cast("long").as("fp"),
        col("doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // arbitrary split (distinct counting is order-insensitive); the cut
    // doubles as the checkpoint-restart boundary, so the MapState
    // first-arrival registries must recover exactly
    val (b1, b2) = rows.partition(_._4 % 2 == 0)
    def fmt(rs: Array[(String, Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, (Long, Long, Long, Long, Long))]()
    def start() = {
      val src = spark.readStream.text(dir.getAbsolutePath).as[String]
        .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong) }
      graft.streaming.DedupRateProcessor(spark, src)
        .toDF("source", "n_docs", "n_exact", "n_fingerprint",
          "exact_dup_bp", "template_dup_bp")
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => out.add((r.getString(0), (r.getLong(1),
            r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))))
        }
        .option("checkpointLocation", ckpt).start()
    }
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val q1 = start(); q1.processAllAvailable(); q1.stop() // simulated failure
    Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = out.toArray(Array.empty[(String, (Long, Long, Long, Long, Long))])
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).maxBy(_._1) }
    val want = rows.groupBy(_._1).map { case (k, rs) =>
      val n = rs.length.toLong
      val nc = rs.map(_._2).distinct.length.toLong
      val nf = rs.map(_._3).distinct.length.toLong
      k -> (n, nc, nf, (n - nc) * 10000L / n, (n - nf) * 10000L / n)
    }
    assert(want.nonEmpty && want.exists(_._2._5 > 0L),
      "fixture has no template dups - the parity claim would be vacuous")
    assert(got == want, s"post-restart dup rates diverged: " +
      s"diff=${got.collect { case (k, v) if want.get(k).exists(_ != v) => (k, v, want(k)) }.take(3)}")
  }

  test("CompactionPlanProcessor: running bin ledger == the batch window fold") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{coalesce, col, count, expr, lit, max, sum}
    val dir = Files.createTempDirectory("graft_compaction").toFile
    val sfDir = "/root/testdata/sf0.001"
    val T = 2048L
    val rows = Tables.t(spark, sfDir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2) // arrival order: doc_id asc (the house contract)
    // three arrival-ordered micro-batches cut at arbitrary points — the
    // cuts land MID-BIN, so the open-bin carry is exercised
    val b1 = rows.take(rows.length / 3)
    val b2 = rows.slice(rows.length / 3, 2 * rows.length / 3)
    val b3 = rows.drop(2 * rows.length / 3)
    def fmt(rs: Array[(String, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong) }
    val q = graft.streaming.CompactionPlanProcessor(spark, src, T)
      .toDF("source", "n_files", "total_bytes", "n_bins", "ideal_bins",
        "max_bin_bytes", "oversize_files", "reduction_bp")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_compaction").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b3.txt").toPath, fmt(b3))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY source ORDER BY n_files DESC) AS rn
            FROM graft_compaction) WHERE rn = 1""")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
      // batch reference: the layout_compaction_plan window fold, in the
      // SAME arrival order (doc_id asc) the stream sees
      val f = rows.toSeq.toDF("source", "doc_id", "bytes")
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val binned = f.withColumn("c", coalesce(sum("bytes").over(w), lit(0L)))
        .withColumn("bin", expr(s"c DIV $T"))
      val perBin = binned.groupBy("source", "bin")
        .agg(count(lit(1)).as("nf"), sum("bytes").as("bb"),
          sum(expr(s"CASE WHEN bytes > $T THEN 1L ELSE 0L END")).as("nf_over"))
      val want = perBin.groupBy("source")
        .agg(sum("nf").as("n_files"), sum("bb").as("total_bytes"),
          count(lit(1)).as("n_bins"), max("bb").as("max_bin_bytes"),
          sum("nf_over").as("oversize_files"))
        .withColumn("ideal_bins", expr(s"(total_bytes + ${T - 1}) DIV $T"))
        .withColumn("reduction_bp", expr("10000 * (n_files - n_bins) DIV n_files"))
        .collect().map(r => r.getString(0) -> (r.getAs[Long]("n_files"),
          r.getAs[Long]("total_bytes"), r.getAs[Long]("n_bins"),
          r.getAs[Long]("ideal_bins"), r.getAs[Long]("max_bin_bytes"),
          r.getAs[Long]("oversize_files"), r.getAs[Long]("reduction_bp"))).toMap
      assert(want.nonEmpty, "batch compaction reference unexpectedly empty")
      assert(got == want, s"streamed vs batch compaction ledger differ: " +
        s"diff=${got.collect { case (k, v) if want.get(k).exists(_ != v) => (k, v, want(k)) }.take(3)}")
    } finally q.stop()
  }

  test("CompactionPlanProcessor recovers the open bin across a checkpoint restart") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_compaction_ck_in").toFile
    val ckpt = Files.createTempDirectory("graft_compaction_ck").toString
    val T = 2048L
    val rows = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
    // cut MID-STREAM (and therefore mid-bin for every active source): the
    // restart must recover the open bin's index and fill exactly
    val (b1, b2) = rows.splitAt(rows.length / 2)
    def fmt(rs: Array[(String, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, (Long, Long, Long, Long, Long))]()
    def start() = {
      val src = spark.readStream.text(dir.getAbsolutePath).as[String]
        .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong) }
      graft.streaming.CompactionPlanProcessor(spark, src, T)
        .toDF("source", "n_files", "total_bytes", "n_bins", "ideal_bins",
          "max_bin_bytes", "oversize_files", "reduction_bp")
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => out.add((r.getString(0), (r.getLong(1),
            r.getLong(2), r.getLong(3), r.getLong(5), r.getLong(6)))))
        }
        .option("checkpointLocation", ckpt).start()
    }
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val q1 = start(); q1.processAllAvailable(); q1.stop() // simulated failure
    Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // ledger counters only grow: keep the max-n_files row per source
    val got = out.toArray(Array.empty[(String, (Long, Long, Long, Long, Long))])
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).maxBy(_._1) }
    // independent single-pass fold over the full arrival order
    val want = rows.groupBy(_._1).map { case (k, rs) =>
      var (n, total, nBins, curBin, curBytes, maxDone, over) =
        (0L, 0L, 0L, -1L, 0L, 0L, 0L)
      rs.sortBy(_._2).foreach { case (_, _, bytes) =>
        val bin = total / T
        if (bin != curBin) {
          if (curBin >= 0L && curBytes > maxDone) maxDone = curBytes
          curBin = bin; curBytes = 0L; nBins += 1L
        }
        n += 1L; total += bytes; curBytes += bytes
        if (bytes > T) over += 1L
      }
      k -> (n, total, nBins, math.max(maxDone, curBytes), over)
    }
    assert(want.nonEmpty && got == want,
      s"post-restart compaction ledger diverged: " +
        s"diff=${got.collect { case (k, v) if want.get(k).exists(_ != v) => (k, v, want(k)) }.take(3)}")
  }

  test("Utf8GateProcessor: running per-source byte-class census == batch encodingMetrics") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, expr, lit, sum}
    val dir = Files.createTempDirectory("graft_utf8gate").toFile
    val sfDir = "/root/testdata/sf0.001"
    val rows = Tables.t(spark, sfDir, "documents")
      .select(col("source"), col("doc_id"),
        expr("upper(hex(substring(text, 1, 64)))").as("hx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    // two arbitrary micro-batches: the census is order-insensitive sums
    val (b1, b2) = rows.partition(_._2 % 2 == 0)
    def fmt(rs: Array[(String, Long, String)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2)) }
    val q = graft.streaming.Utf8GateProcessor(spark, src)
      .toDF("source", "n_docs", "n_bytes", "cont_excess", "n_ctrl", "n_damaged")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_utf8gate").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT source, n_docs, n_bytes, cont_excess, n_ctrl, n_damaged FROM (
            SELECT *, row_number() OVER (PARTITION BY source ORDER BY n_docs DESC) AS rn
            FROM graft_utf8gate) WHERE rn = 1""")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      val want = graft.queries.Quality.encodingMetrics(spark, sfDir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_bytes").as("n_bytes"),
          sum("cont_excess").as("cont_excess"), sum("n_ctrl").as("n_ctrl"),
          sum(expr("CASE WHEN damage_score > 0 THEN 1L ELSE 0L END")).as("n_damaged"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      assert(want.nonEmpty, "batch encoding census unexpectedly empty")
      assert(got == want, s"streamed vs batch utf8 census: got=$got want=$want")
    } finally q.stop()
  }

  test("SpeedGateHopsProcessor emits exactly the batch teleport hop set, once each") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_speedgate_hops").toFile
    val sfDir = "/root/testdata/sf0.001"
    val rows = graft.queries.Analytics.eventPoints(spark, sfDir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("lat"), col("lon"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(r => (r._2, r._3))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    def fmt(rs: Array[(Long, Long, Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3} ${r._4} ${r._5}")
        .mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l =>
        val p = l.split(' ')
        (p(0).toLong, p(1).toLong, p(2).toLong, p(3).toLong, p(4).toLong)
      }
    val q = graft.streaming.SpeedGateHopsProcessor(spark, src)
      .toDF("user_id", "ts_us", "event_id", "d2", "dt_s")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_speedgate_hops").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      // every emitted row is an alert; collect ALL of them (no dedup:
      // once-each is part of the contract)
      val got = spark.sql(
        "SELECT user_id, ts_us, event_id, d2, dt_s FROM graft_speedgate_hops")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sorted.toSeq
      // driver-side batch reference: per-hop teleports in the same fold
      val want = rows.groupBy(_._1).toSeq.flatMap { case (u, rs) =>
        rs.sortBy(r => (r._2, r._3)).sliding(2).flatMap {
          case Array(a, b) =>
            val d2 = (b._4 - a._4) * (b._4 - a._4) + (b._5 - a._5) * (b._5 - a._5)
            val dt = math.max((b._2 - a._2) / 1000000L, 1L)
            val cl = math.min(dt, 1001L)
            if (dt <= 1000L && d2 > 1000000000000L * cl * cl)
              Some((u, b._2, b._3, d2, dt)) else None
          case _ => None
        }
      }.sorted
      assert(want.nonEmpty, "no teleports in the reference — test data too tame")
      assert(got == want, s"streamed alerts vs batch hop set: " +
        s"missing=${(want.toSet -- got.toSet).take(3)} extra=${(got.toSet -- want.toSet).take(3)}")
    } finally q.stop()
  }

  test("LdaProcessor: running LDA model == q_lda_classifier's model after the full stream") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lda").toFile
    val sfDir = "/root/testdata/sf0.001"
    val rows = Tables.t(spark, sfDir, "lineitem")
      .selectExpr("CASE WHEN l_returnflag = 'R' THEN 1L ELSE 0L END",
        "CAST(l_quantity AS BIGINT)", "CAST(round(l_discount * 10000) AS BIGINT)",
        "l_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val (b1, b2) = rows.partition(_._4 % 2 == 0) // any split: sums are associative
    def fmt(rs: Array[(Long, Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"li ${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong, p(3).toLong) }
    val q = graft.streaming.LdaProcessor(spark, src)
      .toDF("k", "n", "w1_milli", "w2_milli", "thr", "flip", "det_q")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_lda").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT w1_milli, w2_milli, thr, det_q FROM (
            SELECT *, row_number() OVER (PARTITION BY k ORDER BY n DESC) AS rn
            FROM graft_lda) WHERE rn = 1""").collect()(0)
      val want = graft.queries.Analytics.qLdaClassifier.fn(spark, sfDir)
        .select("w1_milli", "w2_milli", "thr", "det_q").collect()(0)
      assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3)) ==
        (want.getLong(0), want.getLong(1), want.getLong(2), want.getLong(3)),
        s"streamed vs batch LDA model: $got vs $want")
    } finally q.stop()
  }

  test("RidgeProcessor recovers its moment state across a checkpoint restart") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val dirA = Files.createTempDirectory("graft_ridge_ck_in").toFile
    val ckptA = Files.createTempDirectory("graft_ridge_ck").toString
    val rows = Tables.t(spark, sfDir, "lineitem")
      .selectExpr("l_returnflag", "CAST(l_quantity AS BIGINT)",
        "CAST(round(l_discount * 10000) AS BIGINT)",
        "CAST(round(l_extendedprice * 100) AS BIGINT)", "l_orderkey")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val (b1, b2) = rows.partition(_._5 % 2 == 0)
    def fmt(rs: Array[(String, Long, Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3} ${r._4}").mkString("\n").getBytes("UTF-8")
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long, Long, Long, Long)]()
    def start() = {
      val src = spark.readStream.text(dirA.getAbsolutePath).as[String]
        .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong, p(3).toLong) }
      graft.streaming.RidgeProcessor(spark, src)
        .toDF("k", "n", "b1_milli", "b2_milli", "b0_milli", "det_q")
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => out.add((r.getString(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
        }
        .option("checkpointLocation", ckptA).start()
    }
    Files.write(new java.io.File(dirA, "b1.txt").toPath, fmt(b1))
    val q1 = start(); q1.processAllAvailable(); q1.stop() // simulated failure
    Files.write(new java.io.File(dirA, "b2.txt").toPath, fmt(b2))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = out.toArray(Array.empty[(String, Long, Long, Long, Long, Long)])
      .groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._2) }
      .map { case (k, r) => k -> (r._2, r._3, r._4, r._5, r._6) }
    val want = graft.queries.Analytics.qRidgeFit.fn(spark, sfDir)
      .select("l_returnflag", "n", "b1_milli", "b2_milli", "b0_milli", "det_q")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(want.nonEmpty && got == want,
      s"ridge after restart: got=$got want=$want")
  }

  test("RidgeProcessor: running ridge fit == q_ridge_fit after the full stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_ridge").toFile
    val sfDir = "/root/testdata/sf0.001"
    val rows = Tables.t(spark, sfDir, "lineitem")
      .selectExpr("l_returnflag", "CAST(l_quantity AS BIGINT)",
        "CAST(round(l_discount * 10000) AS BIGINT)",
        "CAST(round(l_extendedprice * 100) AS BIGINT)", "l_orderkey")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // the moment sums are associative + commutative: ANY split works
    val (b1, b2) = rows.partition(_._5 % 2 == 0)
    def fmt(rs: Array[(String, Long, Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"${r._1} ${r._2} ${r._3} ${r._4}").mkString("\n").getBytes("UTF-8")
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong, p(3).toLong) }
    val q = graft.streaming.RidgeProcessor(spark, src)
      .toDF("k", "n", "b1_milli", "b2_milli", "b0_milli", "det_q")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_ridge").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT k, n, b1_milli, b2_milli, b0_milli, det_q FROM (
            SELECT *, row_number() OVER (PARTITION BY k ORDER BY n DESC) AS rn
            FROM graft_ridge) WHERE rn = 1""")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      val want = graft.queries.Analytics.qRidgeFit.fn(spark, sfDir)
        .select("l_returnflag", "n", "b1_milli", "b2_milli", "b0_milli", "det_q")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      assert(want.nonEmpty, "batch ridge fit unexpectedly empty")
      assert(got == want, s"streamed vs batch ridge fit: got=$got want=$want")
    } finally q.stop()
  }

  test("UnigramProcessor: streamed word stats -> re-trained vocab == batch trainer, across a checkpoint restart") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val docs = Tables.t(spark, sfDir, "documents")
    val want = graft.streaming.UnigramProcessor.render(graft.ops.Unigram.train(docs))
    val rows = docs
      .selectExpr("doc_id", "explode(filter(split(lower(text), ' '), x -> x != '')) AS word")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = rows.partition(_._1 % 2 == 0)
    val dir = Files.createTempDirectory("graft_unigram_in").toFile
    val ckpt = Files.createTempDirectory("graft_unigram_ck").toString
    val out = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, String)]()
    def fmt(rs: Array[(Long, String)]): Array[Byte] =
      rs.map(r => s"corpus ${r._2}").mkString("\n").getBytes("UTF-8")
    def start() = {
      val src = spark.readStream.text(dir.getAbsolutePath).as[String]
        .map { l => val p = l.split(" "); (p(0), p(1), 1L) }
      graft.streaming.UnigramProcessor(spark, src)
        .toDF("k", "nw", "tot", "vocab")
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.collect().foreach(r =>
            out.put(id, (r.getLong(1), r.getLong(2), r.getString(3))))
        }
        .option("checkpointLocation", ckpt).start()
    }
    // batch 1, then KILL the query and restart from the checkpoint
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val fin = out.values().toArray.map(_.asInstanceOf[(Long, Long, String)])
        .maxBy(_._2) // the emission with the largest total = the final prefix
      assert(fin._2 == rows.length.toLong, s"total words ${fin._2} vs ${rows.length}")
      assert(fin._3 == want,
        s"restarted streamed vocab must equal the batch trainer:\n got ${fin._3}\nwant $want")
      // and the intermediate (prefix) emission is the exact prefix vocab
      val prefixWant = graft.streaming.UnigramProcessor.render(
        graft.ops.Unigram.trainFromStats(
          b1.groupBy(_._2).view.mapValues(_.length.toLong).toSeq))
      assert(out.values().toArray.map(_.asInstanceOf[(Long, Long, String)])
        .exists(_._3 == prefixWant), "prefix emission must be the exact prefix vocabulary")
    } finally q2.stop()
  }

  test("TrainerCoverageProcessor: running coverage census == batch diagnostic's unigram rows, across a checkpoint restart") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val docs = Tables.t(spark, sfDir, "documents")
    // batch expectation: the unigram rows of pipeline_trainer_coverage
    val want = graft.queries.TextOps.trainerCoverage.fn(spark, sfDir).collect()
      .filter(_.getString(0).startsWith("unigram_"))
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSet
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(want.size == 3, s"expected 3 unigram coverage rows: $want")
    val rows = docs
      .selectExpr("doc_id", "explode(filter(split(lower(text), ' '), x -> x != '')) AS word")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = rows.partition(_._1 % 2 == 0)
    val dir = Files.createTempDirectory("graft_tcov_in").toFile
    val ckpt = Files.createTempDirectory("graft_tcov_ck").toString
    val out = new java.util.concurrent.ConcurrentHashMap[Long, Set[(String, Long, String, Long, Long)]]()
    def fmt(rs: Array[(Long, String)]): Array[Byte] =
      rs.map(r => s"corpus ${r._2}").mkString("\n").getBytes("UTF-8")
    def start() = {
      val src = spark.readStream.text(dir.getAbsolutePath).as[String]
        .map(StreamingSpec.tcovParse)
      graft.streaming.TrainerCoverageProcessor(spark, src)
        .toDF("k", "trainer", "cap", "units", "seen", "total")
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          val rs = b.collect().map(r => (r.getString(1), r.getLong(2),
            r.getString(3), r.getLong(4), r.getLong(5))).toSet
          if (rs.nonEmpty) out.put(id, rs)
          ()
        }
        .option("checkpointLocation", ckpt).start()
    }
    // batch 1, then KILL the query and restart from the checkpoint
    Files.write(new java.io.File(dir, "b1.txt").toPath, fmt(b1))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    Files.write(new java.io.File(dir, "b2.txt").toPath, fmt(b2))
    val q2 = start()
    try {
      q2.processAllAvailable()
      // the final emission = the batch whose stats row covers ALL words
      val fin = out.values().toArray.map(_.asInstanceOf[Set[(String, Long, String, Long, Long)]])
        .find(_.exists(r => r._1 == "unigram_stats_mass" && r._5 == rows.length.toLong))
      assert(fin.isDefined, s"no final-prefix emission found in ${out.values()}")
      assert(fin.get == want,
        s"restarted streamed census must equal the batch diagnostic:\n got ${fin.get}\nwant $want")
      // every prefix emission satisfies the row invariants
      out.values().forEach { rs =>
        rs.foreach { case (t, cap, _, seen, total) =>
          assert(seen >= 0 && seen <= total, s"$t: $seen/$total")
          if (t == "unigram_stats_mass") assert(cap == 0L && seen == total)
        }
      }
    } finally q2.stop()
  }

  test("LdaServe: online train->serve loop — evolving model registry, frozen-snapshot scoring, exact batch parity under any split") {
    import spark.implicits._
    import graft.streaming.LdaServe
    val sfDir = "/root/testdata/sf0.001"
    val trainDir = Files.createTempDirectory("graft_ldaserve_train").toFile
    val rows = Tables.t(spark, sfDir, "lineitem")
      .selectExpr("CASE WHEN l_returnflag = 'R' THEN 1L ELSE 0L END",
        "CAST(l_quantity AS BIGINT)", "CAST(round(l_discount * 10000) AS BIGINT)",
        "l_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val (epochA, epochB) = rows.partition(_._4 % 2 == 0)
    def fmt(rs: Array[(Long, Long, Long, Long)]): Array[Byte] =
      rs.map(r => s"li ${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8")

    // --- model stream: LdaProcessor -> foreachBatch -> registry ---
    val reg = new LdaServe.ModelRegistry
    Files.write(new java.io.File(trainDir, "a.txt").toPath, fmt(epochA))
    val trainSrc = spark.readStream.text(trainDir.getAbsolutePath).as[String]
      .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong, p(3).toLong) }
    val mq = graft.streaming.LdaProcessor(spark, trainSrc)
      .toDF("k", "n", "w1_milli", "w2_milli", "thr", "flip", "det_q")
      .writeStream.outputMode("update")
      .foreachBatch(LdaServe.modelSink(reg) _).start()
    try {
      mq.processAllAvailable()
      val snapA = reg.snapshot
      // registry after epoch A == the exact batch solve on epoch A's sums
      def sums(rs: Array[(Long, Long, Long, Long)]) = {
        val (c0, c1) = rs.partition(_._1 == 0L)
        graft.ops.Fit.ldaSolveLong(
          c0.length.toLong, c0.map(_._2).sum, c0.map(_._3).sum,
          c0.map(r => r._2 * r._2).sum, c0.map(r => r._2 * r._3).sum, c0.map(r => r._3 * r._3).sum,
          c1.length.toLong, c1.map(_._2).sum, c1.map(_._3).sum,
          c1.map(r => r._2 * r._2).sum, c1.map(r => r._2 * r._3).sum, c1.map(r => r._3 * r._3).sum)
      }
      val wantA = sums(epochA)
      assert(snapA("li") == LdaServe.Model(epochA.length.toLong, wantA._1, wantA._2,
        wantA._3, wantA._4, wantA._5), s"epoch-A registry vs batch solve: ${snapA("li")}")

      // --- scoring stream against the FROZEN epoch-A snapshot ---
      val scoreRows = epochB.take(200).map(r => ("li", r._2, r._3))
      import scala.jdk.CollectionConverters._
      def runScoring(nFiles: Int): Seq[(String, Long, Long, Long, Boolean, Long)] = {
        val d = Files.createTempDirectory(s"graft_ldaserve_score$nFiles").toFile
        val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long, Long, Boolean, Long)]()
        val src = spark.readStream.text(d.getAbsolutePath).as[String]
          .map { l => val p = l.split(" "); (p(0), p(1).toLong, p(2).toLong) }
          .toDF("k", "x1", "x2")
        val q = src.writeStream.outputMode("append")
          .foreachBatch(LdaServe.scoringSink(reg)(it => it.foreach(out.add)) _)
          .start()
        try {
          scoreRows.grouped(math.max(1, scoreRows.length / nFiles)).zipWithIndex.foreach {
            case (chunk, i) =>
              Files.write(new java.io.File(d, s"s$i.txt").toPath,
                chunk.map(r => s"${r._1} ${r._2} ${r._3}").mkString("\n").getBytes("UTF-8"))
              q.processAllAvailable() // one micro-batch per file: forces the split
          }
        } finally q.stop()
        out.iterator().asScala.toSeq.sorted
      }
      val oneBatch = runScoring(1)
      val threeBatches = runScoring(3)
      assert(oneBatch.nonEmpty)
      // frozen-model discipline: the scored set is split-invariant
      assert(oneBatch == threeBatches,
        "scored stream must be bit-identical under any batch split")
      // and equals the stateless batch score with the same snapshot
      val batchScored = LdaServe.score(
        scoreRows.toSeq.toDF("k", "x1", "x2"), snapA)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4), r.getLong(5))).toSeq.sorted
      assert(oneBatch == batchScored, "scored stream vs frozen-snapshot batch score")
      assert(oneBatch.forall(_._6 == epochA.length.toLong),
        "every scored event must carry the epoch-A model mass")

      // --- model EVOLVES: epoch B arrives, registry advances to full-data model ---
      Files.write(new java.io.File(trainDir, "b.txt").toPath, fmt(epochB))
      mq.processAllAvailable()
      val snapB = reg.snapshot
      val wantAll = sums(rows)
      assert(snapB("li") == LdaServe.Model(rows.length.toLong, wantAll._1, wantAll._2,
        wantAll._3, wantAll._4, wantAll._5), s"evolved registry vs full batch solve: ${snapB("li")}")
      assert(snapB("li") != snapA("li"), "model must actually evolve between epochs")
      // a stale (lower-mass) replay is an idempotent no-op
      reg.upsert("li", snapA("li"))
      assert(reg.snapshot("li") == snapB("li"), "monotone-mass upsert must ignore replays")
    } finally mq.stop()
  }

  /** The shared bbit pair feed: (jbp, x[16], y[16]) rows of
    * [[graft.queries.Dedup.bbitPairSignatures]] at sf0.001, formatted
    * one per line for a file-source stream, plus the batch calibration
    * table they must reproduce.
    */
  private def bbitFixture(): (Array[String], Map[Long, (Long, Long, Long, Long)]) = {
    val sfDir = "/root/testdata/sf0.001"
    val rows = graft.queries.Dedup.bbitPairSignatures(spark, sfDir)
      .orderBy("d1", "d2").collect().map { r =>
        val jbp = r.getLong(r.fieldIndex("jbp"))
        val xs = (0 until 16).map(i => r.getLong(r.fieldIndex(s"x$i"))).mkString(",")
        val ys = (0 until 16).map(i => r.getLong(r.fieldIndex(s"y$i"))).mkString(",")
        s"$jbp;$xs;$ys"
      }
    spark.catalog.clearCache()
    val want = graft.queries.Dedup.minhashBbit.fn(spark, sfDir).collect().map { r =>
      r.getLong(r.fieldIndex("b")) ->
        ((r.getLong(r.fieldIndex("n_pairs")), r.getLong(r.fieldIndex("mae_bp")),
          r.getLong(r.fieldIndex("mean_est_bp")), r.getLong(r.fieldIndex("mean_exact_bp"))))
    }.toMap
    spark.catalog.clearCache()
    (rows, want)
  }

  test("BbitProcessor: running b-bit calibration == dedup_minhash_bbit after the full stream") {
    import spark.implicits._
    val (lines, want) = bbitFixture()
    assert(lines.length >= 4, "fixture must carry ground-truth pairs")
    val dir = Files.createTempDirectory("graft_bbit_in").toFile
    val (b1, b2) = lines.splitAt(lines.length / 2)
    Files.write(new java.io.File(dir, "b1.txt").toPath,
      b1.mkString("\n").getBytes("UTF-8"))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String].map(StreamingSpec.bbitParse)
    val q = graft.streaming.BbitProcessor(spark, src)
      .toDF("key", "b", "n_pairs", "mae_bp", "mean_est_bp", "mean_exact_bp")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_bbit_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath,
        b2.mkString("\n").getBytes("UTF-8"))
      q.processAllAvailable()
      // n_pairs only grows: the max-n row per b is the final census
      val got = spark.sql(
          """SELECT b, max_by(mae_bp, n_pairs), max_by(mean_est_bp, n_pairs),
               max_by(mean_exact_bp, n_pairs), max(n_pairs)
             FROM graft_bbit_out GROUP BY b""")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(4), r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == want, s"streamed calibration diverged: $got vs $want")
    } finally q.stop()
  }

  test("BbitProcessor recovers its census across a checkpoint restart") {
    import spark.implicits._
    val (lines, want) = bbitFixture()
    val dir = Files.createTempDirectory("graft_bbit_ck_in").toFile
    val ckpt = Files.createTempDirectory("graft_bbit_ck").toString
    val (b1, b2) = lines.splitAt(lines.length / 2)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long, Long)]()
    def start() = {
      val src = spark.readStream.text(dir.getAbsolutePath).as[String].map(StreamingSpec.bbitParse)
      graft.streaming.BbitProcessor(spark, src)
        .toDF("key", "b", "n_pairs", "mae_bp", "mean_est_bp", "mean_exact_bp")
        .writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => out.add(
            (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
        }
        .option("checkpointLocation", ckpt).start()
    }
    Files.write(new java.io.File(dir, "b1.txt").toPath,
      b1.mkString("\n").getBytes("UTF-8"))
    val q1 = start(); q1.processAllAvailable(); q1.stop() // simulated failure
    Files.write(new java.io.File(dir, "b2.txt").toPath,
      b2.mkString("\n").getBytes("UTF-8"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = out.toArray(Array.empty[(Long, Long, Long, Long, Long)])
      .groupBy(_._1).map { case (b, xs) =>
        val last = xs.maxBy(_._2)
        b -> ((last._2, last._3, last._4, last._5))
      }
    assert(got == want, s"post-restart calibration diverged: $got vs $want")
  }

  /** (site, bucket) lines + the batch-census expectation per site: the
    * REAL shingle-df site at sf0.001 (the same relation
    * dedup_cap_coverage audits) and a PLANTED site with one over-cap
    * bucket so the dropped/admitted split is exercised deterministically.
    */
  private def capFixture(): (Array[String], Map[String, (Long, Long, Long, Long)]) = {
    import org.apache.spark.sql.functions._
    val sh = graft.queries.Dedup.hashedShingles(spark, "/root/testdata/sf0.001")
      .select(col("sh").cast("string").as("b")).persist()
    val realLines = sh.collect().map(r => s"shingle_df ${r.getString(0)}")
    // planted: bucket "hot" x5 (over cap 3), "warm" x3 (at cap), "cold" x1
    val plantedLines = (Seq.fill(5)("planted hot") ++ Seq.fill(3)("planted warm") ++
      Seq("planted cold")).toArray
    def censusOf(df: org.apache.spark.sql.DataFrame, cap: Long, site: String) = {
      val r = graft.ops.Scale.capCensus(df, Seq("b"), cap, site).collect()(0)
      site -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    }
    import spark.implicits._
    val want = Map(
      censusOf(sh, 128L, "shingle_df"),
      censusOf(plantedLines.toSeq.map(_.split(" ")(1)).toDF("b"), 3L, "planted"))
    sh.unpersist()
    (realLines ++ plantedLines, want)
  }

  test("CapCensusProcessor: running cap-bite census == Scale.capCensus after the full stream") {
    import spark.implicits._
    val (lines, want) = capFixture()
    val dir = Files.createTempDirectory("graft_capc_in").toFile
    // adversarial split: slice the stream mid-site so every bucket's
    // count accumulates across batches
    val (b1, b2) = lines.splitAt(lines.length / 3)
    Files.write(new java.io.File(dir, "b1.txt").toPath,
      b1.mkString("\n").getBytes("UTF-8"))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map(StreamingSpec.capParse)
    val q = graft.streaming.CapCensusProcessor(spark, src,
        Map("shingle_df" -> 128L, "planted" -> 3L))
      .toDF("site", "buckets_total", "buckets_dropped", "pair_mass_total",
        "pair_mass_admitted")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_capc_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath,
        b2.mkString("\n").getBytes("UTF-8"))
      q.processAllAvailable()
      // both pair_mass_total AND buckets_total only grow; a batch of pure
      // count-1 buckets moves only the latter, so the final-row key is the
      // monotone (pair_mass_total, buckets_total) struct, not pt alone
      val got = spark.sql(
          """SELECT site,
               max_by(buckets_total, struct(pair_mass_total, buckets_total)),
               max_by(buckets_dropped, struct(pair_mass_total, buckets_total)),
               max(pair_mass_total),
               max_by(pair_mass_admitted, struct(pair_mass_total, buckets_total))
             FROM graft_capc_out GROUP BY site""")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(got == want, s"streamed cap census diverged: $got vs $want")
      // the planted site's split is the designed one: 1 over-cap bucket,
      // its C(5,2)=10 pairs dropped, C(3,2)+C(1,2)=3 admitted
      assert(want("planted") == ((3L, 1L, 13L, 3L)), want("planted"))
    } finally q.stop()
  }

  test("CapCensusProcessor recovers the census across a checkpoint restart") {
    import spark.implicits._
    val (lines, want) = capFixture()
    val dir = Files.createTempDirectory("graft_capc_ck_in").toFile
    val ckpt = Files.createTempDirectory("graft_capc_ck").toString
    val (b1, b2) = lines.splitAt(lines.length / 2)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long, Long, Long)]()
    def start() = {
      val src = spark.readStream.text(dir.getAbsolutePath).as[String]
        .map(StreamingSpec.capParse)
      graft.streaming.CapCensusProcessor(spark, src,
          Map("shingle_df" -> 128L, "planted" -> 3L))
        .toDF("site", "bt", "bd", "pt", "pa")
        .writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => out.add(
            (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        }
        .option("checkpointLocation", ckpt).start()
    }
    Files.write(new java.io.File(dir, "b1.txt").toPath,
      b1.mkString("\n").getBytes("UTF-8"))
    val q1 = start(); q1.processAllAvailable(); q1.stop() // simulated failure
    Files.write(new java.io.File(dir, "b2.txt").toPath,
      b2.mkString("\n").getBytes("UTF-8"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = out.toArray(Array.empty[(String, Long, Long, Long, Long)])
      .groupBy(_._1).map { case (site, xs) =>
        val last = xs.maxBy(_._4)
        site -> ((last._2, last._3, last._4, last._5))
      }
    assert(got == want, s"post-restart cap census diverged: $got vs $want")
  }

  /** Input lines in DESCENDING doc_id order — the adversarial arrival
    * for a min-winner rule (every smaller id swaps the hash's winner) —
    * plus the batch expectation: pipeline_dedup_impact's per-source
    * kept census at sf0.001.
    */
  private def keepFixture(): (Array[String], Map[String, (Long, Long)]) = {
    import org.apache.spark.sql.functions._
    val lines = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select(md5(col("text")).as("h"), col("doc_id"), col("source"),
        expr("CAST(size(filter(split(text, ' '), w -> w != '')) AS BIGINT)").as("nw"))
      .orderBy(col("doc_id").desc)
      .collect().map(r =>
        s"${r.getString(0)}|${r.getLong(1)}|${r.getString(2)}|${r.getLong(3)}")
    val want = graft.queries.TextOps.dedupImpact.fn(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(r.fieldIndex("n_kept")), r.getLong(r.fieldIndex("tokens_kept")))))
      .filter(_._2._1 > 0L).toMap
    spark.catalog.clearCache()
    (lines, want)
  }

  test("ExactKeepProcessor: winner rows under adversarial order == the batch keep census") {
    import spark.implicits._
    val (lines, want) = keepFixture()
    val dir = Files.createTempDirectory("graft_keep_in").toFile
    val (b1, b2) = lines.splitAt(lines.length / 2)
    Files.write(new java.io.File(dir, "b1.txt").toPath,
      b1.mkString("\n").getBytes("UTF-8"))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .map(StreamingSpec.keepParse)
    val q = graft.streaming.ExactKeepProcessor(spark, src)
      .toDF("h", "keep_id", "source", "nw")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_keep_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath,
        b2.mkString("\n").getBytes("UTF-8"))
      q.processAllAvailable()
      // winner per hash = the min keep_id ever emitted for it (late
      // smaller ids re-emit; last-write-wins by key == min by the rule)
      val got = spark.sql(
          """SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
               CAST(sum(nw) AS BIGINT) AS tokens_kept
             FROM (SELECT h, min_by(source, keep_id) AS source,
                     min_by(nw, keep_id) AS nw
                   FROM graft_keep_out GROUP BY h)
             GROUP BY source""")
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == want, s"streamed keep census diverged: $got vs $want")
    } finally q.stop()
  }

  test("ExactKeepProcessor recovers winners across a checkpoint restart") {
    import spark.implicits._
    val (lines, want) = keepFixture()
    val dir = Files.createTempDirectory("graft_keep_ck_in").toFile
    val ckpt = Files.createTempDirectory("graft_keep_ck").toString
    val (b1, b2) = lines.splitAt(lines.length / 2)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String, Long)]()
    def start() = {
      val src = spark.readStream.text(dir.getAbsolutePath).as[String]
        .map(StreamingSpec.keepParse)
      graft.streaming.ExactKeepProcessor(spark, src)
        .toDF("h", "keep_id", "source", "nw")
        .writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => out.add(
            (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))))
        }
        .option("checkpointLocation", ckpt).start()
    }
    Files.write(new java.io.File(dir, "b1.txt").toPath,
      b1.mkString("\n").getBytes("UTF-8"))
    val q1 = start(); q1.processAllAvailable(); q1.stop() // simulated failure
    Files.write(new java.io.File(dir, "b2.txt").toPath,
      b2.mkString("\n").getBytes("UTF-8"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val winners = out.toArray(Array.empty[(String, Long, String, Long)])
      .groupBy(_._1).map { case (_, xs) => xs.minBy(_._2) }
    val got = winners.groupBy(_._3).map { case (s, xs) =>
      s -> ((xs.size.toLong, xs.map(_._4).sum))
    }
    assert(got == want, s"post-restart keep census diverged: $got vs $want")
  }

  /** Doc ids (as text lines) plus the driver-fold expectation of the
    * resume-cursor census: per (epoch, pct) → (k, bucket, offset, n),
    * computed with [[graft.ops.Sample.feistelPos]] — the Long mirror
    * OpsSpec pins against the SQL.
    */
  private def cursorFixture(): (Array[String], Map[(Long, Long), (Long, Long, Long, Long)]) = {
    val ids = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val want = (for (e <- Seq(0L, 1L)) yield {
      val buckets = ids.map(id =>
          graft.ops.Sample.feistelPos(id, e) / graft.ops.Sample.CursorBucketWidth)
        .groupBy(identity).view.mapValues(_.length.toLong).toSeq.sortBy(_._1)
      val n = ids.length.toLong
      Seq(25L -> n / 4, 50L -> n / 2, 75L -> (3 * n) / 4).filter(_._2 > 0)
        .map { case (pct, k) =>
          var before = 0L; var i = 0
          while (before + buckets(i)._2 < k) { before += buckets(i)._2; i += 1 }
          (e, pct) -> ((k, buckets(i)._1, k - before, n))
        }
    }).flatten.toMap
    spark.catalog.clearCache()
    (ids.map(_.toString), want)
  }

  test("ResumeCursorProcessor: streamed bucket census == driver fold AND the batch cursor's bucket") {
    import spark.implicits._
    val (lines, want) = cursorFixture()
    // the batch query must agree on (k, bucket) per (epoch, pct) — the
    // processor's census is its steps 1-2
    val batch = graft.queries.TextOps.resumeCursor.fn(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3) / graft.ops.Sample.CursorBucketWidth))).toMap
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(batch.keySet == want.keySet)
    batch.foreach { case (key, (k, bkt)) =>
      assert((k, bkt) == ((want(key)._1, want(key)._2)),
        s"batch query vs driver fold at $key: ($k, $bkt) vs ${want(key)}")
    }
    val dir = Files.createTempDirectory("graft_cursor_in").toFile
    val (b1, b2) = lines.splitAt(lines.length / 3) // uneven split
    Files.write(new java.io.File(dir, "b1.txt").toPath,
      b1.mkString("\n").getBytes("UTF-8"))
    val src = spark.readStream.text(dir.getAbsolutePath).as[String]
      .flatMap(StreamingSpec.cursorParse)
    val q = graft.streaming.ResumeCursorProcessor(spark, src)
      .toDF("epoch", "pct", "k", "bucket", "off", "n")
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_cursor_out").start()
    try {
      q.processAllAvailable()
      Files.write(new java.io.File(dir, "b2.txt").toPath,
        b2.mkString("\n").getBytes("UTF-8"))
      q.processAllAvailable()
      // final row per (epoch, pct) = the one at the max n (n only grows)
      val got = spark.sql(
          """SELECT epoch, pct, max_by(k, n), max_by(bucket, n), max_by(off, n), max(n)
             FROM graft_cursor_out GROUP BY epoch, pct""")
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      assert(got == want, s"streamed cursor census diverged: $got vs $want")
    } finally q.stop()
  }

  test("ResumeCursorProcessor recovers the census across a checkpoint restart") {
    import spark.implicits._
    val (lines, want) = cursorFixture()
    val dir = Files.createTempDirectory("graft_cursor_ck_in").toFile
    val ckpt = Files.createTempDirectory("graft_cursor_ck").toString
    val (b1, b2) = lines.splitAt(lines.length / 2)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long, Long, Long)]()
    def start() = {
      val src = spark.readStream.text(dir.getAbsolutePath).as[String]
        .flatMap(StreamingSpec.cursorParse)
      graft.streaming.ResumeCursorProcessor(spark, src)
        .toDF("epoch", "pct", "k", "bucket", "off", "n")
        .writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => out.add(
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
              r.getLong(4), r.getLong(5))))
        }
        .option("checkpointLocation", ckpt).start()
    }
    Files.write(new java.io.File(dir, "b1.txt").toPath,
      b1.mkString("\n").getBytes("UTF-8"))
    val q1 = start(); q1.processAllAvailable(); q1.stop() // simulated failure
    Files.write(new java.io.File(dir, "b2.txt").toPath,
      b2.mkString("\n").getBytes("UTF-8"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = out.toArray(Array.empty[(Long, Long, Long, Long, Long, Long)])
      .groupBy(t => (t._1, t._2)).map { case (key, xs) =>
        val last = xs.maxBy(_._6)
        key -> ((last._3, last._4, last._5, last._6))
      }
    assert(got == want, s"post-restart cursor census diverged: $got vs $want")
  }
}
