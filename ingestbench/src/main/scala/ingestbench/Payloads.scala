package ingestbench

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** One request body (or one TCP connection) of generated points. Point
  * `i` of the payload carries the label `id = firstId + i`; the stub keys
  * each delivered line by `2 * id`, plus one for the second influx field
  * (`name` ending in `.b`), so every point has its own key.
  */
final case class Payload(
    protocol: String,
    path: String,
    contentType: String,
    body: Array[Byte],
    firstId: Int,
    lines: Int,
    fanout: Int) {
  def points: Int = lines * fanout
  def keys: Iterator[Int] =
    Iterator.range(firstId, firstId + lines).flatMap(id => Iterator.range(0, fanout).map(2 * id + _))
}

/** Seeded generator of wire payloads plus the Sensision line expected for
  * a seeded sample of their points. The expected text is rendered here,
  * independently of the program's encoder, from the generator's own
  * name, labels, value and timestamp.
  */
final class Payloads(seed: Long, sampleEvery: Int) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val sampler = new java.util.SplittableRandom(seed * 31 + 7)
  private var nextId = 0
  /** key → expected Sensision line (with its CRLF). */
  val expected = mutable.HashMap.empty[Int, String]

  val Token = "benchtoken"
  private val baseMs = 1700000000000L + (seed & 0xFFFF) * 1000L
  private val groups = Array("cpu", "mem", "disk", "net", "load", "proc")
  private val leaves = Array("user", "free", "used", "rx", "tx", "idle", "wait")
  private val promNames = Array("http_requests_total", "node_load1", "process_cpu_seconds_total")

  def keySpace: Int = 2 * nextId

  private def host(): String = "h" + rnd.nextInt(64)
  /** k/4: exact in binary, printed by Scala with a '.' */
  private def value(): Double = rnd.nextInt(4000) / 4.0
  private def sampled(): Boolean = sampler.nextInt(sampleEvery) == 0
  private def goFloat(v: Double): String =
    String.format(java.util.Locale.ROOT, "%f", java.lang.Double.valueOf(v))
  private def alloc(n: Int): Int = { val f = nextId; nextId += n; f }

  /** Influx line protocol, two fields per line (`a` float, `b` integer). */
  def influx(lines: Int): Payload = {
    val first = alloc(lines)
    val sb = new java.lang.StringBuilder(lines * 64)
    var i = 0
    while (i < lines) {
      val id = first + i
      val m = groups(rnd.nextInt(groups.length)); val h = host()
      val a = value(); val b = rnd.nextInt(100000)
      val tsNs = (baseMs + id) * 1000000L + 1000L * rnd.nextInt(1000)
      sb.append(m).append(",h=").append(h).append(",id=").append(id)
        .append(" a=").append(a).append(",b=").append(b).append("i ").append(tsNs).append('\n')
      if (sampled()) {
        val pre = s"${tsNs / 1000}// $m"
        expected(2 * id) = s"$pre.a{h=$h,id=$id} ${goFloat(a)}\r\n"
        expected(2 * id + 1) = s"$pre.b{h=$h,id=$id} $b\r\n"
      }
      i += 1
    }
    Payload("influx", "/influxdb/write", "text/plain",
      sb.toString.getBytes(UTF_8), first, lines, 2)
  }

  /** Graphite plaintext. Over HTTP the program adds hierarchy labels
    * (`0`, `1`); over TCP it does not, and every line carries the
    * `TOKEN@.` prefix the TCP edge strips.
    */
  def graphite(lines: Int, tcp: Boolean): Payload = {
    val first = alloc(lines)
    val sb = new java.lang.StringBuilder(lines * 64)
    val prefix = if (tcp) Token + "@." else ""
    var i = 0
    while (i < lines) {
      val id = first + i
      val g = groups(rnd.nextInt(groups.length)); val l = leaves(rnd.nextInt(leaves.length))
      val h = host(); val v = value(); val tsMs = baseMs + id
      sb.append(prefix).append(g).append('.').append(l).append(";h=").append(h)
        .append(";id=").append(id).append(' ').append(v).append(' ').append(tsMs).append('\n')
      if (sampled()) {
        val hier = if (tcp) "" else s"0=$g,1=$l,"
        expected(2 * id) = s"${tsMs * 1000}// $g.$l{${hier}h=$h,id=$id} ${goFloat(v)}\r\n"
      }
      i += 1
    }
    Payload("graphite", "/graphite/api/v1/sink", "text/plain", sb.toString.getBytes(UTF_8),
      first, lines, 1)
  }

  /** OpenTSDB JSON put: one array of objects. */
  def opentsdb(lines: Int): Payload = {
    val first = alloc(lines)
    val sb = new java.lang.StringBuilder(lines * 96).append('[')
    var i = 0
    while (i < lines) {
      val id = first + i
      val m = "sys." + groups(rnd.nextInt(groups.length)); val h = host()
      val v = value(); val tsMs = baseMs + id
      if (i > 0) sb.append(',')
      sb.append("{\"metric\":\"").append(m).append("\",\"timestamp\":").append(tsMs)
        .append(",\"value\":").append(v).append(",\"tags\":{\"h\":\"").append(h)
        .append("\",\"id\":\"").append(id).append("\"}}")
      if (sampled()) expected(2 * id) = s"${tsMs * 1000}// $m{h=$h,id=$id} ${goFloat(v)}\r\n"
      i += 1
    }
    sb.append(']')
    Payload("opentsdb", "/opentsdb/api/put", "application/json", sb.toString.getBytes(UTF_8),
      first, lines, 1)
  }

  /** Prometheus remote_write: a snappy-compressed WriteRequest with one
    * single-sample TimeSeries per line.
    */
  def promRemoteWrite(lines: Int): Payload = {
    val first = alloc(lines)
    val w = new Proto
    var i = 0
    while (i < lines) {
      val id = first + i
      val n = promNames(rnd.nextInt(promNames.length)); val h = host()
      val v = value(); val tsMs = baseMs + id
      val ts = new Proto
      ts.message(1, new Proto().string(1, "__name__").string(2, n))
      ts.message(1, new Proto().string(1, "h").string(2, h))
      ts.message(1, new Proto().string(1, "id").string(2, id.toString))
      ts.message(2, new Proto().fixed64(1, java.lang.Double.doubleToLongBits(v)).varint(2, tsMs))
      w.message(1, ts)
      if (sampled()) expected(2 * id) = s"${tsMs * 1000}// $n{h=$h,id=$id} ${goFloat(v)}\r\n"
      i += 1
    }
    Payload("prom_rw", "/prometheus/remote_write", "application/x-protobuf",
      org.xerial.snappy.Snappy.compress(w.bytes), first, lines, 1)
  }
}

/** Just enough protobuf wire encoding for a remote_write WriteRequest. */
final class Proto {
  private val out = new java.io.ByteArrayOutputStream
  private def raw(v: Long): Unit = {
    var x = v
    while ((x & ~0x7FL) != 0) { out.write(((x & 0x7F) | 0x80).toInt); x >>>= 7 }
    out.write(x.toInt)
  }
  def varint(field: Int, v: Long): Proto = { raw((field << 3).toLong); raw(v); this }
  def fixed64(field: Int, v: Long): Proto = {
    raw(((field << 3) | 1).toLong)
    var i = 0
    while (i < 8) { out.write(((v >>> (8 * i)) & 0xFF).toInt); i += 1 }
    this
  }
  private def bytesField(field: Int, b: Array[Byte]): Proto = {
    raw(((field << 3) | 2).toLong); raw(b.length.toLong); out.write(b); this
  }
  def string(field: Int, s: String): Proto = bytesField(field, s.getBytes(UTF_8))
  def message(field: Int, m: Proto): Proto = bytesField(field, m.bytes)
  def bytes: Array[Byte] = out.toByteArray
}
