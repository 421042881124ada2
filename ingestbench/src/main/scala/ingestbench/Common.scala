package ingestbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ThreadFactory
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** Percentiles over independent samples. A percentile is only reported
  * when at least `MinBeyond` samples lie beyond it, so a p99 needs
  * 1,000 samples and a p50 needs 20.
  */
object Stats {
  val MinBeyond = 10

  def sorted(xs: Iterable[Double]): Array[Double] = { val a = xs.toArray; java.util.Arrays.sort(a); a }

  /** Nearest-rank percentile of an already sorted array. */
  def pctSorted(a: Array[Double], p: Double): Double =
    if (a.isEmpty) Double.NaN
    else a(math.min(a.length - 1, math.max(0, math.ceil(p * a.length).toInt - 1)))

  def pct(xs: Iterable[Double], p: Double): Double = pctSorted(sorted(xs), p)

  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)

  /** Enough samples lie beyond the p-th percentile to report it. */
  def supported(n: Int, p: Double): Boolean = n - math.ceil(p * n) >= MinBeyond

  /** The percentile, or 0 when the sample cannot support it. */
  def pctOrZero(xs: Iterable[Double], p: Double): Double =
    if (supported(xs.size, p)) pct(xs, p) else 0.0
}

/** Program CPU: the CPU time of the process's Java threads, except the
  * benchmark's own. Every generator and stub thread is named with the
  * `bench-` prefix and lives until the measurement window has been read.
  * The JVM's JIT compiler and GC worker threads are not Java threads and
  * are not counted: within a run of seconds the JIT is still compiling
  * Spark's code paths, and its share swings from run to run.
  */
object Cpu {
  private val threads = ManagementFactory.getThreadMXBean

  /** CPU time of each live Java thread outside the harness, by id. */
  def programThreads: Map[Long, Long] = {
    val m = Map.newBuilder[Long, Long]
    threads.getThreadInfo(threads.getAllThreadIds).foreach { ti =>
      if (ti != null && !ti.getThreadName.startsWith("bench-")) {
        val t = threads.getThreadCpuTime(ti.getThreadId)
        if (t > 0) m += ti.getThreadId -> t
      }
    }
    m.result()
  }

  final case class Mark(program: Map[Long, Long], wallNs: Long)
  def mark(): Mark = Mark(programThreads, System.nanoTime())
  /** Program CPU between two marks, in ns: threads alive at the second
    * mark, less what each had used at the first.
    */
  def programNs(a: Mark, b: Mark): Long =
    b.program.iterator.map { case (id, t) => t - a.program.getOrElse(id, 0L) }.sum
}

/** Progress lines on stderr, with the seconds since the JVM started. */
object Log {
  private val start = ManagementFactory.getRuntimeMXBean.getStartTime
  def phase(msg: String): Unit =
    System.err.println(f"[ingestbench ${(System.currentTimeMillis() - start) / 1e3}%7.2f s] $msg")
}

object Heap {
  /** Heap in use after full collections, in MB: collect until the heap
    * stops shrinking, since Spark's ContextCleaner frees shuffle and
    * broadcast state only after a collection has found it unreachable.
    */
  def retainedMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); Thread.sleep(100); mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0) }
    val xs = mutable.ArrayBuffer(used(), used())
    while (xs.size < 10 && xs(xs.size - 2) - xs.last > 0.5) xs += used()
    Log.phase("heap after GCs (MB): " + xs.map(x => f"$x%.1f").mkString(" "))
    xs.last
  }
}

/** Named daemon threads for the load generator and the stub. */
final class Named(prefix: String) extends ThreadFactory {
  private val n = new AtomicInteger
  override def newThread(r: Runnable): Thread = {
    val t = new Thread(r, s"$prefix-${n.incrementAndGet()}")
    t.setDaemon(true)
    t
  }
}

/** What one run prints: end-to-end or per-layer metrics, the sample
  * count behind each, and the outcome of the output checks.
  */
final class Report {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val samples = mutable.LinkedHashMap.empty[String, Long]
  private val failures = mutable.ArrayBuffer.empty[String]
  private val info = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String, n: Long = 1L): Unit = {
    metrics(name) = (value, unit); samples(name) = n
  }
  def note(key: String, value: Any): Unit = info(key) = value.toString

  /** Count `n` failed operations; keep the first messages for the log. */
  def fail(n: Long, msg: => String): Unit = if (n > 0) {
    failed += n
    if (failures.size < 20) failures += msg
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""

  /** A readable line with sample counts, then the result line. */
  def print(names: Seq[(String, String)]): Unit = {
    val detail = metrics.map { case (k, (v, u)) =>
      s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)},\"samples\":${samples(k)}}"
    }.mkString("{", ",", "}")
    val notes = info.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
    println(s"""{"detail":$detail,"notes":$notes,"failures":${failures.map(str).mkString("[", ",", "]")}}""")
    val out = names.map { case (k, unit) =>
      val v = metrics.get(k).map(_._1).getOrElse(0.0)
      s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(unit)}}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":${math.max(1L, attempted)},"failed":$failed,"metrics":$out}""")
  }
}
