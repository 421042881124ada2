package ingestbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Spark engine counters from a listener the benchmark registers. Job
  * intervals are kept so that busy time is their union: jobs overlap
  * under concurrent submission, so a plain sum can exceed wall time.
  */
final class SparkProbe extends SparkListener {
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  private val jobStart = mutable.HashMap.empty[Int, Long]
  /** (start, end) of finished jobs, in ms since the epoch. */
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(jobStart(e.jobId) = e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def jobsIn(fromMs: Long, toMs: Long): Seq[(Long, Long)] =
    synchronized(jobs.filter { case (s, _) => s >= fromMs && s <= toMs }.toSeq)

  final case class Snap(jobs: Int, stages: Long, tasks: Long, cpuNs: Long, gcMs: Long,
      read: Long, write: Long, spill: Long, compiles: Long)
  def snap(): Snap = synchronized(Snap(jobs.size, stages.get, tasks.get, taskCpuNs.get, gcMs.get,
    shuffleRead.get, shuffleWrite.get, spill.get, SparkProbe.compiles))

  /** `spark.*` metrics between two snapshots over a window of wall ms. */
  def report(a: Snap, b: Snap, fromMs: Long, toMs: Long, rep: Report): Unit = {
    val busy = SparkProbe.unionMs(jobsIn(fromMs, toMs))
    rep.put("spark.jobs", (b.jobs - a.jobs).toDouble, "count")
    rep.put("spark.stages", (b.stages - a.stages).toDouble, "count")
    rep.put("spark.tasks", (b.tasks - a.tasks).toDouble, "count")
    rep.put("spark.job_busy_ms", busy.toDouble, "ms")
    rep.put("spark.driver_gap_ms", math.max(0L, (toMs - fromMs) - busy).toDouble, "ms")
    rep.put("spark.task_cpu_ms", (b.cpuNs - a.cpuNs) / 1e6, "ms")
    rep.put("spark.gc_ms", (b.gcMs - a.gcMs).toDouble, "ms")
    rep.put("spark.shuffle_read_bytes", (b.read - a.read).toDouble, "B")
    rep.put("spark.shuffle_write_bytes", (b.write - a.write).toDouble, "B")
    rep.put("spark.spill_bytes", (b.spill - a.spill).toDouble, "B")
    rep.put("spark.codegen_compiles", (b.compiles - a.compiles).toDouble, "count")
  }
}

object SparkProbe {
  val Metrics = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.job_busy_ms",
    "spark.driver_gap_ms", "spark.task_cpu_ms", "spark.gc_ms", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.codegen_compiles")

  /** Whole-stage and expression code generations so far (JVM-wide). */
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def attach(spark: SparkSession): SparkProbe = {
    val p = new SparkProbe
    spark.sparkContext.addSparkListener(p)
    p
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
}
