package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.lang.ref.WeakReference

/** The base-table memo in [[Tables.t]] must not pin a stopped session,
  * and handing back the same DataFrame twice must never make a
  * self-join return a wrong count.
  */
class TablesSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  test("a stopped session is released once another session calls Tables.t") {
    // Threads copy the active session (an inheritable thread-local) when
    // they are created. Hadoop's FileSystem statistics cleaner is one
    // process-lifetime thread, started on first use: start it before any
    // session is active. The first session runs no shuffle either —
    // Spark's static exchange pools keep their threads, and with them
    // the creating session, for 60 s after their last task.
    SparkSession.clearActiveSession()
    org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    // built in a method so no local of this frame keeps the session alive
    def stoppedAfterRead(): WeakReference[SparkSession] = {
      val first = session()
      Tables.t(first, sfDir, "nation").schema
      stop(first)
      new WeakReference(first)
    }
    val ref = stoppedAfterRead()
    val second = session()
    try {
      Tables.t(second, sfDir, "nation").schema
      var rounds = 0
      while (ref.get != null && rounds < 50) {
        System.gc(); Thread.sleep(100); rounds += 1
      }
      assert(ref.get == null, "the memo still holds the stopped session after 50 GC rounds")
    } finally stop(second)
  }

  test("t(..) joined to t(..) gets the correct pair count or throws AnalysisException") {
    val s = session()
    try {
      val expected = s.read.parquet(s"$sfDir/nation.parquet")
        .groupBy("n_regionkey").count()
        .agg(sum(col("count") * col("count"))).head().getLong(0)
      val l = Tables.t(s, sfDir, "nation")
      val r = Tables.t(s, sfDir, "nation")
      val got =
        try Some(l.join(r, l("n_regionkey") === r("n_regionkey")).count())
        catch { case _: AnalysisException => None }
      got.foreach(n => assert(n == expected, s"self-join of two t() calls counted $n pairs"))
      val aliased = l.as("a").join(r.as("b"), col("a.n_regionkey") === col("b.n_regionkey"))
      assert(aliased.count() == expected)
    } finally stop(s)
  }
}
