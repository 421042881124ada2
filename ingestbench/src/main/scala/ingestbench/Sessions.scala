package ingestbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Path

/** Spark sessions for the workloads that need one: `local[3]`, leaving a
  * core for the generator, the stub and the JVM's own threads.
  */
object Sessions {
  val Cores = 3

  private def base(work: Path): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")

  /** The settings of the streaming ingest entry point. */
  def streaming(work: Path): SparkSession = quiet(base(work).getOrCreate())

  /** The session settings `graft.Bench` uses, at their defaults. */
  def analytics(work: Path): SparkSession = quiet(base(work)
    .config("spark.graft.guard.globalWindow", "error")
    .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "2m")
    .getOrCreate())

  private def quiet(s: SparkSession): SparkSession = { s.sparkContext.setLogLevel("ERROR"); s }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }
}
