package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One registered operator: the Spark implementation plus (when
  * SQL-expressible) its DuckDB oracle twin. Column names/types must match
  * between the two — the driver sorts columns by name and hash-compares
  * values.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Canonical table access. Scale notes baked in here:
  *  - AQE on (runtime re-plan / skew-join splitting at cluster scale);
  *  - events' TIMESTAMP(NANOS) parquet needs nanosAsLong in Spark; the
  *    canonical cross-engine timestamp unit is MICROSECONDS (`ts_us`,
  *    also the GTS native unit — core/warp.go:45), because DuckDB
  *    truncates nanos parquet to µs on read.
  */
object Tables {

  def tune(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  // Plan-handle memo, NOT a result cache: spark.read.parquet resolves a
  // DataSource + lists the path + reads parquet footers for schema on
  // EVERY call, driver-side work each query re-pays inside its timed
  // region. The memo holds the resolved (lazy, unexecuted) DataFrames of
  // the most recent session to call, so repeated reads of the same
  // static table skip re-resolution; every action still scans the
  // parquet fresh — no data, no results, no persisted blocks live here.
  // One session at a time: each memoized DataFrame holds its session
  // strongly, so a map keyed by session (even weakly) could never free a
  // stopped one; a call from a different session replaces the memo and
  // releases the previous session. Repeated t() calls return the SAME
  // DataFrame, so a self-join of two t() results must alias its sides
  // (unaliased, Spark either resolves it correctly or throws
  // AnalysisException — it never returns a wrong count; TablesSpec pins
  // this). Caveat: a harness that OVERWRITES a parquet path and re-reads
  // it through Tables.t in the SAME session would see the stale file
  // listing — the repo's overwrite-then-reread sites (DevScale tiling,
  // TrainerCoverageSpec planted corpora) all use fresh dirs per
  // generation.
  private var memoSession: SparkSession = _
  private val memo = scala.collection.mutable.HashMap.empty[String, DataFrame]

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    tune(spark)
    synchronized {
      if (memoSession ne spark) { memo.clear(); memoSession = spark }
      memo.getOrElseUpdate(s"$dir/$name", spark.read.parquet(s"$dir/$name.parquet"))
    }
  }

  /** events with canonical µs epoch column `ts_us` (DuckDB: epoch_us(ts)).
    * The driver's generator has shipped `ts` as TIMESTAMP(NANOS) (read as
    * LONG nanos under nanosAsLong) and as timestamp[us]; adapt on type so
    * both vintages of the testdata produce the identical µs-epoch bigint.
    * Session TZ is pinned UTC in [[tune]], so the NTZ cast is exact.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = t(spark, dir, "events")
    val tsUs = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts DIV 1000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        expr("unix_micros(cast(ts as timestamp))")
      case _ => expr("unix_micros(ts)")
    }
    df.withColumn("ts_us", tsUs)
  }
}
