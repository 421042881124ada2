package graft.streaming

import graft.core.GtsRow
import graft.ops.Ingest
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery}

/** Structured-Streaming ingest dataflow — the Spark-native form of the
  * reference's request→parse→encode→send pipeline (SURVEY.md §3.1-3.2):
  *
  *   source (file/socket/kafka lines)
  *     → `ops.Ingest.graphite(…, mode = "DROPMALFORMED").as[GtsRow]`
  *       (errors dropped, mirroring the graphite TCP skip-on-error
  *       policy, catalyser/graphite.go:276-283)
  *     → event-time watermark + tumbling window aggregation, or the
  *       Warp sink (`TokenRoutedWarpWriter`, as `IngestServer.start`
  *       wires it).
  *
  * The banned-token gate (middlewares/auth.go:30-53) is a broadcast-able
  * anti-join against a ban table — small state stays broadcast; if it
  * grows, promote to flatMapGroupsWithState keyed by token.
  */
object GraphiteStream {

  /** Custom keyed streaming state via mapGroupsWithState: running
    * datapoint count per metric name — the pattern the banned-token /
    * per-series state machines grow into when broadcast state is too big
    * (SURVEY.md Table B "state").
    */
  def runningCountsByName(spark: SparkSession, parsed: Dataset[GtsRow]): Dataset[(String, Long)] = {
    import spark.implicits._
    parsed.groupByKey(_.name)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (name: String, rows: Iterator[GtsRow], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (name, n)
      }
  }

  /** Event-time tumbling counts with a watermark bounding state/late data —
    * replaces the reference's implicit "accept anything, now() if missing"
    * policy (catalyser/opentsdb.go:128-130) with an explicit lateness
    * contract.
    */
  def windowedCounts(parsed: Dataset[GtsRow], window_ : String, watermark: String): DataFrame =
    parsed.toDF()
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_), col("name"))
      .agg(count(lit(1)).as("n_points"), sum(col("v_double")).as("sum_double"))
      .select(col("window.start").as("w_start"), col("name"), col("n_points"), col("sum_double"))

  /** Anti-join the stream against a (small, broadcast) banned-token table —
    * the reference's pre-handler ban check (middlewares/auth.go:41-48).
    */
  def filterBanned(parsed: DataFrame, banned: DataFrame, tokenCol: String): DataFrame =
    parsed.join(broadcast(banned), parsed(tokenCol) === banned("token"), "left_anti")

  /** Convenience end-to-end: read text files appearing under `inputDir`,
    * parse, window, write counts to an in-memory table `queryName`.
    * `outputMode`: "append" (production shape — rows emit once the
    * watermark passes the window end) or "complete" (all windows every
    * trigger — handy for tests/dashboards).
    */
  def fileIngestToMemory(
      spark: SparkSession,
      inputDir: String,
      queryName: String,
      window_ : String = "1 minute",
      watermark: String = "10 minutes",
      outputMode: String = "append"): StreamingQuery = {
    import spark.implicits._
    val lines = spark.readStream.text(inputDir).as[String]
    val parsed = Ingest.graphite(lines, parseHierarchy = true, mode = "DROPMALFORMED").as[GtsRow]
    windowedCounts(parsed, window_, watermark)
      .writeStream.outputMode(outputMode).format("memory").queryName(queryName).start()
  }
}
