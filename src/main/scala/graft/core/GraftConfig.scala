package graft.core

import org.apache.spark.sql.SparkSession

/** Config layering (SURVEY.md §2 A36, reference cmd/root.go:40-94): the
  * viper default→file→env cascade becomes spark-conf → env var → default.
  * Keys mirror the reference's names under a `graft.` prefix; defaults are
  * the reference's (BASELINE.md table).
  */
final case class GraftConfig(
    warpEndpoint: String,
    warpEndpointDelete: String,     // warp_endpoint_delete (same host default)
    connectionTimeoutMs: Int,   // warp.connection.timeout (300 s)
    dialTimeoutMs: Int,         // warp.connection.dial.timeout (10 s)
    keepAliveTimeoutMs: Int,    // warp.connection.keep-alive.timeout (30 s): the longest
                                // a pooled Warp socket may sit idle and still be reused
    bannishmentMs: Long,        // bannishment.duration (3000 ms)
    graphiteParse: Boolean,     // graphite.parse (true)
    dryRun: Boolean)            // dryrun (false)

object GraftConfig {
  private def layered(spark: Option[SparkSession], key: String, default: String): String = {
    val confKey = s"graft.$key"
    val envKey = "GRAFT_" + key.toUpperCase.replace('.', '_').replace('-', '_')
    spark.flatMap(s => s.conf.getOption(confKey))
      .orElse(sys.env.get(envKey))
      .getOrElse(default)
  }

  /** Resolve with the reference's defaults (cmd/root.go:46-56). */
  def load(spark: Option[SparkSession] = None): GraftConfig = GraftConfig(
    warpEndpoint = layered(spark, "warp.endpoint", "http://127.0.0.1:8080/api/v0/update"),
    warpEndpointDelete = layered(spark, "warp_endpoint_delete", "http://127.0.0.1:8080"),
    connectionTimeoutMs = layered(spark, "warp.connection.timeout", "300000").toInt,
    dialTimeoutMs = layered(spark, "warp.connection.dial.timeout", "10000").toInt,
    keepAliveTimeoutMs = layered(spark, "warp.connection.keep-alive.timeout", "30000").toInt,
    bannishmentMs = layered(spark, "bannishment.duration", "3000").toLong,
    graphiteParse = layered(spark, "graphite.parse", "true").toBoolean,
    dryRun = layered(spark, "dryrun", "false").toBoolean)
}
