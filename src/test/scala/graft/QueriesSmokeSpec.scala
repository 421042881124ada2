package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every registered query runs against sf0.001 without throwing — the
  * sbt-test-level guard for the driver's Verify gate (full oracle parity
  * is tools/check.py's job). The one suite on a plain session, without
  * GraftExtensions: a harness may build its session that way, and only
  * here must every query resolve through its own imperative `register` /
  * `ensureStrategy` calls. Verify certifies the GraftSession plans.
  */
class QueriesSmokeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("entry returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty, s"unexpected rows-only queries: $rowsOnly")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name runs at sf0.001") {
      val n = fn(spark, sfDir).count()
      assert(n >= 0)
      spark.catalog.clearCache()
    }
  }

  test("q_approx_distinct HLL estimates are within 5% of exact q_distinct") {
    // the query's own oracle only bounds at 15% (3× rsd); assert the
    // tighter documented envelope on the raw estimates here
    import org.apache.spark.sql.functions.{approx_count_distinct, col}
    val approx = Tables.t(spark, sfDir, "lineitem").agg(
      approx_count_distinct(col("l_partkey")).as("a_parts"),
      approx_count_distinct(col("l_suppkey")).as("a_supps")).collect().head
    val exact = SparkEntry.queries("q_distinct")(spark, sfDir).collect().head
    def relErr(a: Long, e: Long): Double = math.abs(a - e).toDouble / e
    val pairs = Seq(
      (approx.getAs[Long]("a_parts"), exact.getAs[Long]("n_parts")),
      (approx.getAs[Long]("a_supps"), exact.getAs[Long]("n_supps")))
    pairs.foreach { case (a, e) =>
      assert(relErr(a, e) < 0.05, s"HLL estimate $a vs exact $e exceeds 5% relative error")
    }
    val checked = SparkEntry.queries("q_approx_distinct")(spark, sfDir).collect().head
    assert(checked.getAs[Boolean]("parts_within_15pct"))
    assert(checked.getAs[Boolean]("supps_within_15pct"))
  }

  test("approx_percentile sketch is within 2% of the exact percentile") {
    // no cross-engine oracle for the sketch; verify against exact instead
    import org.apache.spark.sql.functions._
    val r = graft.Tables.t(spark, sfDir, "lineitem").agg(
      expr("percentile(l_extendedprice, array(0.5, 0.95))").as("exact"),
      expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)").as("approx")).head
    val exact = r.getSeq[Double](0)
    val approx = r.getSeq[Double](1)
    exact.zip(approx).foreach { case (e, a) =>
      assert(math.abs(a - e) / e < 0.02, s"approx $a vs exact $e exceeds 2%")
    }
  }

  test("dedup_clusters under RELIABLE checkpointing matches localCheckpoint results") {
    val base = SparkEntry.queries("dedup_clusters")(spark, sfDir).collect().toSeq
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck").toString
    spark.conf.set("spark.graft.checkpointDir", ckDir)
    try {
      val reliable = SparkEntry.queries("dedup_clusters")(spark, sfDir).collect().toSeq
      assert(reliable == base, "reliable-checkpoint mode changed clustering output")
      // the reliable path actually wrote checkpoint data
      val wrote = new java.io.File(ckDir).listFiles != null &&
        new java.io.File(ckDir).listFiles.nonEmpty
      assert(wrote, s"no checkpoint data written under $ckDir")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("config layering: spark conf > env > reference defaults (A36)") {
    val defaults = graft.core.GraftConfig.load(None)
    assert(defaults.connectionTimeoutMs == 300000 && defaults.dialTimeoutMs == 10000 &&
      defaults.keepAliveTimeoutMs == 30000 && defaults.bannishmentMs == 3000L &&
      defaults.graphiteParse && !defaults.dryRun &&
      defaults.warpEndpointDelete == "http://127.0.0.1:8080")
    spark.conf.set("graft.warp.connection.timeout", "1234")
    spark.conf.set("graft.dryrun", "true")
    val layered = graft.core.GraftConfig.load(Some(spark))
    assert(layered.connectionTimeoutMs == 1234 && layered.dryRun)
  }
}
