package ingestbench

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** `query_mix`: 13 registry queries run in sequence through
  * `SparkEntry.queries`, with `graft.Bench`'s session settings and cached
  * blocks dropped between queries. Each query's executed step is
  * [[QueryWorkload.hashed]]: its row count and order-independent result
  * hash, which computes every output column, where a count would let the
  * optimizer prune them. Both are checked in every pass against the
  * values recorded in `golden/query_mix.json`.
  */
final class QueryWorkload(seed: Long, seconds: Int, trace: Boolean, rep: Report, work: Path,
    golden: Path, record: Boolean) {
  import QueryWorkload._

  private val variant = java.lang.Math.floorMod(seed, Variants.toLong).toInt
  private val dataDir = work.resolve(s"data/sf$Sf-v$variant")

  final case class Timing(name: String, constructMs: Double, planMs: Double, execMs: Double,
      rows: Long, hash: String, fromMs: Long, toMs: Long) {
    def totalMs: Double = constructMs + planMs + execMs
  }

  /** One query, split into its three steps. */
  private def runQuery(spark: SparkSession, name: String): Timing = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val fn = SparkEntry.queries(name)
    val from = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val df = fn(spark, dataDir.toString)
    val t1 = System.nanoTime()
    val checked = hashed(df)
    checked.queryExecution.executedPlan
    val t2 = System.nanoTime()
    val (rows, hash) = rowsAndHash(checked.head())
    val t3 = System.nanoTime()
    Timing(name, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6, rows, hash, from,
      System.currentTimeMillis())
  }

  /** One timed pass; every query's rows and hash are checked, or recorded. */
  private def pass(spark: SparkSession): Seq[Timing] = Names.map { name =>
    val t = runQuery(spark, name)
    rep.attempted += 1
    if (record) recorded(name) = (t.rows, t.hash)
    else expected.get(name) match {
      case Some((rows, hash)) =>
        if (rows != t.rows || hash != t.hash)
          rep.fail(1, s"$name gave ${t.rows} rows hash ${t.hash}, recorded $rows rows hash $hash")
      case None => rep.fail(1, s"$name has no recorded result")
    }
    t
  }

  private lazy val expected: Map[String, (Long, String)] = readGolden(golden, variant)
  private val recorded = mutable.LinkedHashMap.empty[String, (Long, String)]

  def run(): Unit = {
    rep.note("workload", "query_mix")
    rep.note("variant", variant)
    val inputRows = DataGen.cached(dataDir).getOrElse {
      val gen = Sessions.analytics(work)
      try DataGen.ensure(gen, dataDir, Sf, 1000L + variant) finally Sessions.stop(gen)
    }

    Log.phase("data ready")
    // set-up: a session with Bench's settings, every table resolved
    val setups = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      val s = Sessions.analytics(work)
      DataGen.Tables.foreach(t => Tables.t(s, dataDir.toString, t).schema)
      val d = (System.nanoTime() - t0) / 1e9
      if (i < 3) Sessions.stop(s)
      (d, s)
    }
    val spark = setups.last._2
    rep.put("setup_s", Stats.median(setups.map(_._1)), "s", setups.size)
    rep.put("setup_first_s", setups.head._1, "s")

    Log.phase("set-up done")
    val cold = pass(spark)
    Log.phase("first pass done")
    rep.put("first_pass_s", cold.map(_.totalMs).sum / 1e3, "s", cold.size)
    if (record) { writeGolden(golden, variant, recorded.toMap); return }

    def warm(secs: Double): (Seq[Seq[Timing]], Cpu.Mark, Cpu.Mark) = {
      val passes = mutable.ArrayBuffer.empty[Seq[Timing]]
      val m0 = Cpu.mark()
      // whole passes, as many as come nearest to `secs`, at least two
      def elapsed = (System.nanoTime() - m0.wallNs) / 1e9
      while (passes.size < 2 || elapsed + elapsed / passes.size / 2 < secs) passes += pass(spark)
      (passes.toSeq, m0, Cpu.mark())
    }
    val secs = if (trace) seconds / 2.0 else seconds.toDouble
    val (passes, m0, m1) = warm(secs)
    Log.phase(s"${passes.size} warm passes done")
    val passS = Stats.median(passes.map(_.map(_.totalMs).sum / 1e3))
    // the geometric mean of each query's median time: every query moves it
    // by its share. A percentile over the runs is the time of whichever
    // query ranks in the middle, and seven queries lie within 1.5x there.
    val perQuery = passes.flatten.groupBy(_.name).values.map(ts => Stats.median(ts.map(_.totalMs)))
    rep.put("pass_s", passS, "s", passes.size)
    rep.put("latency_p50_ms", math.exp(perQuery.map(math.log).sum / perQuery.size), "ms",
      passes.size * Names.size)
    rep.put("cpu_us_per_point", Cpu.programNs(m0, m1) / 1e3 / (passes.size * inputRows), "us",
      passes.size * inputRows)
    rep.note("input_rows", inputRows)

    if (trace) {
      val probe = SparkProbe.attach(spark)
      SparkProbe.drain(spark)
      val a = probe.snap(); val fromMs = System.currentTimeMillis()
      val (tp, _, _) = warm(secs)
      val toMs = System.currentTimeMillis()
      SparkProbe.drain(spark)
      probe.report(a, probe.snap(), fromMs, toMs, rep)
      val tracedPass = Stats.median(tp.map(_.map(_.totalMs).sum / 1e3))
      rep.put("trace.overhead_pct", 100.0 * (tracedPass - passS) / passS, "%")
      // per query: medians over the traced passes
      tp.flatten.groupBy(_.name).foreach { case (name, ts) =>
        rep.put(s"queries.$name.construct_ms", Stats.median(ts.map(_.constructMs)), "ms", ts.size)
        rep.put(s"queries.$name.plan_ms", Stats.median(ts.map(_.planMs)), "ms", ts.size)
        rep.put(s"queries.$name.exec_ms", Stats.median(ts.map(_.execMs)), "ms", ts.size)
        rep.put(s"queries.$name.jobs", Stats.median(ts.map(t => probe.jobsIn(t.fromMs, t.toMs).size.toDouble)),
          "count", ts.size)
      }
      spark.sparkContext.removeSparkListener(probe)
    }
    rep.put("heap_retained_mb", Heap.retainedMb(), "MB")
    Sessions.stop(spark)
    Log.phase("stopped")
  }
}

object QueryWorkload {
  val Sf = 0.01
  val Variants = 4
  val Names = Seq(
    "graphite_parse", "influx_precision", "prom_remote_write", "opentsdb_parse", "sensision_encode",
    "warp_batch27",
    "q1_agg", "q6_forecast_revenue", "q_tumbling_window", "ts_ewma", "ts_counter_rate",
    "ts_rolling_median",
    "graph_pagerank")

  /** Row count and the sum of per-row hashes, so row order does not
    * matter; one Spark job. Doubles are rounded to single precision
    * first, as partial sums may be combined in any order.
    */
  def hashed(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      if (f.dataType == DoubleType) col(f.name).cast(FloatType) else col(f.name)
    }
    df.agg(count(lit(1)), sum(pmod(xxhash64(cols.toIndexedSeq: _*), lit(1L << 32))))
  }

  def rowsAndHash(r: org.apache.spark.sql.Row): (Long, String) =
    (r.getLong(0), java.lang.Long.toHexString(if (r.isNullAt(1)) 0L else r.getLong(1)))

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def readGolden(file: Path, variant: Int): Map[String, (Long, String)] =
    if (!Files.exists(file)) Map.empty
    else {
      val node = mapper.readTree(file.toFile).path("variants").path(variant.toString)
      val b = Map.newBuilder[String, (Long, String)]
      node.fieldNames().forEachRemaining { q =>
        val e = node.get(q); b += q -> (e.get(0).asLong(), e.get(1).asText())
      }
      b.result()
    }

  def writeGolden(file: Path, variant: Int, res: Map[String, (Long, String)]): Unit = {
    val root =
      if (Files.exists(file)) mapper.readTree(file.toFile).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      else mapper.createObjectNode()
    root.put("sf", Sf)
    val vs = Option(root.get("variants")).map(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      .getOrElse(root.putObject("variants"))
    val v = vs.putObject(variant.toString)
    Names.foreach { q => res.get(q).foreach { case (rows, h) => v.putArray(q).add(rows).add(h) } }
    Files.createDirectories(file.getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(file.toFile, root)
  }
}
