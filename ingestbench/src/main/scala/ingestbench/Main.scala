package ingestbench

import java.nio.file.{Files, Path, Paths}

/** Entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --golden <file>
  * [--record 1] [--rate <r>]`. `--rate` overrides the offered rate of the
  * open-loop workloads, to measure their capacity.
  *
  * Prints a detail line (every metric with its sample count, the notes
  * and the first failures), then the result line: the end-to-end metrics
  * of an untraced run, or the per-layer metrics of a traced one.
  */
object Main {
  val Workloads = Seq("http_small", "http_bulk", "tcp_stream", "query_mix")

  val EndToEnd = Seq(
    "setup_s" -> "s", "first_pass_s" -> "s", "pass_s" -> "s", "latency_p50_ms" -> "ms",
    "cpu_us_per_point" -> "us", "heap_retained_mb" -> "MB")

  val PerLayer: Seq[(String, String)] =
    Seq("HttpIngress.self_ms_p50" -> "ms", "HttpIngress.access_log_entries" -> "count",
      "WarpSink.open_ms_p50" -> "ms", "WarpSink.close_ms_p50" -> "ms", "WarpSink.close_ms_p99" -> "ms",
      "WarpSink.opens_per_kpoint" -> "count", "WarpSink.bytes_per_point" -> "B") ++
    Layers.ParserMetrics.map(_._2 -> "ns") ++
    Seq("Sensision.encode_ns_per_point" -> "ns",
      "IngestServer.batches" -> "count", "IngestServer.rows_per_batch_p50" -> "count",
      "IngestServer.busy_ratio" -> "1", "IngestServer.addBatch_ms" -> "ms",
      "IngestServer.latestOffset_ms" -> "ms", "IngestServer.getBatch_ms" -> "ms",
      "IngestServer.walCommit_ms" -> "ms", "IngestServer.queryPlanning_ms" -> "ms",
      "IngestServer.spool_files" -> "count", "IngestServer.fresh_ms_p90" -> "ms") ++
    SparkProbe.Metrics.map(m => m -> (if (m.endsWith("_ms")) "ms" else if (m.endsWith("bytes")) "B" else "count")) ++
    QueryWorkload.Names.flatMap(q => Seq(s"queries.$q.construct_ms" -> "ms", s"queries.$q.plan_ms" -> "ms",
      s"queries.$q.exec_ms" -> "ms", s"queries.$q.jobs" -> "count")) ++
    Seq("loadgen.late_ms_max" -> "ms", "loadgen.sent" -> "count", "trace.overhead_pct" -> "%")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"unknown workload '$workload' (one of ${Workloads.mkString(", ")})")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Files.createDirectories(Paths.get(opts.getOrElse("work", ".work")).toAbsolutePath)
    val rate = opts.get("rate").map(_.toDouble)
    val golden: Path = Paths.get(opts.getOrElse("golden", "golden/query_mix.json")).toAbsolutePath

    val rep = new Report
    workload match {
      case "http_small" => new HttpWorkload(bulk = false, seed, seconds, trace, rep, rate).run()
      case "http_bulk" => new HttpWorkload(bulk = true, seed, seconds, trace, rep).run()
      case "tcp_stream" => new TcpWorkload(seed, seconds, trace, rep, work, rate).run()
      case "query_mix" =>
        new QueryWorkload(seed, seconds, trace, rep, work, golden, opts.get("record").contains("1")).run()
    }
    rep.print(if (trace) PerLayer else EndToEnd)
    System.out.flush()
    // the workloads stop what they started; exit without waiting on any
    // daemon thread a library left behind
    sys.exit(0)
  }
}
