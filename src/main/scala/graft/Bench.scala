package graft

/** Benchmark main (driver contract): runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * A small uncounted warmup first touches parquet reading + codegen paths
  * so the first measured query isn't charged JVM class-loading.
  *
  * Contention-proofing (round-4 verdict: a noisy host window inflated the
  * driver's single-shot bench 8× vs the same build measured quiet):
  *  - every query is timed in TWO full passes over the registry and the
  *    per-query MIN is reported — two samples minutes apart, so a
  *    transient contention window can only inflate one of them (back-to-
  *    back reps would both land inside the window);
  *  - a fixed probe query (the warmup aggregation) is re-timed before,
  *    between, and after the passes and reported as `host_noise` — a
  *    probe ratio far above 1 flags that even the mins are suspect.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    def probe(): Double = { // fixed, cheap, stable: the noise sentinel
      val t0 = System.nanoTime()
      try {
        Tables.t(spark, sfDir, "lineitem").groupBy("l_returnflag").count().collect()
        Tables.events(spark, sfDir).agg(org.apache.spark.sql.functions.max("ts_us")).collect()
      } catch { case _: Throwable => () }
      (System.nanoTime() - t0) / 1e9
    }
    // uncounted warmups: parquet reader + shuffle + codegen machinery on
    // the first pass, C2-tier JIT of the hot paths on the second — with a
    // single warmup the FIRST timed probe still ran ~2x the later ones on
    // a provably quiet host, spuriously inflating the noise ratio
    probe(); probe()

    // optional trailing args: bench only the named queries (repeated
    // `--reps N` times each) — the perf-iteration loop for one operator.
    // Full-registry runs always take at least 2 passes (see scaladoc).
    val (reps, names) = args.toSeq match {
      case Seq("--reps", n, rest @ _*) => (n.toInt, rest)
      case other => (1, other)
    }
    val passes = if (names.isEmpty) math.max(2, reps) else math.max(1, reps)
    val selected =
      if (names.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else names.flatMap(n => SparkEntry.queries.get(n).map(n -> _))
    val probes = scala.collection.mutable.ArrayBuffer[Double](probe())
    // a query that throws is reported under "failed" and left out of
    // every total: its partial time measures the failure, not the query
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val samples = (1 to passes).map { _ =>
      val pass = selected.flatMap { case (name, fn) =>
        // previous query's persisted intermediates: teardown OUTSIDE the
        // timed region. clearCache drops catalog-cached plans only —
        // localCheckpoint/persist RDD blocks accumulate across a 228-query
        // pass and the resulting storage-memory pressure measurably
        // inflated late-alphabet heavy queries (graph_walk_skipgrams ran
        // 10.2 s in a full pass vs 3.2 s isolated), so drop every
        // persistent RDD explicitly as well.
        spark.catalog.clearCache()
        // blocking: an async unpersist races into the NEXT query's timed
        // region (the prom_* queries, right after the persist-heavy
        // pipeline_* ones alphabetically, ran 3-5x slower under the
        // concurrent block-removal storm)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some(name -> (System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: $e")
          failed += name
          None
        }
      }.toMap
      probes += probe()
      pass
    }
    val results = selected.map(_._1).filterNot(failed)
      .map(name => name -> samples.map(_(name)).min)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // pass 1 is the SINGLE-PASS COLD total (codegen compile included) —
    // reported as total_cold beside the min-of-passes total so the
    // baseline comparison isn't methodology-flattered (r8 verdict #6)
    val totalCold = results.map { case (name, _) => samples.head(name) }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val noise = {
      val lo = probes.min
      val ratio = if (lo > 0) probes.max / lo else 1.0
      s"""{"probe_sec":${probes.map(p => f"$p%.3f").mkString("[", ",", "]")},"ratio":${f"$ratio%.2f"}}"""
    }
    val coldMin =
      s""""total_cold":$totalCold,"total_min":$total,"failed":$failedJson"""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec",$coldMin,"queries":$qs,"passes":$passes,"host_noise":$noise,"sf":"$sfDir"}"""
    // Full line first (it is long; a tail window can truncate it —
    // round-3 BENCH files all had parsed:null), then a
    // short bare totals line that truncation can't eat, and the full JSON
    // to a fixed path for out-of-band pickup.
    println(full)
    println(s"""{"metric":"total","value":$total,"unit":"sec",$coldMin,"n_queries":${results.size},"passes":$passes,"host_noise":$noise,"sf":"$sfDir"}""")
    try java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/graft_bench.json"),
      (full + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    // Full-registry runs also archive to bench_history/ (committed), so
    // tools/bench_compare.py has per-query records across rounds — the
    // driver's BENCH_rN.json wrapper keeps only a 2000-char tail and the
    // r9 "8.94 s text_edit_pairs" phantom cost a manual investigation
    // that a normalized per-query diff dismisses in seconds.
    if (names.isEmpty) try {
      // repo-root-relative (GRAFT_BENCH_HISTORY overrides; else the
      // launch cwd — sbt runs from the checkout), never a hardcoded
      // absolute path: a moved checkout must not archive into a stale
      // tree, and a failed write must WARN, not vanish.
      val dir = java.nio.file.Paths.get(
        sys.env.getOrElse("GRAFT_BENCH_HISTORY",
          s"${System.getProperty("user.dir")}/bench_history"))
      java.nio.file.Files.createDirectories(dir)
      val stamp = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
        .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())
      val sfTag = sfDir.replaceAll(".*sf", "sf").replaceAll("[^a-zA-Z0-9.]", "")
      java.nio.file.Files.write(dir.resolve(s"bench_${stamp}_$sfTag.json"),
        (full + "\n").getBytes("UTF-8"))
    } catch {
      case e: Throwable =>
        System.err.println(s"WARNING: bench_history archive write failed: $e")
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
