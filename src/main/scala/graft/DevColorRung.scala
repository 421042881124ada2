package graft

/** Dev-only: page-cache-CONTROLLED time rungs for graph_coloring_mis
  * (r10 verdict task #7) — the second-heaviest bench query, whose ×8
  * DevScale cells showed the ±3× host-swing band (36-167 s) and whose
  * ×128 cell was never filled under known cache state. The DevLshRung
  * method verbatim: per rung, drop the OS page cache, time a cache-COLD
  * run, then an immediately-repeated WARM run, with the fixed noise
  * probe before/between/after so every number carries its cache state
  * and noise context. graph_mis_greedy rides along (same Luby core,
  * one round family earlier) for a same-run cross-check.
  *
  * Args: rung dirs (default x32 + x128 tiles).
  */
object DevColorRung {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/tmp/graft_devscale/v3/x32", "/tmp/graft_devscale/v3/x128")
    val spark = GraftSession("local[32]", 128)
    spark.sparkContext.setLogLevel("ERROR")
    def teardown(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
    }
    // returns true iff the page cache was actually dropped — a failed
    // write (no root, read-only /proc) would otherwise silently turn
    // the "cold" rung into a warm run, the exact cache-state ambiguity
    // this harness exists to remove
    def dropCaches(): Boolean = {
      new ProcessBuilder("sync").inheritIO().start().waitFor()
      val p = new ProcessBuilder("sh", "-c", "echo 3 > /proc/sys/vm/drop_caches")
      p.start().waitFor() == 0
    }
    def probe(dir: String): Double = {
      val t0 = System.nanoTime()
      Tables.t(spark, dir, "region").count()
      Tables.t(spark, dir, "nation").groupBy("n_regionkey").count().collect()
      (System.nanoTime() - t0) / 1e9
    }
    val qs = Seq("graph_mis_greedy", "graph_coloring_mis")
      .map(n => n -> SparkEntry.queries(n))
    dirs.foreach { dir =>
      qs.foreach { case (name, fn) =>
        teardown()
        val dropped = dropCaches()
        val coldLabel = if (dropped) "cache_cold" else "cache_cold_UNVERIFIED"
        val p0 = probe(dir)
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        val cold = (System.nanoTime() - t0) / 1e9
        teardown()
        val p1 = probe(dir)
        val t1 = System.nanoTime()
        fn(spark, dir).count()
        val warm = (System.nanoTime() - t1) / 1e9
        teardown()
        val p2 = probe(dir)
        println(f"COLORRUNG $dir $name $coldLabel=$cold%.1f warm=$warm%.1f " +
          f"probes=[$p0%.2f,$p1%.2f,$p2%.2f]")
      }
    }
    spark.stop()
  }
}
