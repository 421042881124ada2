package graft

import org.apache.spark.sql.functions._

/** Dev-only: page-cache-CONTROLLED time rungs for the two LSH heavies
  * whose ×128 wall times were memory-hierarchy-bound (r9: lsh_bands
  * c = 3.85, lsh_tuning c = 1.49, both with candidate volumes proven
  * exactly linear). Per query and rung: drop the OS page cache
  * (`echo 3 > /proc/sys/vm/drop_caches` — this box allows it), time a
  * cache-COLD run, then an immediately-repeated WARM run, with the
  * Bench noise probe before/between/after — so every number carries
  * its cache state and its noise context. Args: rung dirs (default
  * x32 + x128 tiles).
  */
object DevLshRung {
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
    // true iff the cache drop actually happened (same guard as
    // DevColorRung — a silent failure would label a warm run "cold")
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
    val qs = Seq("dedup_lsh_bands", "dedup_lsh_tuning")
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
        println(f"LSHRUNG $dir $name $coldLabel=$cold%.1f warm=$warm%.1f " +
          f"probes=[$p0%.2f,$p1%.2f,$p2%.2f]")
      }
    }
    spark.stop()
  }
}
