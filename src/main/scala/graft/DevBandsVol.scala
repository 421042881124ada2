package graft

/** Dev-only: candidate-VOLUME ladder for dedup_lsh_bands — separates
  * algorithmic growth (candidate counts per config) from machine
  * effects (page cache, spill) in the DevScale curvature readings.
  */
object DevBandsVol {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("local[32]", 32)
    spark.sparkContext.setLogLevel("ERROR")
    Seq(("x1", "/root/testdata/sf0.1"),
      ("x8", "/tmp/graft_devscale/v3/x8"),
      ("x32", "/tmp/graft_devscale/v3/x32"),
      ("x128", "/tmp/graft_devscale/v3/x128")).foreach { case (l, d) =>
      val t0 = System.nanoTime()
      val r = graft.queries.Dedup.lshBands.fn(spark, d).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"VOL $l%-5s $sec%7.1f s  " + r.map(x =>
        s"${x.getInt(0)}x${x.getInt(1)}:cand=${x.getLong(2)}").mkString(" "))
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    spark.stop()
  }
}
