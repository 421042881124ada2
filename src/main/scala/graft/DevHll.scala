package graft

/** Dev-only: measure graph_effective_diameter's HyperANF HLL estimate
  * error at each SF — the input for choosing the r8-verdict-#9 bucket
  * edges (surface the estimate as a coarse bucket beside the n4_est_ok
  * boolean, so HLL drift reads as a bucket mismatch, not an opaque hash
  * failure). The oracle must pin ONE bucket constant valid at every SF,
  * so the edges have to clear the worst measured error with margin.
  */
object DevHll {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("local[16]", 16)
    spark.sparkContext.setLogLevel("ERROR")
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
      val dir = s"/root/testdata/$sf"
      val r = graft.queries.Graphs.effectiveDiameterDiag(spark, dir)
        .collect()(0)
      val n4 = r.getAs[Long]("n4")
      val est = (r.getAs[Long]("est_balls") - r.getAs[Long]("n_vertices")).toDouble
      val errPct = math.abs(est - n4) * 100.0 / n4
      println(f"[devhll] $sf%-8s n4=$n4%8d est=${est}%12.1f err=$errPct%6.3f%%")
    }
    spark.stop()
  }
}
