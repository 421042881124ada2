package graft

/** Dev-only: dump formatted physical plans for plan-quality review
  * (pushdown / pruning / broadcast / partial agg / codegen spans).
  */
object DevExplain {
  def main(args: Array[String]): Unit = {
    // --exec: EXECUTE each query first (collect), then print the FINAL
    // AQE plan — the only way to see runtime rewrites (SMJ->SHJ swaps,
    // AQEShuffleRead coalesced partition counts). Without it the dump
    // is the initial plan (isFinalPlan=false).
    val (exec, rest) = args.partition(_ == "--exec")
    val sfDir = if (rest.nonEmpty) rest(0) else "/root/testdata/sf0.01"
    val names = if (rest.length > 1) rest.drop(1).toSet else Set.empty[String]
    val spark = GraftSession("local[8]", 8)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.isEmpty || names.contains(name)) {
        println(s"\n========== $name ==========")
        try {
          val df = fn(spark, sfDir)
          if (exec.nonEmpty) df.collect()
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        } catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
