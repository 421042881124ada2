package graft

/** Dev harness: enumerate uncapped self-joins per registered query
  * (plan-only). `runMain graft.DevSelfJoinAudit [sfDir]`.
  */
object DevSelfJoinAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val results = SelfJoinAudit.audit(spark, sfDir)
    results.filter(r => r.uncapped > 0 || r.err.isDefined).foreach { r =>
      println(s"FLAG ${r.name} uncapped=${r.uncapped} err=${r.err.getOrElse("")}")
      if (args.contains("--why")) {
        import org.apache.spark.sql.catalyst.plans.logical.Join
        SparkEntry.queries(r.name)(spark, sfDir).queryExecution.optimizedPlan.foreach {
          case j: Join if SelfJoinAudit.isUncapped(j) =>
            println(s"  JOIN ${j.joinType} cond=${j.condition.map(_.sql).getOrElse("-")}")
          case _ => ()
        }
      }
    }
    println(s"total flagged: ${results.count(_.uncapped > 0)} of ${results.size}")
    spark.stop()
  }
}
