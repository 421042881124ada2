package graft

/** Dev smoke: runs the driver's entry-point contract exactly as the driver
  * does (entry() on sf0.001, rows>0).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("local[8]", 8)
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"SMOKE entry rows=$n")
    df.show(5, false)
    assert(n > 0, "entry returned no rows")
    spark.stop()
  }
}
