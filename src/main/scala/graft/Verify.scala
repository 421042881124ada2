package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName ...] — names filter for fast
    // single-query iteration (the driver always passes just two)
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => only.isEmpty || only(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a stale output dir from an earlier run must not masquerade as
        // this round's result — remove it so the gate sees a missing query
        def rm(f: java.io.File): Unit = {
          // listFiles is null on I/O error / concurrent removal
          if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(): Unit
        }
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.exists()) rm(dir)
      }
      spark.catalog.clearCache()
      // clearCache misses localCheckpoint blocks and RDD-level persists;
      // over a 346-query sweep the accumulated storage pressure evicts
      // later queries' working set (the round-6 graph_walk_skipgrams
      // finding — same teardown as Bench)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
