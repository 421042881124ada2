package graft

import org.apache.spark.sql.functions._

/** Dev-only: VOLUME ladder for the graph family — the quantities that
  * decide 100-TB viability, measured directly so the noisy time ladder
  * doesn't have to carry the claim (this host swings ±3× run-to-run):
  *  - co-purchase edge count (bounded per order by the basket cap);
  *  - degree-oriented WEDGE volume Σ_v C(d_out(v), 2) — the exact
  *    shuffle volume of graph_triangles' closure join (and the thing
  *    whose ×128 spill exceeds this box's disk: linear growth is the
  *    claim, this prints the proof);
  *  - max oriented out-degree (the skew ceiling).
  */
object DevGraphVol {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("local[32]", 64)
    spark.sparkContext.setLogLevel("ERROR")
    Seq(("x1", "/root/testdata/sf0.1"),
      ("x8", "/tmp/graft_devscale/v3/x8"),
      ("x32", "/tmp/graft_devscale/v3/x32"),
      ("x128", "/tmp/graft_devscale/v3/x128")).foreach { case (l, d) =>
      val li = spark.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val edges = li.as("x").join(li.as("y"), "o")
        .filter(col("x.p") < col("y.p"))
        .select(col("x.p").as("lo"), col("y.p").as("hi")).distinct()
        .localCheckpoint(true)
      val deg = edges.select(col("lo").as("v"))
        .unionAll(edges.select(col("hi").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      val dl = deg.select(col("v").as("lo"), col("d").as("dl"))
      val dh = deg.select(col("v").as("hi"), col("d").as("dh"))
      val dout = edges.join(dl, "lo").join(dh, "hi")
        .select(when(col("dl") < col("dh") ||
          (col("dl") === col("dh") && col("lo") < col("hi")), col("lo"))
          .otherwise(col("hi")).as("out"))
        .groupBy("out").agg(count(lit(1)).as("k"))
      val r = dout.agg(sum(expr("k * (k - 1) DIV 2")).as("wedges"),
        max("k").as("max_dout")).collect()(0)
      val nE = edges.count()
      println(f"GVOL $l%-5s edges=$nE%,12d  wedges=${r.getLong(0)}%,14d  max_dout=${r.getLong(1)}%6d")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
    }
    spark.stop()
  }
}
