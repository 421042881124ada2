package graft

import org.apache.spark.sql.functions._

/** Dev-only: VOLUME ladder for the two heaviest dedup shapes — the
  * DevGraphVol pattern applied to text. Per rung:
  *  - prefix-filter: posting rows after the rarest-first prefix cut,
  *    and the candidate-pair volume of the posting self-join (the
  *    query's real shuffle+verify load);
  *  - symspell: deletion-neighborhood posting rows (df-capped) and the
  *    blocked pair volume.
  * Linear growth of both is the 100-TB claim; the time ladder on this
  * host cannot carry it (±3× run-to-run swings).
  */
object DevDedupVol {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("local[32]", 64)
    spark.sparkContext.setLogLevel("ERROR")
    Seq(("x1", "/root/testdata/sf0.1"),
      ("x8", "/tmp/graft_devscale/v3/x8"),
      ("x32", "/tmp/graft_devscale/v3/x32"),
      ("x128", "/tmp/graft_devscale/v3/x128")).foreach { case (l, d) =>
      val sh = graft.queries.Dedup.hashedShingles(spark, d).localCheckpoint(true)
      val posts = graft.ops.Lsh.prefixPostings(sh, "doc_id").localCheckpoint(true)
      val nPosts = posts.count()
      val cand = posts.select(col("doc_id").as("d1"), col("sh"))
        .join(posts.select(col("doc_id").as("d2"), col("sh")),
          Seq("sh")).filter(col("d1") < col("d2"))
        .select("d1", "d2").distinct().count()
      val sp = graft.queries.Dedup.symspellPairs(spark, d)
      val nSym = sp.count()
      println(f"DVOL $l%-5s prefix_postings=$nPosts%,12d  prefix_cand=$cand%,12d  symspell_pairs=$nSym%,10d")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
    }
    spark.stop()
  }
}
