package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Structural guarantees of the cumulative-quota compaction binning
  * (layout_compaction_plan) on ADVERSARIAL file distributions, not just
  * the friendly testdata: the planner must never over-fragment
  * (n_bins ≤ ideal_bins = ⌈total/T⌉) and a bin may exceed the target
  * only via its single straddling file. Proven on a mix of partitions —
  * all-tiny files, one-giant-file, power-law sizes, and exact-multiple
  * totals (the boundary where ceil arithmetic goes wrong first).
  */
class CompactionPlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("local[4]", 4)

  override def afterAll(): Unit = spark.stop()

  test("n_bins <= ideal_bins and single-file overshoot on adversarial listings") {
    import spark.implicits._
    val T = 100L
    // partitions: p_tiny = 300 x 1-byte files; p_giant = one 1000-byte
    // file + dust; p_pow = power-law; p_exact = files summing to k*T
    val files =
      (1 to 300).map(i => ("p_tiny", i.toLong, 1L)) ++
      (Seq(("p_giant", 1L, 1000L)) ++ (2 to 20).map(i => ("p_giant", i.toLong, 3L))) ++
      (1 to 60).map(i => ("p_pow", i.toLong, math.max(1L, 512L >> (i / 6)))) ++
      (1 to 40).map(i => ("p_exact", i.toLong, 5L)) // total = 200 = 2*T
    val df = files.toDF("source", "doc_id", "bytes")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("bytes").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val binned = df.withColumn("c", coalesce(sum("bytes").over(w), lit(0L)))
      .withColumn("bin", expr(s"c DIV $T"))
    val perBin = binned.groupBy("source", "bin")
      .agg(count(lit(1)).as("nf"), sum("bytes").as("bb"), max("bytes").as("mx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val perSrc = perBin.groupBy(_._1)
    for ((src, bins) <- perSrc) {
      val total = bins.map(_._4).sum
      val ideal = (total + T - 1) / T
      assert(bins.length <= ideal, s"$src: ${bins.length} bins > ideal $ideal")
      // overshoot bound: a bin holds at most T-1 bytes of "previous
      // quota remainder" plus its own files; removing its largest file
      // must bring it under the target (single-straddler overshoot)
      for ((_, bin, nf, bb, mx) <- bins if bb > T)
        assert(bb - mx < T, s"$src bin $bin: overshoot $bb not explained by one file (max $mx)")
    }
    // the giant file must NOT absorb unrelated dust into a mega-bin:
    // it fills its quota alone and dust lands in later bins
    val giant = perBin.filter(r => r._1 == "p_giant" && r._3 == 1L && r._5 == 1000L)
    assert(giant.nonEmpty, "giant file should sit alone in its bin(s)")
    spark.catalog.clearCache()
  }
}
