package graft

import graft.functions.MinHashAggregator
import graft.queries.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The typed MinHash Aggregator must produce signatures identical to the
  * column-expression pipeline used by dedup_minhash_lsh.
  */
class MinHashAggregatorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("local[4]", 4)

  override def afterAll(): Unit = spark.stop()

  test("udaf signatures == column-expression signatures on real documents") {
    spark.udf.register("minhash_sig", udaf(MinHashAggregator))
    val sh = Dedup.sparkShingles(spark, "/root/testdata/sf0.001")
      .withColumn("hm", expr(Dedup.hashExpr))
    val viaUdaf = sh.groupBy("doc_id").agg(expr("minhash_sig(hm)").as("sig"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
    val sc = Dedup.sigCols
    val viaExprs = sh.groupBy("doc_id").agg(sc.head, sc.tail: _*)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), (1 to 16).map(r.getLong(_)).toSeq))
    assert(viaUdaf.length > 0)
    assert(viaUdaf.toSeq == viaExprs.toSeq)
  }

  test("simhash udaf signatures == 32-sum expression signatures") {
    spark.udf.register("simhash_sig_t", udaf(graft.functions.SimHashAggregator))
    val sh = Dedup.sparkShingles(spark, "/root/testdata/sf0.001")
      .withColumn("h", expr("CAST(conv(substr(md5(sh), 1, 15), 16, 10) AS BIGINT)"))
    val viaUdaf = sh.groupBy("doc_id").agg(expr("simhash_sig_t(h)").as("sig"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val bitSums = (0 until 32).map { b =>
      sum(expr(s"IF((shiftright(h, $b) & 1) = 1, 1, -1)")).as(s"s$b")
    }
    val sigExpr = (0 until 32).map(b => s"IF(s$b > 0, ${1L << b}L, 0L)").mkString(" + ")
    val viaExprs = sh.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), expr(sigExpr).as("sig"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(viaUdaf.length > 0 && viaUdaf.toSeq == viaExprs.toSeq)
  }

  test("merge is order-insensitive (partial aggregation safe)") {
    val b1 = MinHashAggregator.reduce(MinHashAggregator.zero, 12345L)
    val b2 = MinHashAggregator.reduce(MinHashAggregator.zero, 999999L)
    val m1 = MinHashAggregator.merge(b1.clone(), b2.clone()).toSeq
    val m2 = MinHashAggregator.merge(b2.clone(), b1.clone()).toSeq
    assert(m1 == m2)
  }
}
