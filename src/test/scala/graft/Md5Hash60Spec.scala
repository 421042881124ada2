package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The fused native 60-bit md5 hash: bit-identical to the
  * conv(substr(md5(x),1,15),16,10) chain it replaced across the
  * sketch/LSH/sampling operators, through both codegen and interpreted
  * paths, on adversarial and random inputs.
  */
class Md5Hash60Spec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("local[2]", 2)

  override def afterAll(): Unit = spark.stop()

  test("bit-identical to the conv/substr/md5 chain on random + edge strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val edge = Seq("", " ", "a", "0", "é æ 文字", "a b c", "\t\n",
      "x" * 1000, "00000000", "key:with:colons")
    val rows = edge ++ Seq.fill(500)(rnd.alphanumeric.take(rnd.nextInt(40)).mkString) ++
      Seq.fill(100)(rnd.nextLong().toString)
    val df = rows.toDF("s")
    // codegen path (projection over many rows)
    val diff = df.select(
        call_function("graft_h60", col("s")).as("native"),
        expr("CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)").as("chain"))
      .filter(col("native") =!= col("chain")).count()
    assert(diff == 0L)
    // interpreted path (literal fold inside the driver-evaluated filter)
    val one = df.limit(1).repartition(1)
      .select(call_function("graft_h60", lit("probe")).as("n"),
        expr("CAST(conv(substr(md5('probe'), 1, 15), 16, 10) AS BIGINT)").as("c"))
      .head
    assert(one.getLong(0) == one.getLong(1))
    // range: always a non-negative 60-bit value
    val mx = df.select(max(call_function("graft_h60", col("s")))).head.getLong(0)
    val mn = df.select(min(call_function("graft_h60", col("s")))).head.getLong(0)
    assert(mn >= 0L && mx < (1L << 60))
  }
}
