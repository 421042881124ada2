package graft

import graft.expressions.DotProductDouble
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The fused native dot product: bit-identical to the
  * aggregate(zip_with) fold it replaced in the similarity queries,
  * including null/length-mismatch semantics, through both the codegen
  * and interpreted paths.
  */
class DotProductDoubleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("local[2]", 2)

  override def afterAll(): Unit = spark.stop()

  private def foldDot = {
    // the formulation graft_dot replaces, as a Column factory
    (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
  }

  test("bit-identical to the aggregate(zip_with) fold on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val rows = Seq.fill(200)((
      Seq.fill(64)(rnd.nextDouble() * 2 - 1),
      Seq.fill(64)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("a", "b")
    val got = df.select(
      call_function("graft_dot", col("a"), col("b")).as("native"),
      foldDot(col("a"), col("b")).as("fold")).collect()
    got.foreach { r =>
      // bitwise equality, not tolerance: same accumulation order
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("interpreted path matches codegen") {
    val e = DotProductDouble(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1.5, -2.0, 3.25), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(2.0, 0.5, -4.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
    assert(e.eval(null) == (1.5 * 2.0 + -2.0 * 0.5 + 3.25 * -4.0))
  }

  test("null element and length mismatch yield NULL (zip_with semantics)") {
    val r1 = spark.sql(
      "SELECT graft_dot(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d)) AS d").collect()
    assert(r1.head.isNullAt(0))
    val r2 = spark.sql(
      "SELECT graft_dot(array(1.0d), array(1.0d, 2.0d)) AS d").collect()
    assert(r2.head.isNullAt(0))
    // parity with the fold on the mismatch case
    val r3 = spark.sql(
      """SELECT aggregate(zip_with(array(1.0d), array(1.0d, 2.0d), (x, y) -> x * y),
        |  0.0d, (acc, x) -> acc + x) AS d""".stripMargin).collect()
    assert(r3.head.isNullAt(0))
  }

  test("rejects non-double-array inputs at analysis") {
    val err = intercept[Exception] {
      spark.sql("SELECT graft_dot(array('a'), array('b'))").collect()
    }
    assert(err.getMessage.toLowerCase.contains("graft_dot"))
  }

  // ---- graft_dot_long: the fixed-point integer twin ----

  test("graft_dot_long equals the integer fold on random quantized vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val rows = Seq.fill(200)((
      Seq.fill(64)(rnd.nextInt(80001).toLong - 40000L),
      Seq.fill(64)(rnd.nextInt(80001).toLong - 40000L)))
    val df = rows.toDF("a", "b")
    val got = df.select(
      call_function("graft_dot_long", col("a"), col("b")).as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)").as("fold"))
      .collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("graft_dot_long: null element / length mismatch NULL; wrong types rejected") {
    val r1 = spark.sql(
      "SELECT graft_dot_long(array(1L, CAST(NULL AS BIGINT)), array(1L, 2L)) AS d").collect()
    assert(r1.head.isNullAt(0))
    val r2 = spark.sql("SELECT graft_dot_long(array(1L), array(1L, 2L)) AS d").collect()
    assert(r2.head.isNullAt(0))
    val err = intercept[Exception] {
      spark.sql("SELECT graft_dot_long(array(1.0d), array(2.0d))").collect()
    }
    assert(err.getMessage.toLowerCase.contains("graft_dot_long"))
  }

  test("graft_dot_long runs inside whole-stage codegen") {
    import spark.implicits._
    val df = Seq((Seq(1L, 2L), Seq(3L, 4L))).toDF("a", "b").repartition(1)
      .selectExpr("graft_dot_long(a, b) AS d")
    assert(df.collect()(0).getLong(0) == 11L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no WholeStageCodegen span in:\n$plan")
  }
}
