package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Ground-truth pins for ts_cointegration_eval: the harness PLANTS the
  * trends, so the four Dickey–Fuller verdicts are not data-dependent
  * opinions but constructed facts — za carries a dominant integrated
  * walk (level test must NOT reject), its difference is stationary
  * (must reject), zb shares za's walk (EG residual stationary ⇒
  * cointegrated) and zc carries an independent walk (EG residual is
  * I(1) ⇒ spurious regression caught). A verdict flip is a regression
  * in the fixed-point moment pipeline (quantization too coarse, walk
  * too weak vs the hourly noise — the Schwert MA-bias failure the
  * first cut of the harness hit), never an acceptable re-calibration.
  */
class TsCointEvalSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("local[4]", 4)

  override def afterAll(): Unit = spark.stop()

  private def verdicts(dir: String): Map[String, Boolean] =
    graft.queries.Series.tsCointEval.fn(spark, dir)
      .select("test", "rejected").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap

  test("planted-trend verdicts hold at sf0.001 and sf0.01") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val v = verdicts(dir)
      assert(v("adf_level") === false, s"$dir: level series must keep its unit root")
      assert(v("adf_diff") === true, s"$dir: differenced series must reject the unit root")
      assert(v("eg_shared") === true, s"$dir: shared-walk pair must test cointegrated")
      assert(v("eg_indep") === false, s"$dir: independent-walk pair must stay spurious")
    }
  }
}
