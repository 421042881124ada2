package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Ground-truth pins for ts_forecast_ensemble: (1) the Bates–Granger
  * combination can lose to its WORST member by at most 1 cent of MAE —
  * the convexity bound mae_ens <= max member mae is exact-arithmetic
  * only; the per-step ensemble DIV ws floor shifts the absolute-error
  * sum by <= 3 and the final DIV 3 turns that into <= +1, so the
  * PROVABLE invariant is mae_ens <= worst + 1 (a larger gap means the
  * weighting arithmetic broke, e.g. weights paired with the wrong
  * member errors); (2) the bp weights are a partition of ~10000 (each
  * truncating division loses < 1, so the sum sits in (9997, 10000]).
  * The ens_beats_worst COLUMN stays the strict comparison — it is
  * descriptive output compared bit-exact vs the oracle, not an
  * invariant; on the current corpus it happens to be true everywhere.
  */
class ForecastEnsembleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession("local[4]", 4)

  override def afterAll(): Unit = spark.stop()

  test("ensemble loses to the worst member by at most 1; weights partition 10000") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val rows = graft.queries.Series.tsForecastEnsemble.fn(spark, dir)
        .select("event_type", "w_naive_bp", "w_drift_bp", "w_mean_bp",
          "mae_naive", "mae_drift", "mae_mean", "mae_ens", "ens_beats_worst")
        .collect()
      assert(rows.nonEmpty, s"$dir: no ensemble rows")
      rows.foreach { r =>
        val t = r.getString(0)
        val wsum = r.getLong(1) + r.getLong(2) + r.getLong(3)
        assert(wsum > 9997L && wsum <= 10000L, s"$dir/$t: weight sum $wsum")
        val worst = Seq(r.getLong(4), r.getLong(5), r.getLong(6)).max
        // provable bound under the two truncation layers (see scaladoc)
        assert(r.getLong(7) <= worst + 1,
          s"$dir/$t: mae_ens ${r.getLong(7)} > worst $worst + 1")
        // the strict boolean must agree with the columns it summarizes
        assert(r.getBoolean(8) == (r.getLong(7) <= worst),
          s"$dir/$t: ens_beats_worst inconsistent with mae columns")
      }
    }
  }
}
