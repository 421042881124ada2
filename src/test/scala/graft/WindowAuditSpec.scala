package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide scale guard in `sbt test`: no registered query may plan
  * a GLOBAL window (empty partition spec) over a data-sized input — the
  * every-row-through-one-task hazard. Provably-small children (Aggregate
  * / Limit / LocalRelation below the window) are the sanctioned shapes:
  * distributed prefix-sum second passes and top-k re-ranks. Plan-only
  * (analyzed, never executed), so the whole sweep is cheap.
  */
class WindowAuditSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = GraftSession("local[4]", 4)

  override def afterAll(): Unit = spark.stop()

  test("no registered query has a data-sized global window") {
    val results = WindowAudit.audit(spark, sfDir)
    val errs = results.filter(_.err.isDefined)
    assert(errs.isEmpty, s"queries failed to plan: ${errs.map(r => s"${r.name}: ${r.err.get}")}")
    val bad = results.filter(_.bad > 0)
    assert(bad.isEmpty,
      s"data-sized global windows (partition the window or top-k + limit first): " +
        bad.map(r => s"${r.name} (${r.bad})").mkString(", "))
  }
}
