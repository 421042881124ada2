package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, LocalRelation, LogicalPlan, Window}

/** Shared audit: count GLOBAL windows (empty partition spec) per
  * registered query, split into provably-small (per
  * [[graft.plans.GlobalWindowGuard]]'s rules — Aggregate/Limit/
  * LocalRelation below the window) vs data-sized. Data-sized global
  * windows move every row through one task at cluster scale; the audit
  * runs as a ScalaTest spec (WindowAuditSpec) so a new query can't
  * reintroduce one (round-3 hybrid_rrf lesson).
  */
object WindowAudit {

  final case class Result(name: String, small: Int, bad: Int, err: Option[String])

  private def provablySmall(plan: LogicalPlan): Boolean = plan match {
    case _: Aggregate | _: GlobalLimit | _: LocalLimit | _: LocalRelation => true
    case other if other.children.size == 1 => provablySmall(other.children.head)
    case _ => false
  }

  def audit(spark: SparkSession, sfDir: String): Seq[Result] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        var small = 0; var bad = 0
        fn(spark, sfDir).queryExecution.analyzed.foreach {
          case w: Window if w.partitionSpec.isEmpty =>
            if (provablySmall(w.child)) small += 1 else bad += 1
          case _ => ()
        }
        Result(name, small, bad, None)
      } catch { case e: Throwable => Result(name, 0, 0, Some(String.valueOf(e.getMessage))) }
    }
}
