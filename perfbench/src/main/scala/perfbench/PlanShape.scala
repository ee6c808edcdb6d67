package perfbench

import scala.collection.mutable
import org.apache.spark.sql.execution.{ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.window.WindowExec

/** Operator counts over one executed physical plan, adaptive stages
  * and subqueries included. A reused exchange or subquery runs once,
  * so only its first occurrence is counted; a cached relation's scan
  * counts as one `inmemory_scan` and its own plan is not entered.
  */
object PlanShape {
  val Keys: Seq[String] = Seq("exchange", "broadcast_exchange", "bnlj",
    "cartesian", "sort_aggregate", "inmemory_scan", "file_scan", "wscg",
    "window_unpartitioned", "graft_native")

  private val ByClass = Map(
    "ShuffleExchangeExec" -> "exchange",
    "BroadcastExchangeExec" -> "broadcast_exchange",
    "BroadcastNestedLoopJoinExec" -> "bnlj",
    "CartesianProductExec" -> "cartesian",
    "SortAggregateExec" -> "sort_aggregate",
    "InMemoryTableScanExec" -> "inmemory_scan",
    "FileSourceScanExec" -> "file_scan",
    "WholeStageCodegenExec" -> "wscg")

  def count(plan: SparkPlan): Map[String, Int] = {
    val c = mutable.Map(Keys.map(_ -> 0): _*)
    def visit(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case s: QueryStageExec => visit(s.plan)
      case _: ReusedExchangeExec | _: ReusedSubqueryExec => ()
      case _ =>
        ByClass.get(p.getClass.getSimpleName).foreach(k => c(k) += 1)
        p match {
          case w: WindowExec if w.partitionSpec.isEmpty => c("window_unpartitioned") += 1
          case _ => ()
        }
        for (e <- p.expressions; x <- e)
          if (x.getClass.getName.startsWith("graft.")) c("graft_native") += 1
        p.subqueries.foreach(visit)
        p.children.foreach(visit)
    }
    visit(plan)
    c.toMap
  }
}
