package graft.sources

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** EXECUTED-plan witness for runtime (dynamic partition/file) pruning
  * on the native graft scans: for each `BatchScanExec` over a graft
  * scan, the number of files it will actually read AFTER runtime
  * filtering, plus whether the planner attached a runtime filter at
  * all. Gates and specs assert on this instead of eyeballing
  * `.explain` — a structural regression (DPP silently not planned, or
  * planned but pruning nothing) fails a hash/assert, not a human. */
object RuntimeScanWitness {
  final case class Witness(description: String, files: Int,
      runtimeFiltered: Boolean)

  def of(plan: SparkPlan): Seq[Witness] = nodes(plan).collect {
    case b: BatchScanExec => b.scan match {
      case s: GraftNativeScan =>
        Seq(Witness(s.description(), s.plannedFileCount,
          b.runtimeFilters.nonEmpty))
      case _ => Nil
    }
  }.flatten

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case o => o.children.flatMap(nodes)
  })
}
