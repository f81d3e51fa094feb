package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Plan helpers shared by the specs. */
object PlanProbe {
  /** Every node of the FINAL adaptive plan, descending through the
    * QueryStageExec wrappers that hide stage subtrees from plain foreach. */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
    case qs: QueryStageExec => p +: allNodes(qs.plan)
    case other => other +: other.children.flatMap(allNodes)
  }

  /** Join order as the left-to-right sequence of cbo_* leaves in the
    * optimized plan (tree order = join order for a left-deep tree). */
  private def joinOrder(df: DataFrame): Seq[String] =
    "cbo_[a-z]+".r.findAllIn(df.queryExecution.optimizedPlan.toString).toSeq
      .distinct

  /** Runs the q9-class star join of `join_cbo_star` (ops.Scale) on the
    * ANALYZE'd cbo_* tables under cbo=off then cbo=on. Returns (orderOff,
    * orderOn, rowsEqual, plansDiffer). */
  def cboScenario(s: SparkSession, sfDir: String): (Seq[String], Seq[String],
      Boolean, Boolean) = {
    ops.Scale.cboStageTables(s, sfDir)
    val keys = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    val saved = keys.map(k => k -> s.conf.getOption(k)).toMap
    try {
      def run(on: Boolean): (Seq[String], Set[Seq[Any]]) = {
        keys.foreach(k => s.conf.set(k, on.toString))
        val df = s.sql(ops.Scale.cboStarQuery)
        (joinOrder(df), df.collect().map(_.toSeq).toSet)
      }
      val (offOrder, offRows) = run(false)
      val (onOrder, onRows) = run(true)
      (offOrder, onOrder, offRows == onRows && offRows.nonEmpty,
        offOrder != onOrder)
    } finally saved.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }
}
