package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}

/** Logical-plan rewrites graft's operators apply to caller frames. Lives
  * in Spark's package only to reach the package-private
  * `classic.Dataset.ofRows`, which wraps a plan as a DataFrame. */
object GraftPlans {

  /** `df` without a top-level global sort (one seen through any chain of
    * projections): for a consumer that ignores row order, the sort is a
    * range shuffle plus a sampling job of pure waste. Sorts under any
    * other operator (a limit, an aggregate) stay — there the order can
    * decide which rows survive. Returns `df` itself when there is none. */
  def withoutGlobalSort(df: DataFrame): DataFrame = {
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case s: Sort if s.global => s.child
      case pr: Project =>
        val c = strip(pr.child)
        if (c eq pr.child) pr else pr.copy(child = c)
      case other => other
    }
    val plan = df.queryExecution.analyzed
    val stripped = strip(plan)
    if (stripped eq plan) df
    else classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[classic.SparkSession], stripped)
  }
}
