package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Questions about a frame's PREPARED physical plan, answered without
  * running it, and the under-split spread that callers gate on them.
  *
  * The walk reads `executedPlan`, not `sparkPlan`: exchanges are only
  * inserted by the EnsureRequirements preparation. Under AQE the prepared
  * tree hides inside a leaf [[AdaptiveSparkPlanExec]] wrapper, so the walk
  * recurses into its public `initialPlan` (post-preparation,
  * pre-execution; reading it runs no stages).
  */
object PreparedPlan {

  /** True iff some node of `df`'s prepared physical plan satisfies `p`. */
  def exists(df: DataFrame)(p: SparkPlan => Boolean): Boolean =
    exists(df.queryExecution.executedPlan, p)

  private def exists(plan: SparkPlan, p: SparkPlan => Boolean): Boolean =
    plan.find {
      case a: AdaptiveSparkPlanExec => exists(a.initialPlan, p)
      case n                        => p(n)
    }.isDefined

  /** Round-robin `df` to `defaultParallelism` partitions, but only when it
    * reads as fewer. Reading the count goes through `df.rdd`, which Spark
    * plans and runs as an SQL execution of its own: under AQE that pre-runs
    * broadcast and shuffle stages and subqueries, so callers pass only
    * frames whose pre-run they accept. */
  def spreadUnderSplit(df: DataFrame): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < parallelism) df.repartition(parallelism) else df
  }
}
