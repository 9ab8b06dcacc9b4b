package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

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

  /** The partition count `df` will run with, read from its prepared plan
    * without running anything — when a round-robin spread of it is safe
    * to decide that way. None when the plan has an exchange, a subquery
    * or a cached relation (building its RDD would pre-run that work) or
    * an output ordering (a spread would scramble it, an `ORDER BY …
    * LIMIT` dump say). Unlike `df.rdd.getNumPartitions`, which Spark
    * plans and runs as an SQL execution of its own, this opens none. */
  def narrowPartitionCount(df: DataFrame): Option[Int] = {
    val plan = df.queryExecution.executedPlan
    val narrow = plan.outputOrdering.isEmpty && !exists(df) {
      case _: Exchange | _: ReusedExchangeExec | _: InMemoryTableScanExec => true
      case n => n.subqueries.nonEmpty
    }
    if (narrow) Some(plan.execute().getNumPartitions) else None
  }

  /** Round-robin `df` to `defaultParallelism` partitions, but only when it
    * reads as fewer. The count comes from [[narrowPartitionCount]]; a plan
    * it declines is counted through `df.rdd`, which Spark plans and runs
    * as an SQL execution of its own: under AQE that pre-runs broadcast and
    * shuffle stages and subqueries, so callers pass only frames whose
    * pre-run they accept. */
  def spreadUnderSplit(df: DataFrame): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val n = narrowPartitionCount(df).getOrElse(df.rdd.getNumPartitions)
    if (n < parallelism) df.repartition(parallelism) else df
  }
}
