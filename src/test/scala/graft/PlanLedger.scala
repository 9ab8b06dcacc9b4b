package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.Assertions.assert

/** The physical plans a block of code actually ran. Exchange-ledger audits
  * call a shipped function with its default arguments inside [[capture]]
  * and check every SQL execution it triggered — the eager localCheckpoint
  * jobs a plan runs while it is being built as well as the final action —
  * so they see the plan that ships, checkpoints and all. */
object PlanLedger {

  /** One SQL execution: the action that ran it (`collect`,
    * `localCheckpoint`, …) and its executed physical plan. */
  final case class Execution(action: String, plan: SparkPlan)

  /** Every SQL execution `block` runs on `spark`, in completion order.
    * Anything that must not be audited (a memoized artifact the block
    * reads, say) has to be built before the call. */
  def capture(spark: SparkSession)(block: => Any): Seq[Execution] = {
    val seen = new ConcurrentLinkedQueue[Execution]
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(Execution(action, qe.executedPlan))
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // Deliver what earlier code posted before listening, and what the
    // block posted before reading.
    TestListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      block
      TestListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** How many Spark jobs `block` starts on `spark`'s context. Unlike
    * [[capture]], this sees jobs that run outside any SQL execution, such
    * as a parquet schema-inference job. */
  def jobs(spark: SparkSession)(block: => Any): Int = {
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    val sc = spark.sparkContext
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      block
      TestListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    started.get
  }

  /** [[capture]] with size-based broadcasting off, static and adaptive:
    * only the plan's explicit broadcast hints broadcast. That is how a
    * corpus too large for the planner's size estimates runs, so a small
    * test corpus cannot hide a drop set that lost its hint (the planner
    * would broadcast it anyway; at scale it co-shuffles the corpus). */
  def captureHintedBroadcasts(spark: SparkSession)(block: => Any): Seq[Execution] = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try capture(spark)(block)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Every node of an executed plan, recursing into AQE's final plan and
    * its query stages (a QueryStageExec is a leaf to TreeNode.collect). */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val through = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case qs: QueryStageExec => Seq(qs.plan)
      case other => other.children
    }
    p +: through.flatMap(allNodes)
  }

  /** Hash-partitioning key names of every shuffle in an executed plan;
    * an empty list for a round-robin, range or single-partition one. */
  def shuffleKeyNames(p: SparkPlan): Seq[Seq[String]] =
    allNodes(p).collect {
      case e: ShuffleExchangeLike =>
        e.outputPartitioning match {
          case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
          case _ => Seq.empty
        }
    }

  /** The key set of every hash-keyed shuffle across `runs`, with the
    * execution it ran in — after checking that an audit of them can bite:
    * the capture saw a localCheckpoint execution and a hash-keyed shuffle. */
  def hashKeys(runs: Seq[Execution]): Seq[(Set[String], Execution)] = {
    assert(runs.exists(_.action == "localCheckpoint"),
      s"no checkpoint seen: ${runs.map(_.action)}")
    val keys = for (r <- runs; k <- shuffleKeyNames(r.plan) if k.nonEmpty)
      yield (k.toSet, r)
    assert(keys.nonEmpty, s"no hash-keyed shuffle seen:\n${runs.map(_.plan).mkString("\n")}")
    keys
  }

  /** [[shuffleKeyNames]] of `df`'s own plan, after executing it. */
  def shuffleKeyNames(df: DataFrame): Seq[Seq[String]] = {
    df.queryExecution.toRdd.count()
    shuffleKeyNames(df.queryExecution.executedPlan)
  }
}
