package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** Adaptive input re-parallelization: small parquet inputs read as a
  * single partition under the default 128 MB maxPartitionBytes, which
  * serializes any expensive narrow pipeline (md5 shingling, probe
  * explodes) until the first shuffle. Round-robin repartition up to
  * the session's default parallelism when the scan under-parallelizes;
  * a no-op at scale where inputs already carry enough partitions —
  * never a second shuffle. (The reference repartitions its streamed
  * side the same way: count_overlaps.rs:143-154 RoundRobinBatch.)
  *
  * Contract: `ensure` decides from the physical plan and starts no
  * Spark job. A shuffled input is returned as it is — its partition
  * count is the exchange's, as sized by AQE, and reading it off an
  * adaptive plan would run every shuffle stage, which the final plan
  * then runs again. A plan holding a broadcast or a subquery is
  * returned as it is too: preparing it submits their jobs. Only a
  * shuffle-free scan pipeline, whose partition count is its scans'
  * file splits, is measured and widened. */
object Parallelism {
  def ensure(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.executedPlan
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (shuffled(plan) || preparesJob(plan) || df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  /** True when the plan's output went through a shuffle — before or
    * after AQE turned its exchanges into query stages, through a
    * reused exchange or a cached frame — so its partition count is
    * the engine's sizing decision, not a scan's split count. */
  def shuffled(plan: SparkPlan): Boolean = existsIn(plan) {
    case _: ShuffleExchangeLike | _: ShuffleQueryStageExec => true
    case ReusedExchangeExec(_, _: ShuffleExchangeLike) => true
    case _ => false
  }

  private def preparesJob(plan: SparkPlan): Boolean = existsIn(plan) {
    case _: BroadcastExchangeLike | _: BroadcastQueryStageExec => true
    case p => p.subqueries.nonEmpty
  }

  /** `plan.exists(f)`, also inside AQE and cached-frame wrappers. */
  private def existsIn(plan: SparkPlan)(f: SparkPlan => Boolean): Boolean = plan.exists {
    case a: AdaptiveSparkPlanExec => existsIn(a.executedPlan)(f)
    case m: InMemoryTableScanExec => f(m) || existsIn(m.relation.cachedPlan)(f)
    case p => f(p)
  }
}
