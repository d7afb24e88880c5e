package graft.ranges

import org.apache.spark.sql.DataFrame
import graft.core.GraftConf

/** Build-side size guard for every CollectLeft-style operator (the
  * broadcast interval joins, the variant-lookup probes, the static
  * side of the streaming interval probes).
  *
  * The CollectLeft contract — identical to Spark's own
  * BroadcastHashJoin and the reference's CollectLeft mode
  * (interval_join.rs:394-413) — collects the FULL build rows to the
  * driver to assemble the broadcast row table, so the build side is
  * bounded by driver heap. The reference's planner picks CollectLeft
  * vs Partitioned itself from plan statistics; this guard does the
  * same choice for the [[Ranges]] API: a build side whose Catalyst
  * size estimate exceeds `spark.bio.broadcast_build_limit` (bytes)
  * silently fails over to the partitioned path (the
  * [[Ranges.overlapPartitioned]] family, [[PartitionedJoin]]) — same
  * rows, no driver collect, no memory cap. Operators with no
  * partitioned equivalent ([[Ranges.nearest]] without a tie-break
  * column, the streaming probes) use [[requireFits]] and fail loudly
  * instead of OOMing mid-collect.
  *
  * The estimate is `optimizedPlan.stats.sizeInBytes` — the same
  * statistic Spark's own autoBroadcastJoinThreshold consults; it
  * costs no job.
  *
  * Which side of the guard a call lands on never changes its rows:
  * both paths follow SQL's null rule ([[IntervalBuild]]) — a row with
  * a null contig, start or end takes part in no overlap, so a null
  * build row is not indexed and a null probe row gets its mode's
  * no-match result. */
object BuildGuard {

  /** Catalyst's size estimate of the optimized plan — no job runs. */
  def estimatedBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** True when the build side fits the configured broadcast cap. */
  def fits(df: DataFrame): Boolean =
    estimatedBytes(df) <= BigInt(GraftConf.broadcastBuildLimit(df.sparkSession))

  /** Loud failure for CollectLeft operators with no partitioned
    * escape hatch: an oversized build must not reach `collect()`. */
  def requireFits(df: DataFrame, op: String, hint: String): Unit = {
    val est = estimatedBytes(df)
    val lim = GraftConf.broadcastBuildLimit(df.sparkSession)
    if (est > BigInt(lim)) throw new IllegalArgumentException(
      s"$op: build side estimated at $est bytes exceeds ${GraftConf.BroadcastBuildLimit}=$lim. " +
        s"The build side is collected to the driver (CollectLeft contract); $hint")
  }
}
