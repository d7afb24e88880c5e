package graft

import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Aggregates the per-area query/oracle catalogs. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the broadcast interval join (SURVEY §2 J1/F1). */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    graft.ranges.Ranges.overlap(Tables.ivA(spark, d), Tables.ivB(spark, d))
  }

  /** Prepared-query registry: the same (query, session, data dir)
    * triple returns the SAME immutable Dataset. Re-invoking a catalog
    * entry re-built and re-analyzed its whole logical plan — for the
    * annotate family ~1.1 s of driver time per call on a plan whose
    * structure cannot change between calls (the reference's
    * table-function providers are similarly built once and streamed
    * through). Each execution still runs its own optimizer + AQE pass
    * over the cached analyzed tree, so runtime re-planning is intact;
    * only the construction is shared. Session scoping, stopped-session
    * eviction and the LRU bound come from the shared
    * [[graft.core.SessionCache]]; [[invalidate]] drops the session's
    * entries from every such cache (plan templates and localized dims
    * included). */
  private val prepared = new graft.core.SessionCache[(String, String), DataFrame](1024)

  /** Drop a session's prepared plans, localized dims and plan
    * templates (idempotent; called implicitly for stopped sessions on
    * the next access from any session). */
  def invalidate(s: SparkSession): Unit = graft.core.SessionCache.invalidate(s)

  /** A plan is re-executable from its analyzed tree only when every
    * leaf re-reads a durable source. File relations and literal
    * LocalRelations qualify; a LogicalRDD leaf (checkpointed iteration
    * state — d_dup_clusters' lineage cuts — or a memory-sink table)
    * references session-lifetime blocks that inter-query cleanup
    * legitimately reclaims, so those queries rebuild per call. */
  private def reExecutable(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Range => true
      case _ => false
    }

  private def memo(m: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, (SparkSession, String) => DataFrame] =
    m.map { case (n, fn) =>
      n -> ((s: SparkSession, d: String) => {
        prepared.get(s, (n, d)).getOrElse {
          val df = fn(s, d)
          if (reExecutable(df)) prepared.put(s, (n, d), df)
          df
        }
      })
    }

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * OUTPUT CONTRACT (pinned round 19, VERDICT r18 #1/#6): every gate
    * is compared to its DuckDB oracle as a canonicalized ROW MULTISET
    * — the driver sorts both sides' rows before hashing, so row ORDER
    * is not part of any gate's declared result. Trailing global
    * `orderBy`s were deliberately removed from the wide-output gates
    * in round 18 (they bought a range-partitioner sampling pass + a
    * near-single-task sort the gate cannot observe); a gate that
    * needs an ordering SEMANTICALLY (e.g. top-k with ties broken by
    * rank) must encode it in the rows themselves (limit/rank
    * columns), not in presentation order. Do not re-add or re-drop
    * trailing sorts without re-proving oracle equality at two SFs. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    memo(RangesQueries.queries ++ PileupVepQueries.queries ++ MlQueries.queries ++
      AnalyticsQueries.queries ++ VepSpliceQueries.queries)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RangesQueries.oracleSql ++ PileupVepQueries.oracleSql ++ MlQueries.oracleSql ++
      AnalyticsQueries.oracleSql ++ VepSpliceQueries.oracleSql
}
