package graft

import graft.core.Parallelism
import graft.pileup.Pileup
import graft.ranges.Ranges

/** Plan-shape regression guards: the load-bearing operators must keep
  * the physical shapes the scale design depends on — interval
  * strategies plan as broadcast index probes, and nothing in the
  * genomic/interval family ever degenerates to a nested-loop or
  * cartesian join (the ANN crossJoins are the one documented
  * broadcast-small exception, excluded here). Planning only — no jobs
  * run. */
class PlanSuite extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  test("interval operators plan as index probes, never nested loops") {
    // whole-operator joins MUST plan through the custom exec node
    Seq("f1_overlap_join", "j1_sql_rewrite").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastIntervalJoin"),
        s"$q lost the strategy plan:\n${p.take(2000)}")
    }
    // probe-expression operators: any shape but never a nested loop
    Seq("f1_overlap_join", "f2_count_overlaps", "f4_nearest_k1",
        "f8_subtract", "j1_sql_rewrite").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to a nested-loop join:\n${p.take(2000)}")
    }
  }

  test("the integrated annotate pipeline contains no nested-loop joins") {
    Seq("f11_annotate_e2e", "f11_colocated", "f10_lookup_variants").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to a nested-loop join:\n${p.take(2000)}")
    }
  }

  /** Jobs `body` ran, from the query profile scoped to it. */
  private def jobsStarted(body: => Any): Int =
    graft.obs.Profiler.measure(spark)(body)._2.jobs

  test("Parallelism.ensure decides from the plan: building a pipeline runs no job") {
    import spark.implicits._
    val dir = tempDir("plan_jobs")
    (0 until 400).map(i => ("c" + (i % 2), 1L + (i * 7L) % 3000, 0, "30M5D20M", 60))
      .toDF("chrom", "start", "flags", "cigar", "mapping_quality")
      .coalesce(1).write.parquet(dir + "/reads")
    (0 until 50).map(i => ("c" + (i % 2), 1L + i * 60L, 81L + i * 60L, i.toLong))
      .toDF("contig", "pos_start", "pos_end", "id")
      .coalesce(1).write.parquet(dir + "/targets")
    // schema inference of a parquet read is a job: keep it outside the counts
    val reads = spark.read.parquet(dir + "/reads")
    val targets = spark.read.parquet(dir + "/targets")
    val built = jobsStarted(Ranges.overlapPartitioned(Pileup.depth(reads), targets))
    assert(built == 0, s"building depth -> overlapPartitioned ran $built jobs")
    val aggregated = jobsStarted(Parallelism.ensure(targets.groupBy("contig").count()))
    assert(aggregated == 0, s"ensure over an aggregate ran $aggregated jobs")
    // the case the helper exists for: a one-file scan still widens
    assert(targets.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
    val parts = Parallelism.ensure(targets).rdd.getNumPartitions
    assert(parts >= spark.sparkContext.defaultParallelism,
      s"one-file parquet scan left at $parts partitions")
  }
}
