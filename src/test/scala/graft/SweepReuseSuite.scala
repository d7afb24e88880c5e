package graft

import graft.ranges.Ranges

/** Runtime regression guard for the hierarchical island sweep's
  * exchange reuse: merge's hull frame has three consumers, and if
  * their subplans stop canonicalizing identically (an optimizer
  * upgrade pruning through the barrier, a refactor dropping the
  * non-deterministic filter or the repartition's third key) the
  * FULL-DATA window silently re-runs once per consumer — a 3x
  * regression no correctness gate can see. This spec runs
  * merge/cluster over a parquet-backed frame and counts the stages
  * that read the full input row count from a shuffle: merge must have
  * exactly one, cluster exactly two (hull side + row join side). */
class SweepReuseSuite extends SparkSpec {
  import spark.implicits._

  test("merge materializes the full-data window once; cluster twice") {
    val n = 60000
    val dir = tempDir("sweep_reuse") + "/iv"
    (0 until n).map { i =>
      ("c" + (i % 3), (i * 37L) % 500000L, (i * 37L) % 500000L + 40L)
    }.toDF("contig", "pos_start", "pos_end")
      .write.mode("overwrite").parquet(dir)
    val in = spark.read.parquet(dir)
    def fullStages(df: org.apache.spark.sql.DataFrame): Int =
      graft.obs.Profiler.measure(spark)(df.write.format("noop").mode("overwrite").save())
        ._2.stageList.count(_.shuffleRows >= n)
    val mergeStages = fullStages(Ranges.merge(in))
    assert(mergeStages == 1,
      s"merge ran $mergeStages full-data stages (hull exchange reuse lost)")
    val clusterStages = fullStages(Ranges.cluster(in))
    assert(clusterStages == 2,
      s"cluster ran $clusterStages full-data stages (expected hull side + row join side)")
  }
}
