package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
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
    val dir = java.nio.file.Files
      .createTempDirectory("sweep_reuse").toString + "/iv"
    (0 until n).map { i =>
      ("c" + (i % 3), (i * 37L) % 500000L, (i * 37L) % 500000L + 40L)
    }.toDF("contig", "pos_start", "pos_end")
      .write.mode("overwrite").parquet(dir)
    val in = spark.read.parquet(dir)
    val lock = new Object
    var full = 0
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        lock.synchronized {
          if (e.stageInfo.taskMetrics.shuffleReadMetrics.recordsRead >= n)
            full += 1
        }
    }
    def fullStages(df: org.apache.spark.sql.DataFrame): Int = {
      lock.synchronized { full = 0 }
      spark.sparkContext.addSparkListener(listener)
      try {
        df.write.format("noop").mode("overwrite").save()
        drainListenerBus()
        lock.synchronized(full)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val mergeStages = fullStages(Ranges.merge(in))
    assert(mergeStages == 1,
      s"merge ran $mergeStages full-data stages (hull exchange reuse lost)")
    val clusterStages = fullStages(Ranges.cluster(in))
    assert(clusterStages == 2,
      s"cluster ran $clusterStages full-data stages (expected hull side + row join side)")
  }
}
