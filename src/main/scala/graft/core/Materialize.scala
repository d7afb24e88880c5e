package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}

/** Eager shared materialization that does NOT leak across queries.
  *
  * `Dataset.persist`/`localCheckpoint` register blocks in the session
  * CacheManager / block manager and stay resident until an explicit
  * `unpersist` — impossible for an operator that returns a lazy
  * DataFrame (there is no "after the caller's action" hook), so
  * round-6's shared-aggregate persists accumulated across an 84-query
  * session and showed up as a 1.2-1.6x drift on late-running queries.
  *
  * Materializing through a persisted RDD instead keeps the reuse
  * (the plan below the materialization runs ONCE) while making
  * release automatic: an RDD's cached blocks are reaped by Spark's
  * ContextCleaner as soon as the RDD object becomes unreachable —
  * i.e. when the caller drops the returned DataFrame — with no
  * CacheManager entry pinning it. `handle` additionally exposes the
  * RDD so loops can release superseded generations deterministically
  * (see Dedup.duplicateClusters).
  *
  * The Row round-trip costs one serialization pass over the
  * materialized table; every use site is a small aggregate (per
  * variant×transcript, per vertex), far below the probe-side volume.
  */
object Materialize {

  /** Materialize eagerly; blocks are GC-managed (ContextCleaner). */
  def apply(df: DataFrame): DataFrame = handle(df)._1

  /** Materialize eagerly and return the persisted RDD for explicit
    * release (`rdd.unpersist(false)` — safe once superseded, i.e. the
    * RDD is never read again) and the row count the materializing job
    * computed. Checkpoint rather than a plain
    * persist: it truncates the RDD LINEAGE too, so iterative callers
    * don't grow task binaries linearly with the round count (each
    * round's shuffle-dependency chain would otherwise reference the
    * previous round's whole graph).
    *
    * `reliable = false` (default) local-checkpoints: blocks live on
    * executors, gone with a lost executor AND its lineage — correct
    * single-process, fatal mid-loop on a real cluster. `reliable =
    * true` writes the checkpoint to the SparkContext's checkpoint dir
    * (set `sc.setCheckpointDir` to a durable FS first — required
    * loudly): executor loss recovers by re-reading the files, and a
    * superseded generation's `unpersist` releases only the block
    * cache, never the durable copy. */
  def handle(df: DataFrame, reliable: Boolean = false): (DataFrame, RDD[Row], Long) = {
    val rdd = df.rdd
    val n = if (reliable) {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "reliable materialization needs sc.setCheckpointDir(<durable fs path>)")
      // persist first so the checkpoint job reads the computed blocks
      // instead of recomputing the whole plan a second time
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rdd.checkpoint()
      rdd.count()
    } else {
      rdd.localCheckpoint()
      rdd.count()
    }
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd, n)
  }
}
