package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.GraftConf

/** Scale-adaptive state width for the bounded streaming gates.
  *
  * Structured Streaming sizes its state stores from
  * `spark.sql.shuffle.partitions` AT BATCH 0 and the width is then
  * PINNED BY THE CHECKPOINT — a stream that starts narrow can never
  * widen without discarding its checkpoint (and with it its state).
  * Round 18 narrowed the bench gates to a static width of 4, sized to
  * their 40–150k-row micro-batches; a static default is a local-scale
  * assumption a production stream would be stuck with forever
  * (VERDICT r18 #5). Round 19 derives the default from the batch
  * volume the caller can estimate at planning time instead:
  *
  *   width = clamp(estBytes / 4 MB, 4, 8 × defaultParallelism)
  *
  * ~4 MB of micro-batch input per state partition keeps the per-task
  * state-store overhead amortized at gate scale (the round-18
  * measurements: 32 instances per stage per batch cost more than the
  * state work itself below ~100k rows), while any volume past
  * 4 MB × defaultParallelism derives a width >= the session's full
  * parallelism — cluster-scale batches saturate the box. The explicit
  * conf `spark.bio.stream.statePartitions` still overrides the
  * derivation outright (a production stream SHOULD pin it explicitly,
  * precisely because of the checkpoint hazard above).
  *
  * [[scoped]] applies the width to a FRESH child session
  * (`newSession()` — shared SparkContext, isolated SQLConf) instead of
  * mutating the caller's conf: the round-18 save/restore on the shared
  * session silently re-planned any concurrently-planned query at the
  * narrowed width and two concurrent stream gates would clobber each
  * other's restore (ADVICE r18).
  */
object StreamWidth {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Bytes-per-state-partition target for the derivation. */
  private val BytesPerPartition = 4L << 20

  /** Optimizer size estimate of a batch frame over the same source
    * the stream will read (file relations: the summed file size). */
  def estimatedBytes(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.stats.sizeInBytes
      .min(BigInt(Long.MaxValue)).toLong

  /** Derived state width for an estimated per-batch input volume.
    * `spark.bio.stream.statePartitions` (read from `s`) overrides. */
  def derive(s: SparkSession, estBytes: Long): Int =
    GraftConf.statePartitions(s).getOrElse {
      val cap = math.max(8L * s.sparkContext.defaultParallelism, 4L)
      math.max(4L, math.min(estBytes / BytesPerPartition, cap)).toInt
    }

  /** A child session (isolated SQLConf, shared context) with the
    * derived width set — build the stream AND its sink on this
    * session so batch-0 planning deterministically sees the width
    * without mutating the caller's conf. The parent's parquet
    * nanos-as-long source flag carries over, so a schema read on the
    * parent describes the child's stream too. `noDataMicroBatches`
    * optionally pinned for gates whose expiry points are explicit
    * tick batches. */
  def scoped(s: SparkSession, estBytes: Long,
      noDataMicroBatches: Option[Boolean] = None): SparkSession = {
    val ns = s.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", derive(s, estBytes).toString)
    s.conf.getOption(NanosAsLong).foreach(ns.conf.set(NanosAsLong, _))
    noDataMicroBatches.foreach(b =>
      ns.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", b.toString))
    ns
  }
}
