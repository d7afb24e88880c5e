package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.{FilterOp, IntervalCols, RowBlock}
import graft.index.ContigIntervalIndex
import graft.ranges.{IntervalBuild, IntervalJoin}

/** Streaming twins of the probe-style interval operators: a static
  * (bounded) interval table builds the broadcast per-contig index
  * once at plan time; the unbounded stream probes it row-by-row — a
  * map-only stateless streaming stage (no watermark, no state store),
  * so the same O(log n + hits) probe cost and partition-parallelism
  * as the batch path carry over to readStream sources unchanged.
  *
  * The reference is batch-only (Boundedness::Bounded everywhere,
  * SURVEY.md §1.1); this is the forward-looking streaming surface for
  * annotate-as-data-arrives pipelines (e.g. aligned reads streaming
  * into coverage/overlap annotation).
  */
object IntervalStreams {

  /** Bounded-static contract: the static interval side is collected
    * to the driver and broadcast ONCE PER QUERY PLAN through the one
    * CollectLeft build ([[graft.ranges.IntervalBuild]]; each call
    * builds its own index; a long-lived streaming query reuses the
    * broadcast across all its micro-batches, but two separate queries
    * do not share one). Guarded by the shared
    * [[graft.ranges.BuildGuard]] cap so an oversized static side fails
    * loudly at plan time instead of OOMing the driver mid-collect. */
  private def requireFits(static: DataFrame, side: String): Unit =
    graft.ranges.BuildGuard.requireFits(static, "IntervalStreams",
      s"pre-filter the static $side side or raise the limit " +
        "(the streaming probe has no partitioned path)")

  /** Annotate each streaming row with the number of static intervals
    * overlapping it (`n_overlaps`) — streaming F2, the batch count
    * probe expression. */
  def countOverlaps(
      stream: DataFrame, intervals: DataFrame,
      scols: IntervalCols = IntervalCols.default,
      icols: IntervalCols = IntervalCols.default,
      op: FilterOp = FilterOp.Weak): DataFrame = {
    requireFits(intervals, "interval")
    stream.withColumn("n_overlaps",
      IntervalJoin.countColumn(intervals, icols, scols, op, coverage = false))
  }

  /** Filter a stream to rows overlapping at least one static interval
    * (streaming semi-join / F1 left_distinct). */
  def filterOverlapping(
      stream: DataFrame, intervals: DataFrame,
      scols: IntervalCols = IntervalCols.default,
      icols: IntervalCols = IntervalCols.default,
      op: FilterOp = FilterOp.Weak): DataFrame =
    countOverlaps(stream, intervals, scols, icols, op)
      .where(col("n_overlaps") > 0).drop("n_overlaps")

  /** Annotate a variant stream with its transcript context
    * (streaming twin of the batch region-annotation probe): each
    * streamed row explodes into one row per transcript within
    * `upstreamDistance`, labelled overlap / upstream / downstream in
    * transcript orientation. The static transcript table becomes one
    * broadcast of its packed rows plus per-contig indexes at plan
    * time (a transcript with a null chrom, start or end is not
    * indexed); the probe is a stateless map stage (no watermark, no
    * state store), so annotate-as-variants-arrive costs O(log n + hits)
    * per row exactly like the batch path. */
  def annotateTranscripts(
      stream: DataFrame, transcripts: DataFrame,
      scols: IntervalCols = IntervalCols.default,
      upstreamDistance: Long = 5000L): DataFrame = {
    requireFits(transcripts, "transcript")
    val tx = transcripts.select(col("chrom").cast("string").as("chrom"),
      col("start").cast("long").as("start"), col("end").cast("long").as("end"),
      col("transcript_id").cast("string"), col("strand").cast("int"))
    val (rows, groups) = IntervalBuild.collect(tx, IntervalCols("chrom", "start", "end"))
    // widen each interval by the reach so one stabbing query finds
    // overlap + up/downstream candidates; the rows keep true bounds
    val idx = IntervalBuild.index(groups)(g => ContigIntervalIndex.build(
      g.starts.map(_ - upstreamDistance), g.ends.map(_ + upstreamDistance), g.rowIdx))
    val bc = stream.sparkSession.sparkContext.broadcast((RowBlock(rows, tx.schema.length), idx))
    // the contig arrives as bytes and is wrapped, not decoded, for the
    // UTF8String-keyed lookup
    val probe = udf { (contig: Array[Byte], qs: Long, qe: Long) =>
      val (block, byContig) = bc.value
      byContig.get(UTF8String.fromBytes(contig)) match {
        case Some(i) =>
          val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
          i.query(qs, qe) { p =>
            val r = block.rows(p)
            val (ts, te, strand) = (r.getLong(1), r.getLong(2), r.getInt(4))
            val term =
              if (qs <= te && qe >= ts) "overlap"
              else if ((strand == 1 && qe < ts) || (strand == -1 && qs > te)) "upstream"
              else "downstream"
            val dist = if (term == "overlap") 0L else math.max(ts - qe, qs - te)
            out += ((if (r.isNullAt(3)) null else r.getUTF8String(3).toString, term, dist))
          }
          out.toSeq
        case None => Seq.empty[(String, String, Long)]
      }
    }
    stream
      .withColumn("_tc", explode(probe(col(scols.contig).cast("binary"),
        col(scols.start).cast("long"), col(scols.end).cast("long"))))
      .withColumn("transcript_id", col("_tc._1"))
      .withColumn("relation", col("_tc._2"))
      .withColumn("distance", col("_tc._3"))
      .drop("_tc")
  }
}
