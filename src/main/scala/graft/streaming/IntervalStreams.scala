package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{FilterOp, IntervalCols}
import graft.index.{ContigIntervalIndex, CountOverlapIndex}

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
    * to the driver and broadcast ONCE PER QUERY PLAN (each
    * countOverlaps/annotateTranscripts call builds its own index; a
    * long-lived streaming query reuses the broadcast across all its
    * micro-batches, but two separate queries do not share one). Guarded
    * by the shared [[graft.ranges.BuildGuard]] cap so an oversized
    * static side fails loudly at plan time instead of OOMing the
    * driver mid-collect. */
  private def collectIndex(intervals: DataFrame, cols: IntervalCols)
      : Map[String, (Array[Long], Array[Long])] = {
    graft.ranges.BuildGuard.requireFits(intervals, "IntervalStreams",
      "pre-filter the static interval side or raise the limit " +
        "(the streaming probe has no partitioned path)")
    // executeCollect keeps the build rows as InternalRows: the
    // Dataset.collect() external-Row decode (one GenericRow + boxed
    // Long pair + String per interval) was ~half the static-index
    // phase of the s8 gate (round 18, stream probe: idx 0.7 s warm of
    // a 1.8 s wall). Only the contig key materializes as a String.
    val rows = intervals.select(
      col(cols.contig).cast("string"), col(cols.start).cast("long"),
      col(cols.end).cast("long")).queryExecution.executedPlan.executeCollect()
    val groups = scala.collection.mutable.HashMap
      .empty[String, (scala.collection.mutable.ArrayBuffer[Long],
                      scala.collection.mutable.ArrayBuffer[Long])]
    rows.foreach { r =>
      // a null contig or coordinate matches nothing under the join
      // semantics this index implements — drop the row whole rather
      // than inventing a bogus [0, ...] interval (ADVICE r18: the old
      // isNullAt->0L mapping would corrupt overlap counts undetectably
      // on a bad fixture; equi/overlap joins never match nulls)
      if (!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)) {
        val k = r.getUTF8String(0).toString
        val g = groups.getOrElseUpdate(k, (scala.collection.mutable.ArrayBuffer.empty[Long],
          scala.collection.mutable.ArrayBuffer.empty[Long]))
        g._1 += r.getLong(1)
        g._2 += r.getLong(2)
      }
    }
    groups.map { case (k, (s, e)) => k -> (s.toArray, e.toArray) }.toMap
  }

  /** Annotate each streaming row with the number of static intervals
    * overlapping it (`n_overlaps`) — streaming F2. */
  def countOverlaps(
      stream: DataFrame, intervals: DataFrame,
      scols: IntervalCols = IntervalCols.default,
      icols: IntervalCols = IntervalCols.default,
      op: FilterOp = FilterOp.Weak): DataFrame = {
    val idx = collectIndex(intervals, icols).map { case (k, (s, e)) =>
      k -> CountOverlapIndex.build(s, e)
    }
    val bc = stream.sparkSession.sparkContext.broadcast(idx)
    val theOp = op
    val cnt = udf { (contig: String, qs: Long, qe: Long) =>
      bc.value.get(contig) match {
        case Some(i) => val (s, e) = theOp.adjustQuery(qs, qe); i.count(s, e)
        case None => 0L
      }
    }
    stream.withColumn("n_overlaps", cnt(
      col(scols.contig), col(scols.start).cast("long"), col(scols.end).cast("long")))
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
    * broadcast per-contig index at plan time; the probe is a
    * stateless map stage (no watermark, no state store), so
    * annotate-as-variants-arrive costs O(log n + hits) per row
    * exactly like the batch path. */
  def annotateTranscripts(
      stream: DataFrame, transcripts: DataFrame,
      scols: IntervalCols = IntervalCols.default,
      upstreamDistance: Long = 5000L): DataFrame = {
    graft.ranges.BuildGuard.requireFits(transcripts, "IntervalStreams",
      "pre-filter the static transcript side or raise the limit " +
        "(the streaming probe has no partitioned path)")
    // InternalRow collect — same rationale as [[collectIndex]]
    val rows = transcripts.select(col("chrom").cast("string"),
      col("start").cast("long"), col("end").cast("long"),
      col("transcript_id").cast("string"), col("strand").cast("int"))
      .queryExecution.executedPlan.executeCollect()
    val grouped = rows.toSeq.groupBy(r =>
      if (r.isNullAt(0)) null else r.getUTF8String(0).toString)
    val idx = grouped.map { case (k, rs) =>
      // widen each interval by the reach so one stabbing query finds
      // overlap + up/downstream candidates; payload keeps true bounds
      val payload = rs.toArray.map(r => (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getUTF8String(3).toString, r.getInt(4)))
      k -> (ContigIntervalIndex.build(
        payload.map(_._1 - upstreamDistance),
        payload.map(_._2 + upstreamDistance),
        Array.range(0, payload.length)), payload)
    }
    val bc = stream.sparkSession.sparkContext.broadcast(idx)
    val probe = udf { (contig: String, qs: Long, qe: Long) =>
      bc.value.get(contig) match {
        case Some((i, payload)) =>
          val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
          i.query(qs, qe) { p =>
            val (ts, te, tid, strand) = payload(p)
            val term =
              if (qs <= te && qe >= ts) "overlap"
              else if ((strand == 1 && qe < ts) || (strand == -1 && qs > te)) "upstream"
              else "downstream"
            val dist = if (term == "overlap") 0L else math.max(ts - qe, qs - te)
            out += ((tid, term, dist))
          }
          out.toSeq
        case None => Seq.empty[(String, String, Long)]
      }
    }
    stream
      .withColumn("_tc", explode(probe(
        col(scols.contig), col(scols.start).cast("long"), col(scols.end).cast("long"))))
      .withColumn("transcript_id", col("_tc._1"))
      .withColumn("relation", col("_tc._2"))
      .withColumn("distance", col("_tc._3"))
      .drop("_tc")
  }
}
