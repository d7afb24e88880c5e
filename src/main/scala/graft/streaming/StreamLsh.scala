package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.dedup.Dedup

/** Streaming MinHash-LSH candidate generation: near-duplicate
  * candidate pairs emitted INCREMENTALLY as documents arrive — the
  * continuous-ingestion counterpart of
  * [[graft.dedup.Dedup.lshCandidatePairs]], for pipelines that dedup
  * against everything ingested so far instead of re-running batch
  * LSH over the full corpus.
  *
  * Two Spark-native moves make it streamable:
  *  - the per-(doc, band) minhash is [[Dedup.bandSignature]], the
  *    batch operator's own MAP-ONLY generator over the per-document
  *    shingle-hash array — a streaming aggregation would need event
  *    time and would block the downstream stateful operator; a pure
  *    projection needs neither;
  *  - candidate emission is one `flatMapGroupsWithState` keyed on the
  *    (band, minhash) bucket: state = the ids seen in that bucket, a
  *    new arrival pairs with each of them (plus same-batch peers), so
  *    the pair SET over any prefix of the stream equals the batch
  *    operator's output over the same documents, regardless of
  *    arrival order.
  *
  * Scale: state is one id list per OCCUPIED bucket (hash-of-content
  * keys, never text); a verbatim-boilerplate class concentrating one
  * bucket has the same inherent quadratic-emission cost as batch LSH
  * (cap classes upstream with [[Dedup.removeExactDuplicates]]).
  * [[candidatePairs]] keeps buckets forever (exact batch equality
  * over any stream prefix — the bounded-corpus contract);
  * [[candidatePairsWithinWatermark]] is the 24/7 variant — bucket
  * state ages out on an event-time timeout the same way
  * [[StreamDedup.firstOccurrencesWithinWatermark]] bounds its digest
  * state. Pairs that recur across buckets are emitted once per
  * bucket; the consumer dedups downstream (the gate applies a batch
  * `distinct()` over the sink). */
object StreamLsh {

  /** Map-only per-band minhash signatures: `(id, band, h)` rows, no
    * shuffle, no state — safe upstream of any stateful operator.
    * Documents with fewer than `k` words emit nothing. The signature
    * is the same function [[Dedup.lshCandidatePairs]] runs:
    * [[Dedup.shingleHashes]] then [[Dedup.bandSignature]]. */
  def bandSignatures(
      docs: DataFrame, textCol: String, idCol: String,
      k: Int = 3, bands: Int = 8): DataFrame =
    bandSignaturesCarrying(docs, textCol, idCol, k, bands, Nil)

  /** [[bandSignatures]] with extra passthrough columns (still
    * map-only) — the watermarked variant rides the event-time column
    * through to the stateful operator. */
  private def bandSignaturesCarrying(
      docs: DataFrame, textCol: String, idCol: String,
      k: Int, bands: Int,
      carry: Seq[org.apache.spark.sql.Column]): DataFrame =
    Dedup.shingleHashes(docs, col(idCol).cast("long"), col(textCol), k, carry)
      .select(Seq(col("id"), Dedup.bandSignature(col("hv"), bands)) ++ carry: _*)

  /** Candidate pairs `(id1 < id2)` from a STREAMING document source.
    * Each (band, minhash) bucket keeps the sorted ids seen so far;
    * arrivals pair with the existing members and with same-batch
    * peers. Emission is append-mode and deterministic as a SET. */
  def candidatePairs(
      docs: DataFrame, textCol: String, idCol: String,
      k: Int = 3, bands: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bandSignatures(docs, textCol, idCol, k, bands)
      .as[(Long, Int, Long)] // (id, band, h)
      .groupByKey { case (_, band, h) => (band, h) }
      .flatMapGroupsWithState[Array[Long], (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Int, Long), rows: Iterator[(Long, Int, Long)],
         state: GroupState[Array[Long]]) =>
          val seen = state.getOption.getOrElse(Array.empty[Long])
          val (fresh, out) = pairAgainst(seen, rows.map(_._1))
          if (fresh.nonEmpty) state.update(seen ++ fresh)
          out.iterator
      }
      .toDF("id1", "id2")
  }

  /** Pair a batch's ids against the bucket's existing members and
    * smaller same-batch peers; returns (genuinely-new member ids,
    * pairs). Membership tests go through a hash set —
    * O(|batch| + |state|), not the linear-scan product
    * (ADVICE r16). */
  private def pairAgainst(seen: Array[Long], ids: Iterator[Long])
      : (Array[Long], Vector[(Long, Long)]) = {
    val seenSet = seen.toSet
    val fresh = ids.toArray.distinct.filterNot(seenSet.contains).sorted
    val out = Iterator.tabulate(fresh.length) { i =>
      val id = fresh(i)
      (seen.iterator ++ fresh.iterator.take(i)).map { other =>
        if (other < id) (other, id) else (id, other)
      }
    }.flatten.toVector
    (fresh, out)
  }

  /** Bounded-state 24/7 variant (VERDICT r16 #3): bucket membership
    * only persists within the event-time watermark delay. Each
    * arrival refreshes its bucket's timeout to `max event time seen +
    * delay`; when the watermark passes that, the WHOLE bucket ages
    * out — a later arrival re-opens it empty and no longer pairs with
    * the expired members (exactly the
    * `dropDuplicatesWithinWatermark`-style contract
    * [[StreamDedup.firstOccurrencesWithinWatermark]] uses for its
    * digest state). State is bounded by the buckets occupied within
    * one watermark window instead of the whole stream history. */
  def candidatePairsWithinWatermark(
      docs: DataFrame, textCol: String, idCol: String,
      eventTimeCol: String, delay: String,
      k: Int = 3, bands: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val prepared = docs
      .withColumn("_ts", col(eventTimeCol).cast("timestamp"))
      .withWatermark("_ts", delay)
    bandSignaturesCarrying(prepared, textCol, idCol, k, bands, Seq(col("_ts")))
      .as[(Long, Int, Long, java.sql.Timestamp)]
      .groupByKey { case (_, band, h, _) => (band, h) }
      .flatMapGroupsWithState[(Long, Array[Long]), (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: (Int, Long), rows: Iterator[(Long, Int, Long, java.sql.Timestamp)],
         state: GroupState[(Long, Array[Long])]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val (prevMax, seen) =
              state.getOption.getOrElse((Long.MinValue, Array.empty[Long]))
            var maxTs = prevMax
            val ids = rows.map { r =>
              val t = r._4.getTime
              if (t > maxTs) maxTs = t
              r._1
            }
            val (fresh, out) = pairAgainst(seen, ids)
            // the lease is MONOTONIC (ADVICE r17): state carries the
            // bucket's running max event time, so a later in-window
            // batch holding only OLDER timestamps cannot lower a
            // timeout already promised as "max event time seen +
            // delay" (and never below the current watermark, which
            // Spark rejects as an already-passed timeout)
            state.update((maxTs, seen ++ fresh))
            val wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(math.max(maxTs, wm + 1), delay)
            out.iterator
          }
      }
      .toDF("id1", "id2")
  }
}
