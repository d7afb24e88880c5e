package graft.index

import scala.collection.mutable.ArrayBuffer

/** Per-contig k-nearest-interval index, mirroring the reference's
  * `NearestIntervalIndex` semantics (nearest_index.rs):
  *
  *  - overlapping intervals come first, ordered by
  *    `(start, end, position)` (nearest_index.rs:85-101);
  *  - then non-overlapping candidates ordered by
  *    `(distance, start, end, position)` (cmp_candidate,
  *    nearest_index.rs:261-266), where distance is
  *    `iv_start - query_end` / `query_start - iv_end` for intervals
  *    right/left of the query and 0 on overlap
  *    (candidate_distance, nearest_index.rs:252-260).
  *
  * "Position" is the `rank` array (caller-defined tie-break order);
  * `payload` is what the callback receives (a broadcast-join row
  * index). Layout: by-start sorted arrays + prefix-max-end (overlap
  * enumeration) and by-(end,start,rank) sorted arrays (leftward
  * nearest scan) — the reference's two-pointer design
  * (nearest_index.rs:103-190).
  */
final class NearestIndex(
    val byStart: ContigIntervalIndex,
    // by (end, start, rank) ascending:
    val beEnds: Array[Long],
    val beStarts: Array[Long],
    val bePayload: Array[Int],
    val beRank: Array[Long]) extends Serializable {

  def isEmpty: Boolean = byStart.size == 0

  /** Up to k nearest candidates for closed query [qs,qe]; emits
    * `(payload, distance)` in reference order. `includeOverlaps=false`
    * excludes overlapping intervals entirely
    * (nearest_index.rs:182-184). */
  def nearestK(qs: Long, qe: Long, k: Int, includeOverlaps: Boolean)
      (f: (Int, Long) => Unit): Unit = {
    if (k <= 0 || isEmpty) return
    var emitted = 0
    if (includeOverlaps) {
      byStart.query(qs, qe) { p =>
        if (emitted < k) { f(p, 0L); emitted += 1 }
      }
      if (emitted >= k) return
    }
    // Non-overlapping candidates. Left side: end < qs, dist = qs - end,
    // enumerated by descending end. Right side: start > qe,
    // dist = start - qe, ascending start. Groups of equal distance are
    // taken whole, merged across sides, and sorted by (s, e, rank) so
    // the reference's global (dist, start, end, position) order holds.
    val n = beEnds.length
    var li = Bounds.upperBound(beEnds, qs - 1) - 1     // last index with end <= qs-1
    var ri = Bounds.lowerBound(byStart.starts, qe + 1) // first byStart index with start >= qe+1
    val ss = byStart.starts; val ee = byStart.ends
    val pp = byStart.payload; val rr = byStart.rank
    val buf = new ArrayBuffer[(Long, Long, Long, Long, Int)]() // (dist, s, e, rank, payload)
    var maxTaken = Long.MinValue
    while ((buf.length < k - emitted ||
            (buf.nonEmpty && nextDist(li, ri, qs, qe) == maxTaken)) &&
           (li >= 0 || ri < n)) {
      val ld = if (li >= 0) qs - beEnds(li) else Long.MaxValue
      val rd = if (ri < n) ss(ri) - qe else Long.MaxValue
      if (ld <= rd) {
        val endVal = beEnds(li)
        while (li >= 0 && beEnds(li) == endVal) {
          buf += ((ld, beStarts(li), beEnds(li), beRank(li), bePayload(li))); li -= 1
        }
        if (ld > maxTaken) maxTaken = ld
      }
      if (rd <= ld) {
        val startVal = ss(ri)
        while (ri < n && ss(ri) == startVal) {
          buf += ((rd, ss(ri), ee(ri), rr(ri), pp(ri))); ri += 1
        }
        if (rd > maxTaken) maxTaken = rd
      }
    }
    val sorted = buf.sortInPlaceWith { (a, b) =>
      if (a._1 != b._1) a._1 < b._1
      else if (a._2 != b._2) a._2 < b._2
      else if (a._3 != b._3) a._3 < b._3
      else a._4 < b._4
    }
    var i = 0
    while (i < sorted.length && emitted < k) {
      val c = sorted(i); f(c._5, c._1); emitted += 1; i += 1
    }
  }

  private def nextDist(li: Int, ri: Int, qs: Long, qe: Long): Long = {
    val ld = if (li >= 0) qs - beEnds(li) else Long.MaxValue
    val rd = if (ri < byStart.size) byStart.starts(ri) - qe else Long.MaxValue
    math.min(ld, rd)
  }
}

object NearestIndex {
  def build(s: Array[Long], e: Array[Long], pos: Array[Int]): NearestIndex =
    build(s, e, pos.map(_.toLong), pos)

  /** @param rank tie-break order ("position"); @param payload emitted value */
  def build(s: Array[Long], e: Array[Long], rank: Array[Long], payload: Array[Int]): NearestIndex = {
    val bs = ContigIntervalIndex.build(s, e, payload, rank)
    val n = s.length
    val order = Array.range(0, n).sortInPlaceWith { (a, b) =>
      if (e(a) != e(b)) e(a) < e(b)
      else if (s(a) != s(b)) s(a) < s(b)
      else rank(a) < rank(b)
    }
    val ee = new Array[Long](n); val ss = new Array[Long](n)
    val pp = new Array[Int](n); val rr = new Array[Long](n)
    var i = 0
    while (i < n) {
      val o = order(i); ee(i) = e(o); ss(i) = s(o); pp(i) = payload(o); rr(i) = rank(o)
      i += 1
    }
    new NearestIndex(bs, ee, ss, pp, rr)
  }
}
