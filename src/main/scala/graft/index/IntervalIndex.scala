package graft.index

import scala.collection.mutable.ArrayBuffer

/** One stabbing-query dispatch over interchangeable index layouts —
  * the reference keeps 7 algorithms behind a single
  * `get(key,start,end,f)` (interval_join.rs:849-901, selected via
  * `SET bio.interval_join_algorithm`); here the algorithm is chosen
  * per session with `spark.bio.intervalJoin.algorithm`
  * (see [[IntervalIndexFactory]]). */
trait IntervalStabber extends Serializable {
  /** Visit payloads of all intervals overlapping [qs, qe] (closed),
    * in deterministic (start, end, rank) order. */
  def query(qs: Long, qe: Long)(f: Int => Unit): Unit
}

/** The binary searches every index in this package runs over an
  * ascending array. */
private[index] object Bounds {
  /** first index with arr(i) > key */
  def upperBound(arr: Array[Long], key: Long): Int = {
    var lo = 0; var hi = arr.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (arr(mid) <= key) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** first index with arr(i) >= key */
  def lowerBound(arr: Array[Long], key: Long): Int = {
    var lo = 0; var hi = arr.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (arr(mid) < key) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** Per-contig interval stabbing index: intervals sorted by
  * `(start, end, position)` plus a prefix-max-end array — the
  * "superintervals-lite" layout from SURVEY.md §2 J7 (reference keeps
  * several interchangeable index impls behind one `get(key,start,end,f)`
  * dispatch, interval_join.rs:849-901; this is the sorted-arrays one).
  *
  * Query `[qs, qe]` (closed): all `i` with
  * `starts(i) <= qe && ends(i) >= qs`. We binary-search the last
  * start `<= qe`, then scan backwards, pruning with the prefix max of
  * `ends` (if `maxEnds(i) < qs` no `j <= i` can match).
  *
  * Coordinates are Long (the reference's sweep path uses i64; its
  * interval-join path narrows to i32 with an overflow error — we stay
  * on Long everywhere, which is strictly more permissive).
  */
final class ContigIntervalIndex(
    val starts: Array[Long],
    val ends: Array[Long],
    val maxEnds: Array[Long],
    /** caller-supplied payload (e.g. broadcast-join row index), in
      * (start, end, rank) order */
    val payload: Array[Int],
    /** tie-break rank per interval, same order (the reference's
      * insertion-order "position" metadata) */
    val rank: Array[Long]) extends IntervalStabber {

  def size: Int = starts.length

  /** Visit payloads of all intervals overlapping [qs, qe] (closed), in
    * (start, end, position) order. */
  def query(qs: Long, qe: Long)(f: Int => Unit): Unit = {
    // NOTE: a strict-adjusted query may have qs = qe + 2 (point probe);
    // the predicate `start <= qe && end >= qs` then selects intervals
    // STRICTLY containing the point — do not early-return on qs > qe.
    val i = Bounds.upperBound(starts, qe) - 1
    // collect backwards, then emit forwards for deterministic order
    var lo = i
    while (lo >= 0 && maxEnds(lo) >= qs) lo -= 1
    var j = lo + 1
    while (j <= i) {
      if (ends(j) >= qs) f(payload(j))
      j += 1
    }
  }

  def countOverlaps(qs: Long, qe: Long): Long = {
    var n = 0L
    query(qs, qe)(_ => n += 1)
    n
  }
}

object ContigIntervalIndex {
  def build(s: Array[Long], e: Array[Long], payload: Array[Int]): ContigIntervalIndex =
    build(s, e, payload, payload.map(_.toLong))

  /** Build from parallel arrays (not necessarily sorted). `rank(i)` is
    * interval i's tie-break order (the reference's insertion-order
    * metadata); `payload(i)` is the value emitted on match. */
  def build(s: Array[Long], e: Array[Long], payload: Array[Int], rank: Array[Long]): ContigIntervalIndex = {
    val n = s.length
    val order = Array.range(0, n).sortInPlaceWith { (a, b) =>
      if (s(a) != s(b)) s(a) < s(b)
      else if (e(a) != e(b)) e(a) < e(b)
      else rank(a) < rank(b)
    }
    val ss = new Array[Long](n); val ee = new Array[Long](n)
    val pp = new Array[Int](n); val rr = new Array[Long](n); val mx = new Array[Long](n)
    var i = 0; var running = Long.MinValue
    while (i < n) {
      val o = order(i)
      ss(i) = s(o); ee(i) = e(o); pp(i) = payload(o); rr(i) = rank(o)
      if (ee(i) > running) running = ee(i)
      mx(i) = running
      i += 1
    }
    new ContigIntervalIndex(ss, ee, mx, pp, rr)
  }
}

/** Naive linear-scan stabber over the same sorted layout — the
  * testing/verification fallback (the reference ships rust-bio's
  * plain IntervalTree for the same purpose). Same deterministic
  * emission order as [[ContigIntervalIndex]]; O(n) per probe. */
final class LinearIntervalIndex(
    val starts: Array[Long], val ends: Array[Long],
    val payload: Array[Int]) extends IntervalStabber {
  def query(qs: Long, qe: Long)(f: Int => Unit): Unit = {
    var i = 0
    while (i < starts.length) {
      if (starts(i) <= qe && ends(i) >= qs) f(payload(i))
      i += 1
    }
  }
}

/** COITrees-style implicit augmented interval tree (the reference's
  * DEFAULT layout, session_context.rs:60-101 `Algorithm::Coitrees`;
  * cgranges lineage): the canonical (start, end, rank)-sorted array
  * doubles as an implicit balanced BST via midpoint recursion, with a
  * subtree-max-end augmentation stored at each midpoint. A probe
  * recurses from the root: a subtree is pruned when its max end is
  * below `qs` (nothing can reach the query) or when the node's start
  * exceeds `qe` (the right subtree starts even later). In-order visits
  * ascend the canonical index order, so emission matches every other
  * layout without a sort. */
final class CoitreesIntervalIndex(
    val starts: Array[Long], val ends: Array[Long],
    /** max end over the implicit subtree rooted at each midpoint */
    val subMax: Array[Long],
    val payload: Array[Int]) extends IntervalStabber {
  def query(qs: Long, qe: Long)(f: Int => Unit): Unit = visit(0, starts.length - 1, qs, qe, f)

  private def visit(lo: Int, hi: Int, qs: Long, qe: Long, f: Int => Unit): Unit = {
    if (lo > hi) return
    val mid = (lo + hi) >>> 1
    if (subMax(mid) < qs) return       // whole subtree ends before query
    visit(lo, mid - 1, qs, qe, f)
    if (starts(mid) <= qe) {
      if (ends(mid) >= qs) f(payload(mid))
      visit(mid + 1, hi, qs, qe, f)    // right subtree may still start <= qe
    }                                   // else: right starts even later — prune
  }
}

object CoitreesIntervalIndex {
  /** Adds the subtree-max-end augmentation to the canonical layout. */
  def build(c: ContigIntervalIndex): CoitreesIntervalIndex = {
    val subMax = new Array[Long](c.starts.length)
    def fill(lo: Int, hi: Int): Long = {
      if (lo > hi) return Long.MinValue
      val mid = (lo + hi) >>> 1
      val m = math.max(c.ends(mid), math.max(fill(lo, mid - 1), fill(mid + 1, hi)))
      subMax(mid) = m
      m
    }
    fill(0, c.starts.length - 1)
    new CoitreesIntervalIndex(c.starts, c.ends, subMax, c.payload)
  }
}

/** J3 algorithm selection: one factory keyed by the session config
  * `spark.bio.intervalJoin.algorithm` ([[graft.core.GraftConf]]) over
  * three kernels — `superintervals` (the default: sorted arrays +
  * prefix-max-end), `coitrees` (implicit augmented interval tree, the
  * reference's default; holds up under length skew) and `linear` (naive
  * scan, the verifier). The other accepted names select a kept kernel:
  * `eytzinger` (the same sorted layout with another search) and `lapper`
  * (a start-sorted scan that degrades on long intervals) select
  * `superintervals`; `arrayintervaltree` (the same midpoint implicit
  * tree) and `ailist` (skew-robust, no faster than coitrees) select
  * `coitrees`. Every kernel emits in the canonical (start, end, rank)
  * order, so a name never changes a result. */
object IntervalIndexFactory {
  private val superintervals: ContigIntervalIndex => IntervalStabber = identity
  private val coitrees: ContigIntervalIndex => IntervalStabber = CoitreesIntervalIndex.build
  private val kernels: Seq[(String, ContigIntervalIndex => IntervalStabber)] = Seq(
    "superintervals" -> superintervals, "eytzinger" -> superintervals, "lapper" -> superintervals,
    "ailist" -> coitrees, "coitrees" -> coitrees, "arrayintervaltree" -> coitrees,
    "linear" -> (c => new LinearIntervalIndex(c.starts, c.ends, c.payload)))
  private val byName = (kernels :+ ("" -> superintervals)).toMap

  /** Every accepted algorithm name; `""` also selects the default. */
  val Names: Seq[String] = kernels.map(_._1)

  def build(algo: String, s: Array[Long], e: Array[Long], payload: Array[Int]): IntervalStabber = {
    val kernel = byName.getOrElse(algo, throw new IllegalArgumentException(
      s"unknown interval-join algorithm '$algo' (${Names.mkString(" | ")})"))
    kernel(ContigIntervalIndex.build(s, e, payload))
  }
}

/** A per-contig index answering a stabbing query with one Long —
  * the shared contract of [[CountOverlapIndex]] (overlap count) and
  * [[CoverageIndex]] (covered basepairs), letting one codegen probe
  * expression (graft.plans.ScalarIndexProbe) serve both. */
trait ScalarIndex extends Serializable {
  def valueOf(qs: Long, qe: Long): Long
}

object ScalarIndex {
  /** One contig's overlap counter, or its coverage index when
    * `coverage` — the kernel both the broadcast and the partitioned
    * count/coverage paths build. */
  def build(s: Array[Long], e: Array[Long], coverage: Boolean): ScalarIndex =
    if (coverage) CoverageIndex.build(s, e) else CountOverlapIndex.build(s, e)
}

/** Two-sorted-arrays overlap counter — the reference's
  * `CountOverlapIndex` (interval_tree.rs:20-50):
  * `count = #(starts <= qe) − #(ends < qs)`, each via binary search.
  * O(log n) per probe, no enumeration.
  *
  * The formula assumes `start <= end` and `qs <= qe + 1`; it is made
  * exact, against the overlap predicate `start <= qe && end >= qs`
  * (the join's answer), in two ways:
  *  - an inverted query (`qs > qe + 1`: a strict point probe, or an
  *    inverted probe row) subtracts the intervals lying inside the
  *    open window `(qe, qs)` without ever counting them; they are
  *    added back by a scan of the starts inside the window;
  *  - an inverted interval (start > end) lying across the query would
  *    likewise be subtracted uncounted, so inverted intervals are kept
  *    out of the arrays and counted in their own stabbing index. */
final class CountOverlapIndex(
    val sortedStarts: Array[Long],
    /** the ends in `sortedStarts` order */
    val endsByStart: Array[Long],
    val sortedEnds: Array[Long],
    /** the inverted intervals, or null when there are none */
    val inverted: ContigIntervalIndex) extends ScalarIndex {
  import Bounds._

  def valueOf(qs: Long, qe: Long): Long = count(qs, qe)

  def count(qs: Long, qe: Long): Long = {
    val first = upperBound(sortedStarts, qe)
    var n = (first - lowerBound(sortedEnds, qs)).toLong
    if (qs > qe + 1) {
      var i = first
      while (i < sortedStarts.length && sortedStarts(i) < qs) {
        if (endsByStart(i) < qs) n += 1
        i += 1
      }
    }
    if (inverted == null) n else n + inverted.countOverlaps(qs, qe)
  }
}

object CountOverlapIndex {
  def build(s: Array[Long], e: Array[Long]): CountOverlapIndex = {
    val (ok, inv) = Array.range(0, s.length).partition(i => s(i) <= e(i))
    val byStart = ok.sortBy(i => s(i))
    val ee = ok.map(i => e(i))
    java.util.Arrays.sort(ee)
    new CountOverlapIndex(byStart.map(i => s(i)), byStart.map(i => e(i)), ee,
      if (inv.isEmpty) null
      else ContigIntervalIndex.build(inv.map(i => s(i)), inv.map(i => e(i)), inv))
  }
}

/** Coverage index: intervals merged (weak/closed convention — reference
  * merges the left table per contig before coverage,
  * interval_tree.rs:104-106) into disjoint sorted runs, plus prefix
  * sums of closed-interval lengths and of point-run counts.
  * `coverage([qs,qe])` reproduces the reference's `get_coverage`
  * formula EXACTLY (interval_tree.rs:145-152): each run overlapping
  * the (strict-adjusted) query closed-style contributes
  * `max(1, min(qe+1, runEnd) - max(qs-1, runStart))` — i.e. the
  * closed length of the run's intersection with the one-expanded
  * query, minus one, clamped to >=1. NOT the closed-inclusive covered
  * length: a probe fully inside a run yields `len+1` (the reference's
  * own fixture expects coverage 202 for a 201-bp fully-covered probe,
  * tests/integration_test.rs:703) and a point run inside the probe
  * yields 1. Validated row-for-row against the reference's shipped
  * polars-bio golden (expected_coverage.parquet, 438,694 rows). */
final class CoverageIndex(
    val ms: Array[Long], // merged starts, ascending, disjoint
    val me: Array[Long], // merged ends
    val prefixLen: Array[Long],
    val prefixPts: Array[Int]) extends ScalarIndex {
  import Bounds._

  def valueOf(qs: Long, qe: Long): Long = coverage(qs, qe)

  /** F8 subtract kernel: fragments of `[ls, le]` left uncovered by the
    * merged runs, cursor-style boundaries (a fragment ENDS at a run
    * start and RESUMES at a run end — subtract.rs:391-442). Candidate
    * runs are selected with the op's overlap predicate (weak
    * `me >= ls && ms <= le`, strict `me > ls && ms < le`); the rights
    * must be pre-merged with the MATCHING convention
    * ([[CoverageIndex.build]]'s `strictMerge` for strict ops):
    * op-consistent merging yields the same fragment geometry as the
    * reference's advancing-cursor over unmerged rights.
    * Emits nothing when the interval is fully covered; emits
    * `(ls, le)` itself when no run overlaps. */
  def gaps(ls: Long, le: Long, strict: Boolean)(f: (Long, Long) => Unit): Unit = {
    if (ms.length == 0) { f(ls, le); return }
    // run range [first, last] satisfying the op's overlap predicate
    val first = if (strict) upperBound(me, ls) else lowerBound(me, ls)
    val last = (if (strict) lowerBound(ms, le) else upperBound(ms, le)) - 1
    if (first > last) { f(ls, le); return }
    var cursor = ls
    var i = first
    while (i <= last) {
      if (ms(i) > cursor) f(cursor, ms(i))
      if (me(i) > cursor) cursor = me(i)
      i += 1
    }
    if (cursor < le) f(cursor, le)
  }

  def coverage(qs: Long, qe: Long): Long = {
    if (ms.length == 0) return 0L
    // first merged run with end >= qs (me is ascending since runs are disjoint)
    val first = lowerBound(me, qs)
    // last merged run with start <= qe
    val last = upperBound(ms, qe) - 1
    // NB: an inverted strict-adjusted query (point probe, qs = qe + 2)
    // still selects a run strictly spanning the point — same convention
    // as CountOverlapIndex — and at most one run can qualify.
    if (first > last) return 0L
    def contrib(i: Int): Long =
      math.max(1L, math.min(qe + 1, me(i)) - math.max(qs - 1, ms(i)))
    if (first == last) return contrib(first)
    var total = contrib(first) + contrib(last)
    if (last - first > 1) {
      // interior runs lie strictly inside the expanded query, so the
      // min/max clamps cannot bind: contribution = closedLen - 1,
      // floored at 1 — i.e. point runs (closedLen 1) contribute 1
      val lenSum = prefixLen(last) - prefixLen(first + 1)
      val n = (last - 1) - (first + 1) + 1
      val pts = prefixPts(last) - prefixPts(first + 1)
      total += lenSum - n + pts
    }
    total
  }

}

object CoverageIndex {
  /** Merge (weak default: `s <= curEnd` joins a run — matching the
    * reference's complement/coverage internal merge,
    * complement.rs:300-317) and build prefix lengths. Closed-interval
    * length = e - s + 1. `strictMerge` keeps TOUCHING runs separate
    * (`s < curEnd` required to join) — the convention strict subtract
    * needs: a touching pair merged weakly would qualify as a strict
    * overlap candidate that neither member is, swallowing point
    * fragments at the shared boundary. An inverted interval
    * (start > end) covers no base and is left out. */
  def build(s: Array[Long], e: Array[Long], strictMerge: Boolean = false): CoverageIndex = {
    val kept = Array.range(0, s.length).filter(i => s(i) <= e(i))
    val n = kept.length
    if (n == 0) return new CoverageIndex(Array.empty, Array.empty, Array(0L), Array(0))
    val order = kept.sortInPlaceWith { (a, b) =>
      if (s(a) != s(b)) s(a) < s(b) else e(a) < e(b)
    }
    val mss = new ArrayBuffer[Long](); val mes = new ArrayBuffer[Long]()
    var cs = s(order(0)); var ce = e(order(0))
    var i = 1
    while (i < n) {
      val o = order(i)
      val joins = if (strictMerge) s(o) < ce else s(o) <= ce
      if (joins) { if (e(o) > ce) ce = e(o) }
      else { mss += cs; mes += ce; cs = s(o); ce = e(o) }
      i += 1
    }
    mss += cs; mes += ce
    val k = mss.length
    val pref = new Array[Long](k + 1)
    val pts = new Array[Int](k + 1)
    i = 0
    while (i < k) {
      pref(i + 1) = pref(i) + (mes(i) - mss(i) + 1)
      pts(i + 1) = pts(i) + (if (mss(i) == mes(i)) 1 else 0)
      i += 1
    }
    new CoverageIndex(mss.toArray, mes.toArray, pref, pts)
  }
}
