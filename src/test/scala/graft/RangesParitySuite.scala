package graft

import org.apache.spark.sql.DataFrame
import graft.core.{FilterOp, GraftConf}
import graft.ranges.Ranges

/** Every `Ranges` probe mode on the broadcast path and on the
  * partitioned path (`spark.bio.broadcast_build_limit=0`) over bad
  * input: build rows with a null contig, start or end, an inverted row
  * (start > end), a contig whose only row is unindexable, and probe
  * rows with a null contig or bound or inverted bounds. Both paths must return the same
  * rows, and those rows follow SQL's null rule: a row with a null
  * contig, start or end takes part in no overlap. */
class RangesParitySuite extends SparkSpec {
  import spark.implicits._

  private type Iv = (Option[String], Option[Long], Option[Long], Long)

  private val buildRows: Seq[Iv] = Seq(
    (Some("chr1"), Some(100L), Some(200L), 1L),
    (Some("chr1"), Some(150L), Some(300L), 2L),
    (Some("chr1"), Some(6L), Some(7L), 3L),
    (Some("chr1"), Some(10L), Some(5L), 4L),   // inverted
    (None, Some(100L), Some(200L), 5L),        // null contig
    (Some("chr1"), None, Some(200L), 6L),      // null start
    (Some("chr1"), Some(120L), None, 7L),      // null end
    (Some("chr2"), Some(50L), Some(60L), 8L),
    (Some("chr3"), None, Some(50L), 9L),       // chr3's only row: unindexable
    (Some(""), Some(100L), Some(200L), 10L))   // empty-string contig

  private val probeRows: Seq[Iv] = Seq(
    (Some("chr1"), Some(150L), Some(160L), 101L),
    (Some("chr1"), Some(6L), Some(8L), 102L),     // [6,7] only: the inverted row lies across it
    (Some("chr1"), Some(4L), Some(12L), 103L),    // [6,7] and the inverted [10,5]
    (Some("chr1"), Some(1000L), Some(1100L), 104L),
    (None, Some(150L), Some(160L), 105L),         // null contig
    (Some("chr1"), None, Some(160L), 106L),       // null start
    (Some("chr1"), Some(150L), None, 107L),       // null end
    (Some("chr3"), Some(10L), Some(60L), 108L),
    (Some("chr2"), Some(55L), Some(55L), 109L),
    (Some("chr9"), Some(1L), Some(2L), 110L),
    (Some(""), Some(150L), Some(160L), 111L),
    (Some("chr1"), Some(160L), Some(150L), 112L), // inverted, inside [100,200] and [150,300]
    (Some("chr1"), Some(300L), Some(50L), 113L))  // inverted, inside no build row

  private def df(rows: Seq[Iv]): DataFrame = rows.toDF("contig", "pos_start", "pos_end", "id")
  private lazy val build = df(buildRows)
  private lazy val probe = df(probeRows)
  private val ops = Seq(FilterOp.Weak, FilterOp.Strict)

  private def complete(r: Iv): Boolean = r._1.isDefined && r._2.isDefined && r._3.isDefined
  private def overlaps(b: Iv, p: Iv, op: FilterOp): Boolean =
    complete(b) && complete(p) && b._1 == p._1 && (
      if (op.isStrict) b._2.get < p._3.get && b._3.get > p._2.get
      else b._2.get <= p._3.get && b._3.get >= p._2.get)

  private def sorted(d: DataFrame): Seq[Seq[Any]] =
    d.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  /** The rows of `run` on the broadcast path and on the partitioned
    * path; asserts they are equal and returns them. */
  private def parity(label: String)(run: => DataFrame): Seq[Seq[Any]] = {
    val broadcast = sorted(run)
    val partitioned =
      try {
        spark.conf.set(GraftConf.BroadcastBuildLimit, "0")
        sorted(run)
      } finally spark.conf.unset(GraftConf.BroadcastBuildLimit)
    assert(broadcast == partitioned, s"$label: broadcast vs partitioned")
    broadcast
  }

  private def ids(rows: Seq[Seq[Any]], at: Int): Seq[Long] =
    rows.map(_(at).asInstanceOf[Long]).sorted

  test("overlap join/left/left_distinct: same rows on both paths, nulls match nothing") {
    for (op <- ops) {
      val join = parity(s"join $op")(Ranges.overlap(build, probe, mode = "join", op = op))
      val want = for (b <- buildRows; p <- probeRows if overlaps(b, p, op)) yield (b._4, p._4)
      assert(join.map(r => (r(3), r(7))).sortBy(_.toString) == want.sortBy(_.toString), s"join $op")
      // probe = left: one row per overlap, or one if any
      val left = parity(s"left $op")(Ranges.overlap(probe, build, mode = "left", op = op))
      assert(ids(left, 3) == want.map(_._2).sorted, s"left $op")
      val distinct = parity(s"left_distinct $op")(
        Ranges.overlap(probe, build, mode = "left_distinct", op = op))
      assert(ids(distinct, 3) == want.map(_._2).distinct.sorted, s"left_distinct $op")
    }
  }

  test("countOverlaps: same counts on both paths, 0 for null inputs, exact for inverted rows") {
    for (op <- ops) {
      val got = parity(s"count $op")(Ranges.countOverlaps(build, probe, op = op))
        .map(r => r(3) -> r(4)).toMap
      val want = probeRows.map(p => p._4 -> buildRows.count(overlaps(_, p, op)).toLong).toMap
      assert(got == want, s"count $op")
    }
    // the inverted cells: build [10,5] lies across [6,8] and is no
    // overlap; probe [300,50] contains no build row
    val weak = Ranges.countOverlaps(build, probe).collect().map(r => r.getLong(3) -> r.getLong(4)).toMap
    assert(weak(102L) == 1L && weak(103L) == 2L && weak(112L) == 2L && weak(113L) == 0L)
  }

  test("CountOverlapIndex counts exactly the overlap predicate, inverted rows and queries included") {
    val rnd = new scala.util.Random(11)
    for (n <- Seq(0, 1, 5, 200)) {
      val s = Array.fill(n)(rnd.nextLong(500))
      // ~1 in 5 rows inverted, some points
      val e = s.map(x => x + rnd.nextLong(60) - (if (rnd.nextInt(5) == 0) 70L else 0L))
      val idx = graft.index.CountOverlapIndex.build(s, e)
      for (_ <- 0 until 500) {
        val qs = rnd.nextLong(560) - 30
        val qe = qs + rnd.nextLong(80) - 40 // inverted about half the time
        val want = s.indices.count(i => s(i) <= qe && e(i) >= qs).toLong
        assert(idx.count(qs, qe) == want, s"n=$n query=[$qs,$qe]")
      }
    }
  }

  /** The reference's get_coverage formula over the weakly merged
    * complete, non-inverted rows of `build`. */
  private def coverageModel(build: Seq[Iv])(p: Iv, op: FilterOp): Long =
    if (!complete(p)) 0L
    else {
      val (qs, qe) = op.adjustQuery(p._2.get, p._3.get)
      val runs = build.filter(b => complete(b) && b._1 == p._1 && b._2.get <= b._3.get)
        .map(b => (b._2.get, b._3.get)).sorted
        .foldLeft(List.empty[(Long, Long)]) {
          case ((s, e) :: rest, (bs, be)) if bs <= e => (s, math.max(e, be)) :: rest
          case (acc, r) => r :: acc
        }
      runs.filter { case (s, e) => s <= qe && e >= qs }
        .map { case (s, e) => math.max(1L, math.min(qe + 1, e) - math.max(qs - 1, s)) }.sum
    }

  test("coverage: same values on both paths, 0 for null inputs") {
    val model = coverageModel(buildRows) _
    for (op <- ops) {
      val got = parity(s"coverage $op")(Ranges.coverage(build, probe, op = op))
        .map(r => r(3) -> r(4)).toMap
      assert(got == probeRows.map(p => p._4 -> model(p, op)).toMap, s"coverage $op")
    }
  }

  test("coverage of an inverted probe: same value on both paths, the get_coverage formula") {
    // a run spanning the whole inverted window: the formula's clamp
    // reads 1 for both probes, weak and strict
    val covering: Seq[Iv] = Seq((Some("chr1"), Some(100L), Some(3000L), 1L))
    val inverted: Seq[Iv] = Seq(
      (Some("chr1"), Some(2500L), Some(500L), 201L),
      (Some("chr1"), Some(160L), Some(150L), 202L))
    for (op <- ops) {
      val got = parity(s"inverted coverage $op")(
        Ranges.coverage(df(covering), df(inverted), op = op)).map(r => r(3) -> r(4)).toMap
      val want = inverted.map(p => p._4 -> coverageModel(covering)(p, op)).toMap
      assert(want == Map(201L -> 1L, 202L -> 1L), s"model $op")
      assert(got == want, s"inverted coverage $op")
    }
  }

  test("nearest: same rows on both paths, one null-left row for a null input") {
    for (op <- ops; k <- Seq(1, 2)) {
      val got = parity(s"nearest $op k=$k")(
        Ranges.nearest(build, probe, k = k, op = op, tieBreakCol = Some("id")))
      // right_id is column 7, left_id column 3, distance column 8
      for (p <- probeRows if !complete(p)) {
        val mine = got.filter(_(7) == p._4)
        assert(mine.size == 1 && mine.head.take(4).forall(_ == null) && mine.head(8) == null,
          s"nearest $op k=$k probe ${p._4}: $mine")
      }
      // a complete probe whose contig has no indexed build row: null-left
      for (pid <- Seq(108L, 110L))
        assert(got.filter(_(7) == pid).map(_(3)) == Seq(null), s"nearest $op probe $pid")
      // overlap first: [150,160] overlaps ids 1 and 2 (and never the null-end row 7)
      assert(got.filter(_(7) == 101L).map(_(3)).toSet ==
        (if (k == 1) Set(1L) else Set(1L, 2L)), s"nearest $op k=$k")
    }
  }

  test("subtract: same fragments on both paths, null-input rows pass through unchanged") {
    for (op <- ops) {
      val got = parity(s"subtract $op")(Ranges.subtract(probe, build, op = op))
      for (p <- probeRows if !complete(p))
        assert(got.filter(_(3) == p._4) == Seq(Seq[Any](p._1.orNull, p._2.map(Long.box).orNull, p._3.map(Long.box).orNull, p._4)),
          s"subtract $op probe ${p._4}")
      // untouched rows: a contig without indexed rows, an absent contig
      for (pid <- Seq(108L, 110L)) {
        val p = probeRows.find(_._4 == pid).get
        assert(got.filter(_(3) == pid) == Seq(Seq(p._1.get, p._2.get, p._3.get, pid)))
      }
    }
    // [4,12] minus [6,7] (the inverted [10,5] covers no base)
    val weak = sorted(Ranges.subtract(probe, build)).filter(_(3) == 103L)
    assert(weak == Seq(Seq("chr1", 4L, 6L, 103L), Seq("chr1", 7L, 12L, 103L)))
  }
}
