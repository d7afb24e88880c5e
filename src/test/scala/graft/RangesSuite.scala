package graft

import org.apache.spark.sql.DataFrame
import graft.core.{FilterOp, GraftConf}
import graft.ranges.Ranges

/** Per-operator semantics tests on the reference's own fixture rows
  * (FIXTURES.md §1: reads.csv / targets.csv — partial overlap,
  * containment, adjacency, point intervals, cross-contig isolation)
  * plus the cluster expectations pinned at
  * reference tests/integration_test.rs:2411-2530. */
class RangesSuite extends SparkSpec {
  import spark.implicits._

  // reference reads.csv (contig, pos_start, pos_end) + id
  lazy val reads: DataFrame = Seq(
    ("chr1", 150L, 250L, 0L), ("chr1", 190L, 300L, 1L), ("chr1", 300L, 501L, 2L),
    ("chr1", 500L, 700L, 3L), ("chr1", 15000L, 15000L, 4L), ("chr1", 22000L, 22300L, 5L),
    ("chr2", 150L, 250L, 6L), ("chr2", 190L, 300L, 7L), ("chr2", 300L, 500L, 8L),
    ("chr2", 500L, 700L, 9L), ("chr2", 22000L, 22300L, 10L),
  ).toDF("contig", "pos_start", "pos_end", "id")

  lazy val targets: DataFrame = Seq(
    ("chr1", 100L, 190L, 100L), ("chr1", 200L, 290L, 101L), ("chr1", 400L, 600L, 102L),
    ("chr1", 10000L, 20000L, 103L), ("chr1", 22100L, 22100L, 104L),
    ("chr2", 100L, 190L, 105L), ("chr2", 200L, 290L, 106L), ("chr2", 400L, 600L, 107L),
  ).toDF("contig", "pos_start", "pos_end", "id")

  // naive overlap reference: weak = closed-interval predicate
  def naivePairs(op: FilterOp): Set[(Long, Long)] = {
    val l = reads.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val r = targets.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    (for {
      a <- l; b <- r
      if a._1 == b._1
      if (op == FilterOp.Weak && a._2 <= b._3 && a._3 >= b._2) ||
         (op == FilterOp.Strict && a._2 < b._3 && a._3 > b._2)
    } yield (a._4, b._4)).toSet
  }

  test("overlap join mode matches naive pairs (weak + strict)") {
    for (op <- Seq(FilterOp.Weak, FilterOp.Strict)) {
      val got = Ranges.overlap(reads, targets, mode = "join", op = op)
        .select("left_id", "right_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == naivePairs(op), s"op=$op")
    }
  }

  test("J3 algorithm selection: linear index agrees with superintervals") {
    import graft.index.IntervalIndexFactory
    try {
      spark.conf.set(GraftConf.IntervalJoinAlgorithm, "linear")
      val got = Ranges.overlap(reads, targets, mode = "join")
        .select("left_id", "right_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == naivePairs(FilterOp.Weak))
    } finally spark.conf.unset(GraftConf.IntervalJoinAlgorithm)
    intercept[IllegalArgumentException] {
      IntervalIndexFactory.build("quadtree", Array(1L), Array(2L), Array(0))
    }
  }

  test("J3 every algorithm name: emission parity with linear") {
    import graft.index.IntervalIndexFactory
    val rnd = new scala.util.Random(42)
    for (n <- Seq(0, 1, 7, 100, 1023);
         algo <- Seq("superintervals", "eytzinger", "lapper", "ailist", "coitrees",
           "arrayintervaltree", "linear", "")) {
      val s = Array.fill(n)(rnd.nextLong(1000))
      // ~10% very long intervals: the length skew that degrades plain
      // backward scans and prunes the implicit tree's subtrees
      val e = s.map(x => x + (if (rnd.nextInt(10) == 0) 800L else rnd.nextLong(50)))
      val p = Array.range(0, n)
      val a = IntervalIndexFactory.build("linear", s, e, p)
      val b = IntervalIndexFactory.build(algo, s, e, p)
      for (_ <- 0 until 200) {
        val qs = rnd.nextLong(1100) - 50
        val qe = qs + rnd.nextLong(80)
        val ra = scala.collection.mutable.ArrayBuffer[Int]()
        val rb = scala.collection.mutable.ArrayBuffer[Int]()
        a.query(qs, qe)(ra += _)
        b.query(qs, qe)(rb += _)
        assert(ra == rb, s"algo=$algo n=$n query=[$qs,$qe]")
      }
    }
    // end-to-end through the interval strategy
    try {
      spark.conf.set(GraftConf.IntervalJoinAlgorithm, "coitrees")
      val got = Ranges.overlap(reads, targets, mode = "join")
        .select("left_id", "right_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == naivePairs(FilterOp.Weak))
    } finally spark.conf.unset(GraftConf.IntervalJoinAlgorithm)
  }

  test("overlap join output schema is left_*/right_* prefixed") {
    val df = Ranges.overlap(reads, targets)
    assert(df.columns.toSeq == Seq(
      "left_contig", "left_pos_start", "left_pos_end", "left_id",
      "right_contig", "right_pos_start", "right_pos_end", "right_id"))
  }

  test("overlap left = multiplicity, left_distinct = semi") {
    val pairs = naivePairs(FilterOp.Weak)
    val left = Ranges.overlap(reads, targets, mode = "left")
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(left == pairs.toSeq.map(_._1).sorted)
    val dis = Ranges.overlap(reads, targets, mode = "left_distinct")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(dis == pairs.map(_._1))
  }

  test("count_overlaps counts left intervals per right row") {
    val pairs = naivePairs(FilterOp.Weak)
    val got = Ranges.countOverlaps(reads, targets)
      .select("id", "count").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = targets.collect().map(_.getLong(3))
      .map(tid => tid -> pairs.count(_._2 == tid).toLong).toMap
    assert(got == want)
  }

  test("strict count_overlaps is exact for point probes among point intervals") {
    import graft.index.CountOverlapIndex
    // intervals: [5,5] point, [3,8] containing, [5,9] starting at 5
    val idx = CountOverlapIndex.build(Array(5L, 3L, 5L), Array(5L, 8L, 9L))
    // strict probe [5,5] -> adjusted (6,4): only [3,8] strictly contains 5
    assert(idx.count(6L, 4L) == 1L)
    // weak probe [5,5]: all three overlap
    assert(idx.count(5L, 5L) == 3L)
    // strict probe [4,4] -> adjusted (5,3): [3,8] contains 4 strictly
    assert(idx.count(5L, 3L) == 1L)
  }

  test("coverage sums covered basepairs over merged left intervals") {
    // chr1 merged reads: [150,300],[300,501]->[150,501]... 150-300 &
    // 300-501 touch (300<=300) -> [150,501] merged with [500,700] (500<=501)
    // -> [150,700]; plus [15000,15000], [22000,22300]
    val got = Ranges.coverage(reads, targets)
      .select("id", "coverage").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // reference get_coverage formula (interval_tree.rs:145-152;
    // expected values from tests/integration_test.rs:699-711):
    // max(1, min(qe+1, runEnd) - max(qs-1, runStart)) per merged run
    assert(got(100L) == 41L)  // [100,190] vs [150,700]: min(191,700)-150
    assert(got(101L) == 92L)  // [200,290] interior: 291-199
    assert(got(102L) == 202L) // [400,600] interior: 601-399
    assert(got(103L) == 1L)   // [10000,20000] vs point run [15000,15000]: clamp
    assert(got(104L) == 2L)   // point [22100,22100] inside [22000,22300]: 22101-22099
  }

  test("merge collapses overlapping+touching runs, counts inputs") {
    val got = Ranges.merge(reads).orderBy("contig", "pos_start")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      ("chr1", 150L, 700L, 4L), ("chr1", 15000L, 15000L, 1L), ("chr1", 22000L, 22300L, 1L),
      ("chr2", 150L, 700L, 4L), ("chr2", 22000L, 22300L, 1L)))
  }

  test("merge minDist bridges gaps; strict does not merge touching") {
    import spark.implicits._
    val t = Seq(("a", 100L, 200L, 1L), ("a", 210L, 300L, 2L)).toDF("contig", "pos_start", "pos_end", "id")
    assert(Ranges.merge(t).count() == 2)
    val m = Ranges.merge(t, minDist = 10L).collect()
    assert(m.length == 1 && m(0).getLong(1) == 100L && m(0).getLong(2) == 300L && m(0).getLong(3) == 2L)
    val touch = Seq(("a", 100L, 200L, 1L), ("a", 200L, 300L, 2L)).toDF("contig", "pos_start", "pos_end", "id")
    assert(Ranges.merge(touch).count() == 1)
    // strict: merge only if s < curEnd -> touching [.,200],[200,.] stays split
    assert(Ranges.merge(touch, op = FilterOp.Strict).count() == 2)
  }

  test("cluster matches reference expectations (0-based, global ids)") {
    // reference tests/integration_test.rs:2496-2530
    val t = Seq(
      ("a", 100L, 200L), ("a", 150L, 250L), ("b", 100L, 200L), ("b", 300L, 400L),
    ).toDF("contig", "pos_start", "pos_end")
    val got = Ranges.cluster(t).orderBy("contig", "pos_start")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      ("a", 100L, 200L, 0L, 100L, 250L), ("a", 150L, 250L, 0L, 100L, 250L),
      ("b", 100L, 200L, 1L, 100L, 200L), ("b", 300L, 400L, 2L, 300L, 400L)))
  }

  test("cluster is invariant to shuffle partition count") {
    val t = reads
    val a = Ranges.cluster(t).orderBy("id").collect().map(_.toSeq).toSeq
    val p1 = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val b = Ranges.cluster(t).orderBy("id").collect().map(_.toSeq).toSeq
      assert(a == b)
    } finally spark.conf.set("spark.sql.shuffle.partitions", p1)
  }

  test("complement emits cursor-style gaps with default view") {
    // reference complement.rs sweep: gaps run prev-merged-END ->
    // next-merged-START (touching coordinates), plus [0, first) and
    // [last, i64::MAX)
    val t = Seq(("a", 5L, 10L, 1L), ("a", 20L, 30L, 2L)).toDF("contig", "pos_start", "pos_end", "id")
    val got = Ranges.complement(t).orderBy("pos_start")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", 0L, 5L), ("a", 10L, 20L), ("a", 30L, Long.MaxValue)))
  }

  test("subtract fragments left around rights, cursor-style boundaries") {
    val l = Seq(("a", 10L, 20L, 1L), ("a", 100L, 200L, 2L), ("a", 300L, 400L, 3L))
      .toDF("contig", "pos_start", "pos_end", "id")
    val r = Seq(("a", 15L, 25L, 9L), ("a", 120L, 130L, 8L), ("a", 150L, 160L, 7L))
      .toDF("contig", "pos_start", "pos_end", "id")
    val got = Ranges.subtract(l, r).orderBy("id", "pos_start")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3))).toSeq
    assert(got == Seq(
      ("a", 10L, 15L, 1L),                                      // clipped at right START
      ("a", 100L, 120L, 2L), ("a", 130L, 150L, 2L), ("a", 160L, 200L, 2L),
      ("a", 300L, 400L, 3L)))                                   // untouched
  }

  test("nearest k=1: overlap first, then distance with deterministic ties") {
    val l = Seq(("a", 100L, 200L, 1L), ("a", 300L, 400L, 2L), ("a", 500L, 600L, 3L))
      .toDF("contig", "pos_start", "pos_end", "id")
    val r = Seq(
      ("a", 150L, 160L, 10L),  // overlaps id=1 -> dist 0
      ("a", 240L, 260L, 11L),  // dist to id1: 240-200=40, to id2: 300-260=40 -> tie -> lower pos_start wins (id1)
      ("a", 990L, 995L, 12L),  // nearest id3, dist 990-600=390
    ).toDF("contig", "pos_start", "pos_end", "id")
    val got = Ranges.nearest(l, r, tieBreakCol = Some("id"))
      .select("right_id", "left_id", "distance").orderBy("right_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(got == Seq((10L, 1L, 0L), (11L, 1L, 40L), (12L, 3L, 390L)))
  }

  test("nearest emits NULL left columns when contig has no candidates") {
    val l = Seq(("a", 100L, 200L, 1L)).toDF("contig", "pos_start", "pos_end", "id")
    val r = Seq(("zz", 1L, 2L, 10L)).toDF("contig", "pos_start", "pos_end", "id")
    val got = Ranges.nearest(l, r).collect()
    assert(got.length == 1)
    assert(got(0).isNullAt(0) && got(0).isNullAt(3) && got(0).isNullAt(8)) // left_contig, left_id, distance
    assert(got(0).getLong(7) == 10L) // right_id
  }

  test("nearest k=3 ranks by (distance, start, end, id)") {
    val l = Seq(("a", 100L, 200L, 1L), ("a", 300L, 400L, 2L), ("a", 700L, 800L, 3L))
      .toDF("contig", "pos_start", "pos_end", "id")
    val r = Seq(("a", 250L, 260L, 10L)).toDF("contig", "pos_start", "pos_end", "id")
    val got = Ranges.nearest(l, r, k = 3, tieBreakCol = Some("id"))
      .select("left_id", "distance").collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    // dists: id2 300-260=40, id1 250-200=50, id3 700-260=440
    assert(got == Seq((2L, 40L), (1L, 50L), (3L, 440L)))
  }

  test("build-size guard: over-cap builds fail over to the partitioned path, same rows") {
    import graft.ranges.BuildGuard
    def pairsOf(df: DataFrame): Set[(Long, Long)] =
      df.select("left_id", "right_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def rowsOf(df: DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toList).toSeq.sortBy(_.toString)
    val baseJoin = pairsOf(Ranges.overlap(reads, targets, mode = "join"))
    val baseLeft = rowsOf(Ranges.overlap(reads, targets, mode = "left"))
    val baseDist = rowsOf(Ranges.overlap(reads, targets, mode = "left_distinct"))
    val baseCnt = rowsOf(Ranges.countOverlaps(reads, targets))
    val baseCov = rowsOf(Ranges.coverage(reads, targets))
    val baseCovStrict = rowsOf(Ranges.coverage(reads, targets, op = FilterOp.Strict))
    val baseNear = rowsOf(Ranges.nearest(reads, targets, tieBreakCol = Some("id")))
    val baseSub = rowsOf(Ranges.subtract(reads, targets))
    try {
      spark.conf.set(GraftConf.BroadcastBuildLimit, "1") // nothing fits
      assert(!BuildGuard.fits(reads) && !BuildGuard.fits(targets))
      // identical row sets through the grid-bucket failover
      assert(pairsOf(Ranges.overlap(reads, targets, mode = "join")) == baseJoin)
      assert(rowsOf(Ranges.overlap(reads, targets, mode = "left")) == baseLeft)
      assert(rowsOf(Ranges.overlap(reads, targets, mode = "left_distinct")) == baseDist)
      assert(rowsOf(Ranges.countOverlaps(reads, targets)) == baseCnt)
      assert(rowsOf(Ranges.coverage(reads, targets)) == baseCov)
      // the failover plan must NOT contain the CollectLeft exec node
      // or a broadcast probe expression
      val plan = Ranges.overlap(reads, targets, mode = "join")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastIntervalJoin") &&
        !plan.contains("interval_probe"))
      // strict coverage fails over too (the partitioned formula is
      // op-uniform) — same rows as the broadcast strict variant
      assert(rowsOf(Ranges.coverage(reads, targets, op = FilterOp.Strict)) == baseCovStrict)
      // nearest/subtract fail over to the contig co-shuffle
      // Partitioned mode; nearest WITHOUT a tieBreakCol has no
      // deterministic partitioned rank and still fails loudly
      assert(rowsOf(Ranges.nearest(reads, targets, tieBreakCol = Some("id"))) == baseNear)
      assert(rowsOf(Ranges.subtract(reads, targets)) == baseSub)
      intercept[IllegalArgumentException] { Ranges.nearest(reads, targets) }
      intercept[IllegalArgumentException] {
        graft.streaming.IntervalStreams.countOverlaps(reads, targets)
      }
      intercept[IllegalArgumentException] {
        graft.streaming.IntervalStreams.annotateTranscripts(reads,
          Seq(("chr1", 100L, 200L, "T1", 1))
            .toDF("chrom", "start", "end", "transcript_id", "strand"))
      }
    } finally spark.conf.unset(GraftConf.BroadcastBuildLimit)
    // with the cap back at default everything broadcasts again
    assert(BuildGuard.fits(reads))
    assert(pairsOf(Ranges.overlap(reads, targets, mode = "join")) == baseJoin)
  }

  test("cluster/merge: minDist near the Int64 ceiling saturates, never wraps") {
    // integration_test.rs test_cluster_udtf_large_min_dist_no_overflow:
    // intervals at the Int64 ceiling must cluster TOGETHER under any
    // positive min_dist (the reference saturating_adds the boundary);
    // a wrapping add flips the boundary negative and splits them
    val df = Seq(
      ("a", Long.MaxValue - 7, Long.MaxValue - 1),
      ("a", Long.MaxValue, Long.MaxValue),
    ).toDF("contig", "pos_start", "pos_end")
    val cl = Ranges.cluster(df, minDist = 100L).orderBy("pos_start").collect()
    assert(cl.length == 2)
    assert(cl.map(_.getLong(cl.head.fieldIndex("cluster"))).toSet == Set(0L))
    assert(cl.head.getLong(cl.head.fieldIndex("cluster_start")) == Long.MaxValue - 7)
    assert(cl.head.getLong(cl.head.fieldIndex("cluster_end")) == Long.MaxValue)
    val mg = Ranges.merge(df, minDist = 100L).collect()
    assert(mg.length == 1 && mg.head.getLong(3) == 2L)
    // an ENORMOUS minDist saturates too
    assert(Ranges.merge(df, minDist = Long.MaxValue).count() == 1)
  }

  test("sweep operators accept empty inputs") {
    val empty = Seq.empty[(String, Long, Long)].toDF("contig", "pos_start", "pos_end")
    assert(Ranges.merge(empty).count() == 0)
    assert(Ranges.cluster(empty).count() == 0)
    assert(Ranges.complement(empty).count() == 0)
    assert(Ranges.subtract(empty, targets).count() == 0)
    // empty RIGHT: subtract passes the left through intact
    val sub = Ranges.subtract(reads, empty).collect().map(_.toSeq).toSet
    assert(sub == reads.select("contig", "pos_start", "pos_end", "id")
      .collect().map(_.toSeq).toSet)
    // count_overlaps emits one row per RIGHT row: empty right -> no
    // rows; empty LEFT -> every right row with count 0
    assert(Ranges.countOverlaps(reads, empty).count() == 0)
    val zeroed = Ranges.countOverlaps(empty, reads)
    assert(zeroed.count() == reads.count())
    assert(zeroed.agg(org.apache.spark.sql.functions.sum("count"))
      .collect().head.getLong(0) == 0L)
  }

  test("coordinates beyond i32::MAX join correctly (documented superset, SURVEY 7.4.2)") {
    // the reference's interval-join path ERRORS on coordinates above
    // i32::MAX (interval_join.rs:1963-1999); this library keeps Long
    // coordinates end to end and must succeed with exact results —
    // both on the broadcast-index path and the partitioned failover
    val big = Int.MaxValue.toLong // 2,147,483,647
    val l = Seq(("chr1", big + 10L, big + 100L, 1L),
      ("chr1", big + 500L, big + 600L, 2L))
      .toDF("contig", "pos_start", "pos_end", "id")
    val r = Seq(("chr1", big + 50L, big + 520L, 10L),
      ("chr1", 100L, 200L, 11L))
      .toDF("contig", "pos_start", "pos_end", "id")
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("left_id", "right_id").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
    val expected = Set((1L, 10L), (2L, 10L))
    assert(pairs(Ranges.overlap(l, r, mode = "join")) == expected)
    try {
      spark.conf.set(GraftConf.BroadcastBuildLimit, "1")
      assert(pairs(Ranges.overlap(l, r, mode = "join")) == expected)
    } finally spark.conf.unset(GraftConf.BroadcastBuildLimit)
    // nearest across the i32 boundary: distance math stays exact
    val near = Ranges.nearest(l, r, tieBreakCol = Some("id"))
      .select("right_id", "left_id", "distance").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(near.contains((11L, 1L, big + 10L - 200L)))
  }

  test("island sweep invariant under position-bucket width (merge/cluster/complement)") {
    // the island sweep range-partitions by (contig, start DIV width)
    // with per-bucket carry + id-offset frames; any width and any
    // shuffle-partition count must produce identical islands.
    // Deliberate stress rows:
    //  - (5, 100000): spans MANY width-7 buckets — its end must flip
    //    flags deep inside later buckets (per-row carry, not just at
    //    bucket heads)
    //  - (100010, 100020) + minDist: island decided purely by carry
    //  - duplicate (200, 300) rows: tie peers must share an island id
    //  - saturating pin at the Int64 ceiling (merge.rs:291 semantics)
    //  - far gap to 900000: next non-empty bucket is not bucket+1
    val in = Seq(
      ("c1", 5L, 100000L), ("c1", 10L, 20L), ("c1", 50L, 60L),
      ("c1", 200L, 300L), ("c1", 200L, 300L), ("c1", 99990L, 99995L),
      ("c1", 100010L, 100020L), ("c1", 900000L, 900100L),
      ("c2", 1L, 2L), ("c2", 2L, 9L), ("c2", 9L, 9L),
      ("c3", Long.MaxValue - 5L, Long.MaxValue),
      ("c3", Long.MaxValue - 100L, Long.MaxValue - 50L),
    ).toDF("contig", "pos_start", "pos_end")
    // explicit views: clipped runs, a view starting mid-island, a view
    // contig absent from the input, plus implicit views for c2/c3
    val vw = Seq(("c1", 0L, 150000L), ("c1", 899000L, 950000L), ("c9", 5L, 9L))
      .toDF("contig", "pos_start", "pos_end")
    val p0 = spark.conf.get("spark.sql.shuffle.partitions")
    def run(width: Long, parts: String): Seq[Seq[Seq[Any]]] = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      spark.conf.set(GraftConf.SweepPosBucketWidth, width.toString)
      try Seq(
        sortedRows(Ranges.merge(in)),
        sortedRows(Ranges.merge(in, minDist = 15L)),
        sortedRows(Ranges.merge(in, minDist = 60L, op = FilterOp.Strict)),
        sortedRows(Ranges.cluster(in)),
        sortedRows(Ranges.cluster(in, minDist = 15L)),
        sortedRows(Ranges.complement(in)),
        sortedRows(Ranges.complement(in, view = Some(vw))))
      finally {
        spark.conf.unset(GraftConf.SweepPosBucketWidth)
        spark.conf.set("spark.sql.shuffle.partitions", p0)
      }
    }
    val baseline = run(1L << 62, p0) // one bucket: the old per-contig sweep
    // sanity on the baseline itself: the spanning row swallows
    // everything through 100020 under minDist=15 (carry-decided)
    assert(baseline(1).count(r => r.head == "c1") == 2)
    for (width <- Seq(7L, 64L, 1L << 26); parts <- Seq("1", "7"))
      assert(run(width, parts) == baseline, s"width=$width parts=$parts")
    // the scale property the bucketing exists for: at small width the
    // sweep's window-stage groups exceed the contig count
    val groups = in.selectExpr("contig", "CAST(pos_start AS BIGINT) DIV 7")
      .distinct().count()
    assert(groups > 3)
  }

  test("complement edges: negative runs, views inside runs/gaps, empty views at touch") {
    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // contig cn has only negative-coordinate runs: the default
    // (0, i64::MAX) view is untouched by them and must emit whole
    // (via the tail pad in the direct-gap formulation)
    val in = Seq(
      ("cn", -100L, -50L), ("cn", -40L, -10L),
      ("ca", 10L, 20L), ("ca", 30L, 40L)).toDF("contig", "pos_start", "pos_end")
    assert(rowsOf(Ranges.complement(in)) == Set(
      ("cn", 0L, Long.MaxValue),
      ("ca", 0L, 10L), ("ca", 20L, 30L), ("ca", 40L, Long.MaxValue)))
    // explicit views: inside a run -> nothing; inside a gap -> whole;
    // absent contig -> whole
    val vw = Seq(("ca", 12L, 18L), ("ca", 22L, 28L), ("cx", 1L, 5L))
      .toDF("contig", "pos_start", "pos_end")
    assert(rowsOf(Ranges.complement(in, view = Some(vw))) == Set(
      ("ca", 22L, 28L), ("cx", 1L, 5L),
      // cn keeps its implicit default view
      ("cn", 0L, Long.MaxValue)))
    // interior-empty view at the touch point of two runs: under WEAK
    // the runs merge (point interior to one run -> nothing); under
    // STRICT they stay separate (point is a run boundary -> emit)
    val touch = Seq(("ct", 1L, 3L), ("ct", 3L, 5L))
      .toDF("contig", "pos_start", "pos_end")
    val pview = Seq(("ct", 3L, 3L)).toDF("contig", "pos_start", "pos_end")
    assert(rowsOf(Ranges.complement(touch, view = Some(pview))).isEmpty)
    assert(rowsOf(Ranges.complement(touch, view = Some(pview),
      op = FilterOp.Strict)) == Set(("ct", 3L, 3L)))
    // and an empty view strictly inside one run emits nothing either way
    val iview = Seq(("ct", 2L, 2L)).toDF("contig", "pos_start", "pos_end")
    assert(rowsOf(Ranges.complement(touch, view = Some(iview))).isEmpty)
    assert(rowsOf(Ranges.complement(touch, view = Some(iview),
      op = FilterOp.Strict)).isEmpty)
  }
}
