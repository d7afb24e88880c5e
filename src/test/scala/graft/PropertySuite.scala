package graft

import scala.util.Random
import org.apache.spark.sql.DataFrame
import graft.core.{FilterOp, GraftConf}
import graft.ranges.Ranges

/** Randomized interval-algebra properties against naive models, plus
  * partition-count invariance (BASELINE.md bar #2; the reference pins
  * identical results for target_partitions in {1,4,8,16}). Fixed seed
  * for reproducibility. */
class PropertySuite extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(42)
  private def randomIntervals(n: Int, contigs: Int, domain: Int, maxLen: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      val s = rnd.nextInt(domain).toLong
      ("c" + rnd.nextInt(contigs), s, s + rnd.nextInt(maxLen), i.toLong)
    }
    rows.toDF("contig", "pos_start", "pos_end", "id")
  }

  lazy val a: DataFrame = randomIntervals(300, 3, 5000, 200).cache()
  lazy val b: DataFrame = randomIntervals(120, 3, 5000, 300).cache()

  private def naiveMerged(rows: Seq[(String, Long, Long)]): Map[String, Seq[(Long, Long)]] =
    rows.groupBy(_._1).map { case (c, g) =>
      val sorted = g.map(x => (x._2, x._3)).sortBy(identity)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var cur = sorted.head
      sorted.tail.foreach { case (s, e) =>
        if (s <= cur._2) cur = (cur._1, math.max(cur._2, e))
        else { out += cur; cur = (s, e) }
      }
      out += cur
      c -> out.toSeq
    }

  test("property: partitioned grid-bucket join == broadcast index join") {
    val bcast = Ranges.overlap(a, b).select("left_id", "right_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (width <- Seq(64L, 1000L, 10000L)) {
      val part = Ranges.overlapPartitioned(a, b, bucketWidth = width)
        .select("left_id", "right_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(part == bcast, s"bucketWidth=$width")
    }
  }

  test("property: partitioned count/coverage == broadcast variants") {
    val cntB = Ranges.countOverlaps(a, b).select("id", "count")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val cntP = Ranges.countOverlapsPartitioned(a, b).select("id", "count")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cntP == cntB)
    val covB = Ranges.coverage(a, b).select("id", "coverage")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val covP = Ranges.coveragePartitioned(a, b).select("id", "coverage")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(covP == covB)
    // strict: the partitioned formula is op-uniform (incl. inverted
    // point-probe adjustment) — must agree with the broadcast index
    val covBS = Ranges.coverage(a, b, op = FilterOp.Strict).select("id", "coverage")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val covPS = Ranges.coveragePartitioned(a, b, op = FilterOp.Strict)
      .select("id", "coverage")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(covPS == covBS)
  }

  test("property: partitioned nearest/subtract == broadcast variants") {
    import graft.ranges.{IntervalJoin, PartitionedJoin}
    import graft.core.IntervalCols
    def rowsOf(df: DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toList).toSeq.sortBy(_.toString)
    val ic = IntervalCols.default
    // saltFactor > 1 splits each contig's probe side across salted
    // co-groups with the build side replicated — results must be
    // byte-identical to the un-salted and broadcast paths. "auto"
    // derives S from the probe side's observed per-contig counts.
    // Count, coverage and the left modes run the same co-partition.
    def partitioned(df: => DataFrame): Seq[Seq[Any]] =
      try {
        spark.conf.set(GraftConf.BroadcastBuildLimit, "0")
        rowsOf(df)
      } finally spark.conf.unset(GraftConf.BroadcastBuildLimit)
    for (saltF <- Seq("1", "3", "auto")) {
      spark.conf.set(GraftConf.SaltFactor, saltF)
      try {
        for (k <- Seq(1, 3); ov <- Seq(true, false)) {
          val bc = rowsOf(IntervalJoin.nearest(a, b, ic, ic, FilterOp.Weak, k,
            ov, computeDistance = true, tieBreakCol = Some("id")))
          val pt = rowsOf(PartitionedJoin.nearestPartitioned(a, b, ic, ic,
            FilterOp.Weak, k, ov, computeDistance = true, tieBreakCol = "id"))
          assert(pt == bc, s"nearest k=$k includeOverlaps=$ov salt=$saltF")
        }
        for (op <- Seq(FilterOp.Weak, FilterOp.Strict)) {
          val bc = rowsOf(IntervalJoin.subtractFragments(a, b, ic, ic, op))
          val pt = rowsOf(PartitionedJoin.subtractPartitioned(a, b, ic, ic, op))
          assert(pt == bc, s"subtract $op salt=$saltF")
          val cntB = rowsOf(Ranges.countOverlaps(a, b, op = op))
          assert(rowsOf(Ranges.countOverlapsPartitioned(a, b, op = op)) == cntB,
            s"count $op salt=$saltF")
          val covB = rowsOf(Ranges.coverage(a, b, op = op))
          assert(rowsOf(Ranges.coveragePartitioned(a, b, op = op)) == covB,
            s"coverage $op salt=$saltF")
          for (mode <- Seq("left", "left_distinct")) {
            val lB = rowsOf(Ranges.overlap(b, a, mode = mode, op = op))
            assert(partitioned(Ranges.overlap(b, a, mode = mode, op = op)) == lB,
              s"$mode $op salt=$saltF")
          }
        }
      } finally spark.conf.unset(GraftConf.SaltFactor)
    }
  }

  test("property: auto salt on a hot-contig fixture matches broadcast") {
    import graft.ranges.{IntervalJoin, PartitionedJoin}
    import graft.core.IntervalCols
    // 90% of probe rows on one contig. At spec scale the round-17
    // auto trigger (bytes-ratio gate + per-salt work floor) correctly
    // picks S = 1 — salting 500 rows never pays; SaltDecisionSuite
    // pins the S > 1 decision with a lowered floor and `graft.Probe salt`
    // pins it at real scale. This test pins RESULT equality of the
    // auto path against the broadcast path on a skewed fixture.
    val hotRows = (0 until 500).map { i =>
      val c = if (i % 10 == 0) "cold" else "hot"
      val s = rnd.nextInt(5000).toLong
      (c, s, s + rnd.nextInt(150), i.toLong)
    }
    val hot = hotRows.toDF("contig", "pos_start", "pos_end", "id")
    def rowsOf(df: DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toList).toSeq.sortBy(_.toString)
    val ic = IntervalCols.default
    assert(spark.conf.getOption(GraftConf.SaltFactor).isEmpty)
    val bc = rowsOf(IntervalJoin.nearest(b, hot, ic, ic, FilterOp.Weak, 2,
      true, computeDistance = true, tieBreakCol = Some("id")))
    val pt = rowsOf(PartitionedJoin.nearestPartitioned(b, hot, ic, ic,
      FilterOp.Weak, 2, true, computeDistance = true, tieBreakCol = "id"))
    assert(pt == bc)
    val subBc = rowsOf(IntervalJoin.subtractFragments(hot, b, ic, ic, FilterOp.Weak))
    val subPt = rowsOf(PartitionedJoin.subtractPartitioned(hot, b, ic, ic, FilterOp.Weak))
    assert(subPt == subBc)
  }

  test("property: merge is idempotent and covers the same basepairs") {
    val m1 = Ranges.merge(a)
    val m2 = Ranges.merge(m1)
    val r1 = m1.select("contig", "pos_start", "pos_end").collect().map(_.toSeq).toSet
    val r2 = m2.select("contig", "pos_start", "pos_end").collect().map(_.toSeq).toSet
    assert(r1 == r2)
    val naive = naiveMerged(a.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
    val got = m1.collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(got == naive.view.mapValues(_.sorted).toMap)
  }

  test("property: coverage(a,b) <= closed length of b + 1; count==0 iff coverage==0") {
    // the reference get_coverage formula tops out at len+1 (a run
    // covering the whole expanded query window), not at len
    val both = Ranges.coverage(a, Ranges.countOverlaps(a, b))
    both.collect().foreach { r =>
      val len = r.getLong(2) - r.getLong(1) + 1
      val cnt = r.getLong(4); val cov = r.getLong(5)
      assert(cov <= len + 1)
      assert((cnt == 0) == (cov == 0))
    }
  }

  test("property: subtract removes exactly the covered basepairs (touching coords)") {
    // half-open interpretation: |subtract(a,b)| + |a ∩ merged(b)| == |a|
    val rows = a.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val mb = naiveMerged(b.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
    val frag = Ranges.subtract(a, b).collect()
      .map(r => (r.getLong(3), r.getLong(2) - r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    rows.foreach { case (c, s, e, id) =>
      val covered = mb.getOrElse(c, Nil).map { case (ms, me) =>
        math.max(0L, math.min(me, e) - math.max(ms, s))
      }.sum
      val kept = frag.getOrElse(id, 0L)
      assert(kept + covered == e - s,
        s"id=$id [$s,$e] covered=$covered kept=$kept")
    }
  }

  test("property: complement ∪ merged tiles each contig's [0, MaxValue) exactly") {
    val m = Ranges.merge(a).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val comp = Ranges.complement(a).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    (m ++ comp).groupBy(_._1).foreach { case (_, tiles) =>
      val sorted = tiles.map(t => (t._2, t._3)).sortBy(identity).toSeq
      assert(sorted.head._1 == 0L)
      assert(sorted.last._2 == Long.MaxValue)
      sorted.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) => assert(e1 == s2, "tiles must touch exactly")
        case _ =>
      }
    }
  }

  test("invariance: operator outputs identical across shuffle partition counts") {
    def snapshot(): Seq[Seq[Seq[Any]]] = Seq(
      Ranges.merge(a).orderBy("contig", "pos_start").collect().map(_.toSeq).toSeq,
      Ranges.cluster(a).orderBy("id").collect().map(_.toSeq).toSeq,
      Ranges.subtract(a, b).orderBy("id", "pos_start").collect().map(_.toSeq).toSeq,
      Ranges.countOverlaps(a, b).orderBy("id").collect().map(_.toSeq).toSeq,
      Ranges.overlapPartitioned(a, b).orderBy("left_id", "right_id").collect().map(_.toSeq).toSeq,
    )
    val base = snapshot()
    val p0 = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (p <- Seq("1", "7")) {
        spark.conf.set("spark.sql.shuffle.partitions", p)
        assert(snapshot() == base, s"partitions=$p")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", p0)
  }

  test("invariance: dup clustering across partition counts") {
    val pairs = {
      val r = new Random(7)
      (0 until 60).map(_ => { val x = r.nextInt(40); (x.toLong, (x + 1 + r.nextInt(5)).toLong) })
        .distinct.toDF("id1", "id2")
    }
    def clusters(): Seq[Seq[Any]] =
      graft.dedup.Dedup.duplicateClusters(pairs)
        .orderBy("id").collect().map(_.toSeq).toSeq
    val base = clusters()
    val p0 = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (p <- Seq("1", "7")) {
        spark.conf.set("spark.sql.shuffle.partitions", p)
        assert(clusters() == base, s"clusters partitions=$p")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", p0)
  }

  test("property: depth == naive pileup for random reads, any bucket width") {
    // random multi-segment CIGARs against a per-position counting
    // model, swept across prefix-sum bucket widths AND shuffle
    // partition counts — the boundary fix-up must be invisible at
    // every slicing
    val r = new Random(11)
    val reads = (0 until 200).map { _ =>
      val nOps = 1 + r.nextInt(3)
      val cigar = (0 until nOps).map { k =>
        val len = 1 + r.nextInt(40)
        val op = if (k % 2 == 0) "M" else Seq("D", "N", "I")(r.nextInt(3))
        s"$len$op"
      }.mkString + "1M" // ensure it ends covering
      ("c" + r.nextInt(3), 1 + r.nextInt(900), 0, cigar, 60)
    }.toDF("chrom", "start", "flags", "cigar", "mapping_quality")
    // naive model: count coverage per position from the CIGAR walker
    val naive = reads.collect().flatMap { row =>
      graft.pileup.Cigar.coveredSegments(row.getInt(1).toLong, row.getString(3))
        .flatMap { case (s, e) => (s until e).map(p => (row.getString(0), p)) }
    }.groupBy(identity).map { case ((c, p), xs) => (c, p, xs.length) }.toSet
    val p0 = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (width <- Seq(16L, 128L, 1L << 62); p <- Seq("1", "7")) {
        spark.conf.set("spark.sql.shuffle.partitions", p)
        spark.conf.set(GraftConf.DepthPosBucketWidth, width.toString)
        val got = graft.pileup.Pileup.depthPerBase(reads).collect()
          .map(r2 => (r2.getString(0), r2.getLong(1), r2.getInt(2))).toSet
        assert(got == naive, s"width=$width partitions=$p")
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", p0)
      spark.conf.unset(GraftConf.DepthPosBucketWidth)
    }
  }

  test("invariance: depth -> overlapPartitioned target depth across AQE and join strategy") {
    import org.apache.spark.sql.functions.{greatest, least, sum}
    // one-file parquet inputs: the reads scan is widened, the depth
    // output keeps whatever partitioning its shuffles (and AQE) gave it
    val r = new Random(13)
    val readRows = (0 until 300).map { _ =>
      val cigar = s"${1 + r.nextInt(60)}M${1 + r.nextInt(30)}${Seq("D", "N", "I")(r.nextInt(3))}${1 + r.nextInt(60)}M"
      ("c" + r.nextInt(2), 1 + r.nextInt(3000), 0, cigar, 60)
    }
    val targetRows = (0 until 60).map { i =>
      val s = 1L + r.nextInt(3200)
      ("c" + r.nextInt(2), s, s + r.nextInt(400), i.toLong)
    }
    val dir = tempDir("depth_targets")
    readRows.toDF("chrom", "start", "flags", "cigar", "mapping_quality")
      .coalesce(1).write.parquet(dir + "/reads")
    targetRows.toDF("contig", "pos_start", "pos_end", "id").coalesce(1).write.parquet(dir + "/targets")
    val reads = spark.read.parquet(dir + "/reads")
    val targets = spark.read.parquet(dir + "/targets")
    // naive model: per-base depth from the CIGAR walker, summed over
    // each target's closed range; targets no read touches are absent
    val depthAt = readRows.flatMap { case (c, start, _, cigar, _) =>
      graft.pileup.Cigar.coveredSegments(start.toLong, cigar)
        .flatMap { case (s, e) => (s until e).map(p => (c, p)) }
    }.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val naive = targetRows.map { case (c, s, e, id) =>
      id -> (s to e).map(p => depthAt.getOrElse((c, p), 0L)).sum
    }.filter(_._2 > 0).toMap
    def covered(): Map[Long, Long] =
      Ranges.overlapPartitioned(graft.pileup.Pileup.depth(reads), targets)
        .groupBy($"right_id")
        .agg(sum($"left_coverage".cast("long") *
          (least($"left_pos_end", $"right_pos_end") -
            greatest($"left_pos_start", $"right_pos_start") + 1)))
        .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    graft.plans.Graft.enable(spark)
    val keys = Seq("spark.sql.adaptive.enabled", GraftConf.IntervalJoinEnabled)
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      for (aqe <- Seq("true", "false"); ij <- Seq("true", "false")) {
        spark.conf.set(keys(0), aqe)
        spark.conf.set(keys(1), ij)
        val plan = Ranges.overlapPartitioned(graft.pileup.Pileup.depth(reads), targets)
          .queryExecution.executedPlan.toString
        assert(plan.contains("BroadcastIntervalJoin") == (ij == "true"),
          s"aqe=$aqe intervalJoin=$ij planned:\n$plan")
        assert(covered() == naive, s"aqe=$aqe intervalJoin=$ij")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // NOTE: the integrated annotate pipeline's invariance is covered by
  // the driver gate itself (Verify runs at a different shuffle-
  // partition count than Bench and both hash-match the same oracle);
  // re-running the full fused plan three times inside the unit suite
  // proved too heavy for local[4].
}
