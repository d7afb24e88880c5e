package graft

import graft.core.GraftConf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ranges.PartitionedJoin

/** Pins the `saltFactor=auto` DECISION (round 17, VERDICT r16 #1/#7)
  * from both sides at spec scale: S = 1 on the no-skew shapes that
  * regressed in round 16, S > 1 on the hot-contig shape the salt
  * lever exists for. The per-salt work floor is lowered via
  * `spark.bio.partitioned.saltMinSliceRows` so the shapes fit in a
  * unit test; `graft.Probe salt` pins the same decisions at the
  * default floor on real-scale fixtures. */
class SaltDecisionSuite extends SparkSpec {

  private def iv(rows: Seq[(String, Long)]): DataFrame = {
    import spark.implicits._
    rows.map { case (c, s) => (c, s, s + 100L, s) }
      .toDF("contig", "pos_start", "pos_end", "id")
  }

  private def withFloor[T](floor: Long)(f: => T): T = {
    spark.conf.set(GraftConf.SaltMinSliceRows, floor.toString)
    try f finally spark.conf.unset(GraftConf.SaltMinSliceRows)
  }

  private val evenSmall = iv((0 until 200).map(i => (s"c${i % 4}", i.toLong)))
  private val evenBig   = iv((0 until 8000).map(i => (s"c${i % 4}", i.toLong)))
  private val hotBig    = iv((0 until 8000).map(i =>
    (if (i % 16 == 0) s"c${i % 8}" else "hot", i.toLong)))

  test("f4 shape: small probe vs large build decides S=1 via the free bytes gate") {
    withFloor(100) {
      // probe bytes << build bytes: tier-1 ratio cap rejects salting
      // before any probe job runs
      assert(PartitionedJoin.decideSalt(evenBig, evenSmall, "contig") == 1)
    }
  }

  test("f8 shape: even contigs under the per-salt floor decide S=1") {
    // 2 contigs < 4 spec cores keeps the parallelism-deficit target
    // at 2, so the floor is what decides
    val even2 = iv((0 until 8000).map(i => (s"c${i % 2}", i.toLong)))
    withFloor(4000) {
      // ratio allows salting (8000 vs 200 rows) and the deficit target
      // is 2, but each contig's 4000 probe rows fill only ONE
      // floor-slice — the per-salt work floor decides S=1
      assert(PartitionedJoin.decideSalt(evenSmall, even2, "contig") == 1)
    }
    withFloor(1000) {
      // floor lowered: the same shape now salts to the deficit target
      assert(PartitionedJoin.decideSalt(evenSmall, even2, "contig") == 2)
    }
  }

  test("hot-contig shape decides S>1 and respects the ratio cap") {
    withFloor(100) {
      val s = PartitionedJoin.decideSalt(evenSmall, hotBig, "contig")
      assert(s > 1, s"hot contig must salt, got $s")
      assert(s <= 8)
    }
    // same shape but build as large as the probe: replication cannot
    // pay, ratio cap forces S=1
    withFloor(100) {
      assert(PartitionedJoin.decideSalt(hotBig, hotBig, "contig") == 1)
    }
  }

  test("partitions past the 64k-row sample cap are scaled by their row count") {
    // 3 partitions of 100k rows, 15 in 16 on one contig, at the
    // default 131,072-row floor: the hot contig holds 281,250 rows
    // (two floor slices), but its first-64k tallies sum to 184,320
    // (one slice). Scaling each partition's tally by its row count
    // reads the contig at its size; the deficit target is 4, so S = 2.
    val big = spark.range(0L, 300000L, 1L, 3)
      .select(when(col("id") % 16 === 0, lit("cold")).otherwise(lit("hot")).as("contig"),
        col("id").as("pos_start"), (col("id") + 100L).as("pos_end"), col("id"))
    assert(PartitionedJoin.decideSalt(evenSmall, big, "contig") == 2)
  }

  test("even spread with contigs >= parallelism decides S=1 at any size") {
    withFloor(10) {
      val many = iv((0 until 8000).map(i => (s"c${i % 64}", i.toLong)))
      assert(PartitionedJoin.decideSalt(evenSmall, many, "contig") == 1)
    }
  }

  test("stat-less (RDD-backed) hot probe still salts: sentinel skips the ratio cap") {
    withFloor(100) {
      // localCheckpoint replaces the plan with a LogicalRDD whose
      // leaves report spark.sql.defaultSizeInBytes — the tier-1
      // bytes ratio would read 1 and silently pin S=1 (VERDICT r17
      // #3); the sentinel check must fall through to the sample
      val rddProbe = hotBig.localCheckpoint()
      val s = PartitionedJoin.decideSalt(evenSmall, rddProbe, "contig")
      assert(s > 1, s"stat-less hot-contig probe must still salt, got $s")
      assert(s <= 8)
      // and a stat-less NO-SKEW probe still decides S=1 from the
      // sample itself — the sentinel only skips the free gate
      val rddEven = evenBig.localCheckpoint()
      assert(PartitionedJoin.decideSalt(evenSmall, rddEven, "contig") == 1)
    }
  }

  test("non-string contig keys sample through the cast (no ClassCastException)") {
    withFloor(100) {
      val hotInt = hotBig.withColumn("contig",
        when(col("contig") === "hot", 999).otherwise(substring(col("contig"), 2, 2).cast("int")))
      val s = PartitionedJoin.decideSalt(evenSmall, hotInt, "contig")
      assert(s > 1, s"int-keyed hot contig must salt, got $s")
    }
  }

  test("explicit saltFactor conf still overrides auto") {
    spark.conf.set(GraftConf.SaltFactor, "3")
    try {
      val ic = graft.core.IntervalCols.default
      val out = PartitionedJoin.nearestPartitioned(
        evenSmall, evenBig, ic, ic, graft.core.FilterOp.Weak, 1,
        includeOverlaps = true, computeDistance = false, tieBreakCol = "id")
      assert(out.count() == 8000)
    } finally spark.conf.unset(GraftConf.SaltFactor)
  }
}
