package graft

import graft.core.GraftConf
import graft.plans.Graft

/** Transparent SQL interval-join rewrite (planner strategy). */
class ExtensionSuite extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    Graft.enable(spark)
    Seq(
      ("chr1", 150L, 250L, 0L), ("chr1", 190L, 300L, 1L), ("chr1", 300L, 501L, 2L),
      ("chr1", 500L, 700L, 3L), ("chr1", 15000L, 15000L, 4L), ("chr1", 22000L, 22300L, 5L),
      ("chr2", 150L, 250L, 6L),
    ).toDF("contig", "pos_start", "pos_end", "id").createOrReplaceTempView("reads_v")
    Seq(
      ("chr1", 100L, 190L, 100L), ("chr1", 200L, 290L, 101L), ("chr1", 400L, 600L, 102L),
      ("chr1", 10000L, 20000L, 103L), ("chr1", 22100L, 22100L, 104L),
      ("chr2", 100L, 190L, 105L),
    ).toDF("contig", "pos_start", "pos_end", "id").createOrReplaceTempView("targets_v")
  }

  private val joinSql =
    """SELECT a.id AS aid, b.id AS bid FROM reads_v a JOIN targets_v b
      |ON a.contig = b.contig AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start"""
      .stripMargin

  test("SQL range join is planned as BroadcastIntervalJoinExec") {
    val df = spark.sql(joinSql)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastIntervalJoin"), plan)
  }

  test("rewritten join returns the same rows as the stock plan") {
    val df = spark.sql(joinSql)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set(GraftConf.IntervalJoinEnabled, "false")
    val stock = try {
      val d = spark.sql(joinSql)
      assert(!d.queryExecution.executedPlan.toString.contains("BroadcastIntervalJoin"))
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    } finally spark.conf.set(GraftConf.IntervalJoinEnabled, "true")
    assert(got == stock && got.nonEmpty)
  }

  test("strict comparators fold into the probe bounds") {
    // a.pos_start < b.pos_end AND a.pos_end > b.pos_start
    val df = spark.sql(
      """SELECT a.id AS aid, b.id AS bid FROM reads_v a JOIN targets_v b
        |ON a.contig = b.contig AND a.pos_start < b.pos_end AND a.pos_end > b.pos_start"""
        .stripMargin)
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastIntervalJoin"))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // strict drops the touching pair (2,102)? no: [300,501]x[400,600]
    // overlap strictly; point-in-range [15000,15000]x[10000,20000]:
    // 15000 < 20000 && 15000 > 10000 -> kept; boundary case
    // [22000,22300]x[22100,22100]: 22000 < 22100 && 22300 > 22100 -> kept
    val naive = for {
      a <- Seq(("chr1",150L,250L,0L),("chr1",190L,300L,1L),("chr1",300L,501L,2L),
        ("chr1",500L,700L,3L),("chr1",15000L,15000L,4L),("chr1",22000L,22300L,5L),
        ("chr2",150L,250L,6L))
      b <- Seq(("chr1",100L,190L,100L),("chr1",200L,290L,101L),("chr1",400L,600L,102L),
        ("chr1",10000L,20000L,103L),("chr1",22100L,22100L,104L),("chr2",100L,190L,105L))
      if a._1 == b._1 && a._2 < b._3 && a._3 > b._2
    } yield (a._4, b._4)
    assert(got == naive.toSet)
  }

  test("residual conjuncts survive as a filter on top") {
    val df = spark.sql(joinSql + " AND a.id + b.id > 100")
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastIntervalJoin"))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.forall { case (a, b) => a + b > 100 })
    assert(got.contains((5L, 104L)) && !got.contains((0L, 100L)))
  }

  test("range-only join (no equi key) uses the single-bucket fallback") {
    val df = spark.sql(
      """SELECT a.id AS aid, b.id AS bid FROM reads_v a JOIN targets_v b
        |ON a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start""".stripMargin)
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastIntervalJoin"))
    // cross-contig pairs now allowed: chr2 read [150,250] x chr1 target [100,190]
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((6L, 100L)))
  }
}
