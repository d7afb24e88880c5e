package graft

import graft.core.FilterOp
import graft.ranges.Ranges

/** The one third-party fidelity anchor available in the sandbox: the
  * reference ships REAL exome parquet (fBrain-DS14718 reads, exons
  * targets) plus a 438,694-row expected coverage table generated by
  * polars-bio, backing `test_coverage_parquet`
  * (reference tests/integration_test.rs:726-810: coverage with
  * FilterOp::Strict, row count + exact coverage-value equality).
  * This spec reproduces that comparison row-for-row in Spark. */
class CoverageGoldenSuite extends SparkSpec {

  private val dir = RangesQueries.GoldenRangesDir

  test("strict coverage reproduces the reference's polars-bio golden exactly") {
    assume(new java.io.File(dir).isDirectory, Tables.fixtureAbsent(dir))
    val fbrain = spark.read.parquet(s"$dir/fBrain-DS14718")
    val exons = spark.read.parquet(s"$dir/exons")
    val got = Ranges.coverage(fbrain, exons, op = FilterOp.Strict)
    val expected = spark.read.parquet(s"$dir/expected_coverage.parquet")

    assert(got.count() == 438694L, "row count must match the reference gate")

    // multiset equality over all four columns (exons holds duplicate
    // rows, so compare (row, multiplicity) maps)
    def multiset(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Long] =
      df.groupBy("contig", "pos_start", "pos_end", "coverage").count()
        .collect().map(r => (r.toSeq.init, r.getLong(4))).toMap
    val g = multiset(got.selectExpr("contig", "pos_start", "pos_end", "CAST(coverage AS BIGINT) AS coverage"))
    val e = multiset(expected)
    val onlyGot = g.keySet -- e.keySet
    val onlyExp = e.keySet -- g.keySet
    assert(onlyGot.isEmpty && onlyExp.isEmpty,
      s"value groups diverge; got-only=${onlyGot.take(3)} exp-only=${onlyExp.take(3)}")
    assert(g == e, "multiplicities diverge")
  }

  test("cluster over the real exons parquet reproduces the reference's issue-373 boundaries") {
    assume(new java.io.File(dir).isDirectory, Tables.fixtureAbsent(dir))
    // reference integration_test.rs
    // test_cluster_exons_issue_373_target_partitions_preserve_boundaries:
    // five probe intervals with PINNED cluster bounds, invariant under
    // the engine's parallelism (the issue was partition boundaries
    // splitting clusters)
    import org.apache.spark.sql.functions._
    val exons = spark.read.parquet(s"$dir/exons")
    val probes = Set(
      ("chr11", 62379907L, 62380237L),
      ("chr11", 62380212L, 62381343L),
      ("chr12", 53776037L, 53777406L),
      ("chr15", 89074843L, 89074946L),
      ("chr18", 52946781L, 52946887L))
    val expected = Map(
      ("chr11", 62379907L, 62380237L) -> (62379907L, 62381343L),
      ("chr11", 62380212L, 62381343L) -> (62379907L, 62381343L),
      ("chr12", 53776037L, 53777406L) -> (53775893L, 53777406L),
      ("chr15", 89074843L, 89074946L) -> (89073853L, 89074946L),
      ("chr18", 52946781L, 52946887L) -> (52946781L, 52946905L))
    val p0 = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (parts <- Seq("1", "4")) {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        val rows = Ranges.cluster(exons)
          .select(col("contig"), col("pos_start").cast("long"),
            col("pos_end").cast("long"), col("cluster_start"), col("cluster_end"))
          .collect()
          .map(r => ((r.getString(0), r.getLong(1), r.getLong(2)),
            (r.getLong(3), r.getLong(4))))
          .filter { case (k, _) => probes.contains(k) }
        // chr18's probe row appears 11 times in exons — every copy
        // must carry the same bounds
        assert(rows.count(_._1 == ("chr18", 52946781L, 52946887L)) == 11)
        for ((k, b) <- rows)
          assert(b == expected(k), s"bounds for $k at partitions=$parts")
        assert(rows.map(_._1).toSet == probes)
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", p0)
  }
}
