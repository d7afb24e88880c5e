package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.FilterOp
import graft.ranges.Ranges

/** Interval-algebra entries for the driver's correctness gate: each
  * query runs the library operator on [[Tables]]-derived interval
  * views; each oracle is the plain-SQL formulation from SURVEY.md §2
  * in DuckDB dialect over the same derivation ([[Oracle]]). */
object RangesQueries {
  import Oracle.{a, b, bs, mergedCte}

  private def A(s: SparkSession, d: String) = Tables.ivA(s, d)
  private def B(s: SparkSession, d: String) = Tables.ivB(s, d)

  /** The reference's shipped real-parquet coverage fixtures (read-only). */
  val GoldenRangesDir = Tables.referenceFixture("testing/data/ranges")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "f1_overlap_join" -> ((s, d) =>
      Ranges.overlap(A(s, d), B(s, d), mode = "join")),
    "f1_overlap_join_strict" -> ((s, d) =>
      Ranges.overlap(A(s, d), B(s, d), mode = "join", op = FilterOp.Strict)),
    "f1_overlap_left" -> ((s, d) =>
      Ranges.overlap(A(s, d), B(s, d), mode = "left")),
    "f1_overlap_left_distinct" -> ((s, d) =>
      Ranges.overlap(A(s, d), B(s, d), mode = "left_distinct")),
    "f2_count_overlaps" -> ((s, d) =>
      Ranges.countOverlaps(A(s, d), B(s, d))),
    "f3_coverage" -> ((s, d) =>
      Ranges.coverage(A(s, d), B(s, d))),
    "f4_nearest_k1" -> ((s, d) =>
      Ranges.nearest(A(s, d), Tables.ivBSample(s, d), tieBreakCol = Some("id"))),
    "f4_nearest_k3" -> ((s, d) =>
      Ranges.nearest(A(s, d), Tables.ivBSample(s, d), k = 3, tieBreakCol = Some("id"))),
    "f5_merge" -> ((s, d) => Ranges.merge(A(s, d))),
    "f5_merge_mindist" -> ((s, d) => Ranges.merge(A(s, d), minDist = 400L)),
    "f5_merge_strict" -> ((s, d) => Ranges.merge(A(s, d), op = FilterOp.Strict)),
    "f8_subtract_strict" -> ((s, d) =>
      Ranges.subtract(A(s, d), B(s, d), op = FilterOp.Strict)),
    "f6_cluster_mindist" -> ((s, d) => Ranges.cluster(A(s, d), minDist = 300L)),
    "f6_cluster" -> ((s, d) => Ranges.cluster(A(s, d))),
    "f7_complement" -> ((s, d) => Ranges.complement(A(s, d))),
    "f8_subtract" -> ((s, d) => Ranges.subtract(A(s, d), B(s, d))),
    "f2_count_overlaps_strict" -> ((s, d) =>
      Ranges.countOverlaps(A(s, d), B(s, d), op = FilterOp.Strict)),
    "f4_nearest_nooverlap" -> ((s, d) =>
      Ranges.nearest(A(s, d), Tables.ivBSample(s, d),
        includeOverlaps = false, tieBreakCol = Some("id"))),
    "f7_complement_view" -> ((s, d) =>
      Ranges.complement(A(s, d), view = Some(Tables.chromView(s, d)))),
    // 3-name override grammar (table_function.rs:67-189): same join on
    // renamed interval columns
    "f1_overlap_custom_cols" -> ((s, d) => {
      import graft.core.IntervalCols
      val a = A(s, d).withColumnRenamed("contig", "chromo")
        .withColumnRenamed("pos_start", "s").withColumnRenamed("pos_end", "e")
      Ranges.overlap(a, B(s, d),
        lcols = IntervalCols("chromo", "s", "e"))
    }),
    "f1_overlap_join_part" -> ((s, d) =>
      Ranges.overlapPartitioned(A(s, d), B(s, d))),
    "f2_count_part" -> ((s, d) =>
      Ranges.countOverlapsPartitioned(A(s, d), B(s, d))),
    "f3_coverage_part" -> ((s, d) =>
      Ranges.coveragePartitioned(A(s, d), B(s, d))),
    // The reference's only shipped REAL-data golden: coverage of the
    // fBrain-DS14718 exome reads over the exons table, FilterOp::Strict,
    // truth generated by polars-bio (438,694 rows;
    // tests/integration_test.rs:726-810). The oracle reads the
    // reference's expected_coverage.parquet directly — third-party
    // truth, not a self-authored SQL formulation.
    // Partitioned-mode escape hatches under the driver gate: same
    // oracle SQL as the CollectLeft forms, exercised directly
    "f4_nearest_part" -> ((s, d) =>
      graft.ranges.PartitionedJoin.nearestPartitioned(
        A(s, d), Tables.ivBSample(s, d), graft.core.IntervalCols.default,
        graft.core.IntervalCols.default, FilterOp.Weak, k = 1,
        includeOverlaps = true, computeDistance = true, tieBreakCol = "id")),
    "f8_subtract_part" -> ((s, d) =>
      graft.ranges.PartitionedJoin.subtractPartitioned(
        A(s, d), B(s, d), graft.core.IntervalCols.default,
        graft.core.IntervalCols.default, FilterOp.Weak)),
    "f3_coverage_golden" -> ((s, _) =>
      Ranges.coverage(
        s.read.parquet(GoldenRangesDir + "/fBrain-DS14718"),
        s.read.parquet(GoldenRangesDir + "/exons"),
        op = FilterOp.Strict)),
    // transparent SQL rewrite: plain range-join SQL planned as
    // BroadcastIntervalJoinExec by the injected strategy (J1-J3)
    "j1_sql_rewrite" -> ((s, d) => {
      graft.plans.Graft.enable(s)
      A(s, d).createOrReplaceTempView("graft_iv_a")
      B(s, d).createOrReplaceTempView("graft_iv_b")
      val df = s.sql(
        """SELECT a.contig AS left_contig, a.pos_start AS left_pos_start,
          |  a.pos_end AS left_pos_end, a.id AS left_id,
          |  b.contig AS right_contig, b.pos_start AS right_pos_start,
          |  b.pos_end AS right_pos_end, b.id AS right_id
          |FROM graft_iv_a a JOIN graft_iv_b b
          |ON a.contig = b.contig AND a.pos_start <= b.pos_end
          |   AND a.pos_end >= b.pos_start""".stripMargin)
      assert(df.queryExecution.executedPlan.toString.contains("BroadcastIntervalJoin"),
        "strategy did not fire")
      df
    }),
    // EXISTS / NOT EXISTS range-join SQL shapes planned as existence
    // probes (the reference generates RIGHT SEMI SQL for
    // overlap 'left_distinct' — overlap.rs:205-226 — and its exec
    // fast-paths RightSemi/RightAnti, interval_join.rs:1014-1024;
    // Spark's subquery rewrite produces the mirrored LeftSemi/LeftAnti
    // with the big side probing the indexed subquery side)
    "j1_sql_semi" -> ((s, d) => {
      graft.plans.Graft.enable(s)
      A(s, d).createOrReplaceTempView("graft_iv_a")
      B(s, d).createOrReplaceTempView("graft_iv_b")
      val df = s.sql(
        """SELECT a.contig, a.pos_start, a.pos_end, a.id FROM graft_iv_a a
          |WHERE EXISTS (SELECT 1 FROM graft_iv_b b
          | WHERE a.contig = b.contig AND a.pos_start <= b.pos_end
          |   AND a.pos_end >= b.pos_start)""".stripMargin)
      assert(df.queryExecution.executedPlan.toString.contains("BroadcastIntervalJoin"),
        "strategy did not fire for the semi shape")
      df
    }),
    "j1_sql_anti" -> ((s, d) => {
      graft.plans.Graft.enable(s)
      A(s, d).createOrReplaceTempView("graft_iv_a")
      B(s, d).createOrReplaceTempView("graft_iv_b")
      val df = s.sql(
        """SELECT a.contig, a.pos_start, a.pos_end, a.id FROM graft_iv_a a
          |WHERE NOT EXISTS (SELECT 1 FROM graft_iv_b b
          | WHERE a.contig = b.contig AND a.pos_start <= b.pos_end
          |   AND a.pos_end >= b.pos_start)""".stripMargin)
      assert(df.queryExecution.executedPlan.toString.contains("BroadcastIntervalJoin"),
        "strategy did not fire for the anti shape")
      df
    }),
    // Streaming interval probe through the batch gate: the probe side
    // runs as a REAL stream (parquet file source, AvailableNow,
    // memory sink) over the broadcast static index — stateless
    // map-only, so append mode needs no watermark. The oracle is the
    // batch count_overlaps SQL.
    "s8_stream_count_overlaps" -> ((s, d) => {
      val schema = Tables.load(s, d, "orders").schema
      val bStream = s.readStream.schema(schema)
        .option("pathGlobFilter", "orders.parquet").parquet(d)
        .selectExpr(
          "concat('c', CAST(o_orderkey % 4 AS STRING)) AS contig",
          "CAST((o_custkey * 48271) % 1000000 AS BIGINT) AS pos_start",
          "CAST((o_custkey * 48271) % 1000000 + (o_orderkey % 500) AS BIGINT) AS pos_end",
          "CAST(o_orderkey AS BIGINT) AS id")
      val out = graft.streaming.IntervalStreams.countOverlaps(
        bStream, Tables.ivA(s, d))
      // foreachBatch sink (round 18): the memory sink collected all
      // ~150k annotated rows to the driver per pass and retained them
      // for the session; the batch outputs stay distributed instead
      graft.streaming.StreamSink.runAvailableNow(out)
    }),
  )

  /** Shared weak-coverage oracle on the derived tables: the reference
    * get_coverage contribution per (probe, merged-run) pair. */
  private def coverageSql: String =
    s"WITH $a, $b, ${mergedCte("a", "m")} SELECT b.contig, b.pos_start, b.pos_end, b.id, " +
    "CAST(COALESCE(SUM(CASE WHEN m.contig IS NULL THEN NULL ELSE " +
    "GREATEST(1, LEAST(m.pos_end, b.pos_end + 1) - GREATEST(m.pos_start, b.pos_start - 1)) END), 0) AS BIGINT) AS coverage " +
    "FROM b LEFT JOIN m ON m.contig = b.contig AND m.pos_start <= b.pos_end AND m.pos_end >= b.pos_start " +
    "GROUP BY b.contig, b.pos_start, b.pos_end, b.id ORDER BY b.id"

  private val overlapPairsSelect =
    "SELECT a.contig AS left_contig, a.pos_start AS left_pos_start, " +
    "a.pos_end AS left_pos_end, a.id AS left_id, b.contig AS right_contig, " +
    "b.pos_start AS right_pos_start, b.pos_end AS right_pos_end, b.id AS right_id " +
    "FROM a JOIN b ON a.contig = b.contig"

  /** `(distance, start, end, id)` candidate ranking shared by the
    * nearest oracles (k-invariant: overlaps sort at distance 0, so a
    * global top-k equals the reference's overlaps-then-distance
    * phases). */
  private def nearestSql(k: Int): String =
    s"""WITH $a, $b, $bs, cand AS (
       | SELECT a.contig AS left_contig, a.pos_start AS left_pos_start,
       |  a.pos_end AS left_pos_end, a.id AS left_id,
       |  bs.contig AS right_contig, bs.pos_start AS right_pos_start,
       |  bs.pos_end AS right_pos_end, bs.id AS right_id,
       |  CASE WHEN a.pos_start IS NULL THEN NULL
       |   WHEN bs.pos_end < a.pos_start THEN a.pos_start - bs.pos_end
       |   WHEN a.pos_end < bs.pos_start THEN bs.pos_start - a.pos_end
       |   ELSE 0 END AS distance
       | FROM bs LEFT JOIN a ON a.contig = bs.contig)
       |SELECT left_contig, left_pos_start, left_pos_end, left_id,
       | right_contig, right_pos_start, right_pos_end, right_id, distance
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY right_id
       |  ORDER BY distance, left_pos_start, left_pos_end, left_id) AS rn FROM cand)
       |WHERE rn <= $k ORDER BY right_id, distance, left_id"""
      .stripMargin.replace("\n", " ")

  private def clusterSql(minDist: Long): String =
    s"""WITH $a, o AS (SELECT contig, pos_start, pos_end, id,
       | CASE WHEN MAX(pos_end) OVER w IS NULL THEN 1
       |  WHEN pos_start > MAX(pos_end) OVER w + $minDist THEN 1 ELSE 0 END AS f
       | FROM a WINDOW w AS (PARTITION BY contig ORDER BY pos_start, pos_end
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |i AS (SELECT contig, pos_start, pos_end, id, SUM(f) OVER (PARTITION BY contig
       |  ORDER BY pos_start, pos_end) AS g FROM o)
       |SELECT contig, pos_start, pos_end, id,
       | CAST(DENSE_RANK() OVER (ORDER BY contig, g) - 1 AS BIGINT) AS cluster,
       | MIN(pos_start) OVER (PARTITION BY contig, g) AS cluster_start,
       | MAX(pos_end) OVER (PARTITION BY contig, g) AS cluster_end
       |FROM i ORDER BY id""".stripMargin.replace("\n", " ")

  val oracleSql: Map[String, String] = Map(
    "f1_overlap_join" ->
      s"WITH $a, $b $overlapPairsSelect AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start ORDER BY left_id, right_id",
    "f1_overlap_join_strict" ->
      s"WITH $a, $b $overlapPairsSelect AND a.pos_start < b.pos_end AND a.pos_end > b.pos_start ORDER BY left_id, right_id",
    "f1_overlap_left" ->
      s"WITH $a, $b SELECT a.contig, a.pos_start, a.pos_end, a.id FROM a JOIN b ON a.contig = b.contig AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start ORDER BY a.id",
    "f1_overlap_left_distinct" ->
      s"WITH $a, $b SELECT contig, pos_start, pos_end, id FROM a WHERE EXISTS (SELECT 1 FROM b WHERE a.contig = b.contig AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start) ORDER BY id",
    "j1_sql_semi" ->
      s"WITH $a, $b SELECT contig, pos_start, pos_end, id FROM a WHERE EXISTS (SELECT 1 FROM b WHERE a.contig = b.contig AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start) ORDER BY id",
    "j1_sql_anti" ->
      s"WITH $a, $b SELECT contig, pos_start, pos_end, id FROM a WHERE NOT EXISTS (SELECT 1 FROM b WHERE a.contig = b.contig AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start) ORDER BY id",
    "f2_count_overlaps" ->
      s"WITH $a, $b SELECT b.contig, b.pos_start, b.pos_end, b.id, CAST(COUNT(a.contig) AS BIGINT) AS count FROM b LEFT JOIN a ON a.contig = b.contig AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start GROUP BY b.contig, b.pos_start, b.pos_end, b.id ORDER BY b.id",
    "f2_count_part" ->
      s"WITH $a, $b SELECT b.contig, b.pos_start, b.pos_end, b.id, CAST(COUNT(a.contig) AS BIGINT) AS count FROM b LEFT JOIN a ON a.contig = b.contig AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start GROUP BY b.contig, b.pos_start, b.pos_end, b.id ORDER BY b.id",
    // reference get_coverage formula (interval_tree.rs:145-152): per
    // overlapping merged run, max(1, min(qe+1, runEnd) - max(qs-1,
    // runStart)) — NOT plain covered length. CASE guard: DuckDB's
    // LEAST/GREATEST ignore NULLs, so an unmatched LEFT JOIN row would
    // otherwise contribute instead of NULL.
    "f3_coverage_part" -> coverageSql,
    "f3_coverage" -> coverageSql,
    "f3_coverage_golden" ->
      ("SELECT contig, pos_start, pos_end, coverage FROM read_parquet(" +
        s"'$GoldenRangesDir/expected_coverage.parquet') ORDER BY contig, pos_start, pos_end"),
    "j1_sql_rewrite" ->
      s"WITH $a, $b $overlapPairsSelect AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start ORDER BY left_id, right_id",
    "f1_overlap_join_part" ->
      s"WITH $a, $b $overlapPairsSelect AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start ORDER BY left_id, right_id",
    "f1_overlap_custom_cols" ->
      s"""WITH $a, $b SELECT a.contig AS left_chromo, a.pos_start AS left_s,
         | a.pos_end AS left_e, a.id AS left_id, b.contig AS right_contig,
         | b.pos_start AS right_pos_start, b.pos_end AS right_pos_end, b.id AS right_id
         |FROM a JOIN b ON a.contig = b.contig AND a.pos_start <= b.pos_end
         | AND a.pos_end >= b.pos_start ORDER BY left_id, right_id"""
        .stripMargin.replace("\n", " "),
    "f2_count_overlaps_strict" ->
      s"WITH $a, $b SELECT b.contig, b.pos_start, b.pos_end, b.id, CAST(COUNT(a.contig) AS BIGINT) AS count FROM b LEFT JOIN a ON a.contig = b.contig AND a.pos_start < b.pos_end AND a.pos_end > b.pos_start GROUP BY b.contig, b.pos_start, b.pos_end, b.id ORDER BY b.id",
    "f4_nearest_nooverlap" ->
      s"""WITH $a, $b, ${Oracle.bs}, cand AS (
         | SELECT a.contig AS left_contig, a.pos_start AS left_pos_start,
         |  a.pos_end AS left_pos_end, a.id AS left_id,
         |  bs.contig AS right_contig, bs.pos_start AS right_pos_start,
         |  bs.pos_end AS right_pos_end, bs.id AS right_id,
         |  CASE WHEN bs.pos_end < a.pos_start THEN a.pos_start - bs.pos_end
         |   WHEN a.pos_end < bs.pos_start THEN bs.pos_start - a.pos_end
         |   ELSE 0 END AS distance
         | FROM bs JOIN a ON a.contig = bs.contig)
         |SELECT left_contig, left_pos_start, left_pos_end, left_id,
         | right_contig, right_pos_start, right_pos_end, right_id, distance
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY right_id
         |  ORDER BY distance, left_pos_start, left_pos_end, left_id) AS rn
         |  FROM cand WHERE distance > 0)
         |WHERE rn <= 1 ORDER BY right_id""".stripMargin.replace("\n", " "),
    "f7_complement_view" ->
      s"""WITH $a, ${Oracle.chromView}, ${mergedCte("a", "m")},
         |ov AS (SELECT vw.contig, vs, ve, GREATEST(m.pos_start, vs) AS cs,
         |  LEAST(m.pos_end, ve) AS ce FROM vw JOIN m ON m.contig = vw.contig
         |  AND m.pos_end > vs AND m.pos_start < ve),
         |g AS (SELECT contig, vs, ve, COALESCE(LAG(ce) OVER (PARTITION BY contig, vs, ve
         |  ORDER BY cs), vs) AS gs, cs FROM ov)
         |SELECT contig, gs AS pos_start, cs AS pos_end FROM g WHERE cs > gs
         |UNION ALL
         |SELECT contig, MAX(ce) AS pos_start, ve AS pos_end FROM ov
         | GROUP BY contig, vs, ve HAVING MAX(ce) < ve
         |UNION ALL
         |SELECT vw.contig, vs AS pos_start, ve AS pos_end FROM vw WHERE NOT EXISTS
         | (SELECT 1 FROM m WHERE m.contig = vw.contig AND m.pos_end > vs AND m.pos_start < ve)
         |ORDER BY contig, pos_start""".stripMargin.replace("\n", " "),
    "f4_nearest_k1" -> nearestSql(1),
    "f4_nearest_k3" -> nearestSql(3),
    "f4_nearest_part" -> nearestSql(1),
    "f8_subtract_part" -> subtractSql(strict = false),
    "f5_merge" ->
      s"WITH $a, ${mergedCte("a", "m")} SELECT contig, pos_start, pos_end, n_intervals FROM m ORDER BY contig, pos_start",
    "f5_merge_mindist" ->
      s"WITH $a, ${mergedCte("a", "m", 400L)} SELECT contig, pos_start, pos_end, n_intervals FROM m ORDER BY contig, pos_start",
    "f5_merge_strict" ->
      s"WITH $a, ${mergedCte("a", "m", 0L, strict = true)} SELECT contig, pos_start, pos_end, n_intervals FROM m ORDER BY contig, pos_start",
    "f6_cluster" -> clusterSql(0L),
    "f6_cluster_mindist" -> clusterSql(300L),
    "f7_complement" ->
      s"""WITH $a, ${mergedCte("a", "m")},
         |g AS (SELECT contig, COALESCE(LAG(pos_end) OVER (PARTITION BY contig
         |  ORDER BY pos_start), 0) AS gs, pos_start AS ge FROM m)
         |SELECT contig, gs AS pos_start, ge AS pos_end FROM g WHERE ge > gs
         |UNION ALL
         |SELECT contig, MAX(pos_end) AS pos_start,
         | 9223372036854775807 AS pos_end FROM m GROUP BY contig
         |ORDER BY contig, pos_start""".stripMargin.replace("\n", " "),
    "f8_subtract" -> subtractSql(strict = false),
    "f8_subtract_strict" -> subtractSql(strict = true),
    "s8_stream_count_overlaps" ->
      s"WITH $a, $b SELECT b.contig, b.pos_start, b.pos_end, b.id, CAST(COUNT(a.contig) AS BIGINT) AS n_overlaps FROM b LEFT JOIN a ON a.contig = b.contig AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start GROUP BY b.contig, b.pos_start, b.pos_end, b.id ORDER BY b.id",
  )

  /** Shared subtract oracle; strict flips the overlap comparators AND
    * the right-side pre-merge convention (Ranges.subtract merges the
    * rights with the same op). Per-left-ROW semantics (subtract.rs
    * fragments every input row independently): a synthetic row key
    * keeps duplicate left rows producing one fragment set each. */
  private def subtractSql(strict: Boolean): String = {
    val (ge, le_) = if (strict) (">", "<") else (">=", "<=")
    s"""WITH $a, $b, ${mergedCte("b", "mb", 0L, strict)},
       |ar AS (SELECT a.*, row_number() OVER () AS rk FROM a),
       |ov AS (SELECT ar.contig, ar.pos_start, ar.pos_end, ar.id, ar.rk,
       |  mb.pos_start AS rs, mb.pos_end AS re FROM ar JOIN mb
       |  ON ar.contig = mb.contig AND mb.pos_end $ge ar.pos_start AND mb.pos_start $le_ ar.pos_end),
       |mids AS (SELECT contig, GREATEST(COALESCE(LAG(re) OVER (PARTITION BY rk
       |  ORDER BY rs), pos_start), pos_start) AS cs, rs, pos_start, pos_end, id FROM ov)
       |SELECT contig, cs AS pos_start, rs AS pos_end, id FROM mids WHERE rs > cs
       |UNION ALL
       |SELECT contig, MAX(re) AS pos_start, pos_end, id FROM ov
       | GROUP BY contig, pos_start, pos_end, id, rk HAVING MAX(re) < pos_end
       |UNION ALL
       |SELECT contig, pos_start, pos_end, id FROM ar WHERE NOT EXISTS
       | (SELECT 1 FROM mb WHERE mb.contig = ar.contig AND mb.pos_end $ge ar.pos_start
       |  AND mb.pos_start $le_ ar.pos_end)
       |ORDER BY id, pos_start""".stripMargin.replace("\n", " ")
  }
}
