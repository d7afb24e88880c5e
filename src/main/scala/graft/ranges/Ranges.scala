package graft.ranges

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{CarryBroadcast, FilterOp, GraftConf, IntervalCols}

/** Public interval-algebra surface — the Spark re-expression of the
  * reference's `register_ranges_functions` UDTF family
  * (ranges/src/table_function.rs:835-895, SURVEY.md §2.4).
  *
  * Sweep-style operators (merge / cluster / complement / subtract) are
  * deliberately NOT ports of the reference's collect-then-sweep streams
  * (merge.rs:282-349, cluster.rs, complement.rs, subtract.rs): they are
  * window-function formulations that Catalyst plans as shuffled,
  * spillable, partition-parallel aggregations — the reference's
  * `ClusterIdCoordinator` cross-partition barrier (cluster.rs:305-447)
  * falls out of a tiny per-contig offset join instead. Probe-style
  * operators (overlap left/left_distinct, count, coverage, nearest,
  * subtract) run one index kernel per mode (graft.index) on either of
  * two paths: broadcast per-contig indexes ([[IntervalJoin]]) when the
  * build side fits `spark.bio.broadcast_build_limit`, else the same
  * kernel per contig co-partition ([[PartitionedJoin]], one contig's
  * build rows per salt on a task). Only the pair-emitting `join` mode
  * has a grid co-shuffle of its own ([[overlapPartitioned]]).
  */
object Ranges {

  /** Carry the input frame's coordinate system onto the output's
    * start-like field, made EXPLICIT (the reference stamps
    * `bio.coordinate_system_zero_based` on every provider output
    * schema — pileup/src/schema.rs:22-44, coordinate.rs:18 — so a
    * chained pipeline never has to guess; these operators compute in
    * whatever system their input uses and never convert). */
  private def carryCoord(out: DataFrame, in: DataFrame,
      inStart: String, outStart: String): DataFrame =
    graft.core.Coord.mark(out,
      graft.core.Coord.isZeroBased(in, inStart), outStart)

  /** F1 `overlap`: mode ∈ join | left | left_distinct
    * (overlap.rs:154-226). `join` output = `left_*` ++ `right_*`.
    *
    * Build-side size guard ([[BuildGuard]],
    * `spark.bio.broadcast_build_limit`): when the side that would be
    * collected+broadcast exceeds the cap, the call silently takes a
    * partitioned path instead — same rows, no driver collect —
    * mirroring the reference planner's CollectLeft-vs-Partitioned
    * choice (interval_join.rs:394-413): the grid join for `join`, the
    * contig co-partition for `left`/`left_distinct`. Those two emit
    * each left row once per overlapping right row, or once if any:
    * both paths compute the per-row count `_n` and share the filter
    * and the repeat after it. */
  def overlap(
      left: DataFrame, right: DataFrame,
      lcols: IntervalCols = IntervalCols.default,
      rcols: IntervalCols = IntervalCols.default,
      mode: String = "join",
      op: FilterOp = FilterOp.Weak): DataFrame = mode match {
    case "join" =>
      // the strategy indexes whichever side fits (left preferred);
      // with neither under the cap the stock plan would be a
      // per-contig cross product — take the co-shuffle path instead
      if (BuildGuard.fits(left) || BuildGuard.fits(right))
        overlapViaStrategy(left, right, lcols, rcols, op)
      else overlapPartitioned(left, right, lcols, rcols, op)
    case "left" | "left_distinct" =>
      val hits = annotate(right, left, rcols, lcols, op, coverage = false, "_n")
        .where(col("_n") > 0)
      val rows =
        if (mode == "left") hits.withColumn("_rep", explode(sequence(lit(1L), col("_n"))))
        else hits
      rows.select(left.columns.toSeq.map(col): _*)
    case other => throw new IllegalArgumentException(s"unknown overlap mode '$other'")
  }

  /** "join" mode through the planner strategy: a plain relational join
    * whose interval condition the injected IntervalJoinStrategy plans
    * as BroadcastIntervalJoinExec (one imperative probe loop over the
    * [[IntervalBuild]] index, no explode/array materialization —
    * measured ~2x the expression+explode formulation it replaced at
    * sf0.1). Should the strategy decline (oversized build stats, exotic
    * condition), Spark's stock planning still produces the correct
    * join — the rewrite is purely a physical-plan acceleration,
    * identical row set either way, nulls included (SQL's null rule). */
  def overlapViaStrategy(
      left: DataFrame, right: DataFrame,
      lcols: IntervalCols = IntervalCols.default,
      rcols: IntervalCols = IntervalCols.default,
      op: FilterOp = FilterOp.Weak): DataFrame = {
    graft.plans.Graft.enable(left.sparkSession)
    val l = left.select(left.columns.toSeq.map(c => col(c).as("left_" + c)): _*)
    val r = right.select(right.columns.toSeq.map(c => col(c).as("right_" + c)): _*)
    val ls = col("left_" + lcols.start); val le = col("left_" + lcols.end)
    val rs = col("right_" + rcols.start); val re = col("right_" + rcols.end)
    val range = if (op.isStrict) ls < re && le > rs else ls <= re && le >= rs
    l.join(r, col("left_" + lcols.contig) === col("right_" + rcols.contig) && range)
  }

  /** Partitioned (co-shuffle) overlap join — the scale path when BOTH
    * sides are too large to broadcast (the reference's Partitioned
    * mode, interval_join.rs:394-413, re-expressed relationally):
    * intervals are exploded onto a fixed-width bucket grid and joined
    * on (contig, bucket) equality — a plain shuffled equi-join that
    * Catalyst plans, AQE re-balances, and Tungsten codegens; the range
    * predicate filters within buckets and a canonical-bucket condition
    * (`floor(max(starts)/W) = bucket`) deduplicates pairs spanning
    * several buckets. No driver collect, no broadcast, no memory cap —
    * shuffle volume scales with `intervalLength/bucketWidth`.
    *
    * Output identical to `overlap(mode="join")`: `left_*` ++ `right_*`. */
  def overlapPartitioned(
      left: DataFrame, right: DataFrame,
      lcols: IntervalCols = IntervalCols.default,
      rcols: IntervalCols = IntervalCols.default,
      op: FilterOp = FilterOp.Weak,
      // Tune toward the typical interval length: too-coarse buckets
      // turn each bucket into a cross product (W=5000 over ~150bp
      // intervals cost 4.5x at sf0.1), too-fine buckets multiply rows
      // by length/W.
      bucketWidth: Long = 1000L): DataFrame = {
    val w = bucketWidth
    def bucketed(df: DataFrame, cols: IntervalCols, prefix: String): DataFrame =
      graft.core.Parallelism.ensure(df)
        .select(df.columns.toSeq.map(c => col(c).as(prefix + c)): _*)
        .withColumn("_bucket", explode(sequence(
          floor(col(prefix + cols.start).cast("long") / w).cast("long"),
          floor(col(prefix + cols.end).cast("long") / w).cast("long"))))
    // The join condition also carries the interval predicate, so with
    // IntervalJoinStrategy installed and either exploded side under
    // spark.bio.broadcast_build_limit, the grid join plans as a
    // BroadcastIntervalJoinExec (the bucket equality becomes a residual
    // on the index probe) and the hints below play no part. Otherwise
    // SHUFFLE_HASH on both sides (guide-class join choice): the grid
    // join is a plain equi-join on (contig, bucket) whose sort order
    // nothing downstream reuses — sort-merge paid two full sorts of the
    // exploded bucket rows (~15-20 executor-seconds at sf0.1). With
    // both sides hinted the planner builds the smaller side's hash
    // table per partition; bucket fan-out bounds the per-key group, and
    // AQE skew-split still applies to shuffled hash joins.
    val a = bucketed(left, lcols, "left_").hint("shuffle_hash")
    val b = bucketed(right, rcols, "right_").hint("shuffle_hash")
    val ls = col("left_" + lcols.start); val le = col("left_" + lcols.end)
    val rs = col("right_" + rcols.start); val re = col("right_" + rcols.end)
    val range =
      if (op.isStrict) ls < re && le > rs
      else ls <= re && le >= rs
    a.join(b,
        col("left_" + lcols.contig) === col("right_" + rcols.contig) &&
        a("_bucket") === b("_bucket") &&
        range &&
        floor(greatest(ls, rs).cast("long") / w).cast("long") === a("_bucket"))
      .drop("_bucket")
  }

  /** Probe rows + one Long column `outName`: the overlap count (or
    * the coverage formula) of `build`'s intervals per probe row, by one
    * [[graft.index.ScalarIndex]] kernel — broadcast when the build side
    * fits the cap ([[IntervalJoin.annotateCount]]), else per contig
    * co-partition ([[PartitionedJoin.annotateCount]]). */
  private def annotate(
      build: DataFrame, probe: DataFrame,
      bcols: IntervalCols, pcols: IntervalCols,
      op: FilterOp, coverage: Boolean, outName: String): DataFrame =
    if (BuildGuard.fits(build))
      IntervalJoin.annotateCount(build, probe, bcols, pcols, op, coverage, outName)
    else PartitionedJoin.annotateCount(build, probe, bcols, pcols, op, coverage, outName)

  /** F2 `count_overlaps`: right rows + `count` = number of left
    * intervals overlapping each (count_overlaps.rs:60-66). An over-cap
    * left side fails over to [[countOverlapsPartitioned]]. */
  def countOverlaps(
      left: DataFrame, right: DataFrame,
      lcols: IntervalCols = IntervalCols.default,
      rcols: IntervalCols = IntervalCols.default,
      op: FilterOp = FilterOp.Weak): DataFrame =
    annotate(left, right, lcols, rcols, op, coverage = false, "count")

  /** F2 on the contig co-partition whatever the left side's size — the
    * scale path [[countOverlaps]] takes past the cap, with the same
    * counter ([[graft.index.CountOverlapIndex]]) and the same rows. */
  def countOverlapsPartitioned(
      left: DataFrame, right: DataFrame,
      lcols: IntervalCols = IntervalCols.default,
      rcols: IntervalCols = IntervalCols.default,
      op: FilterOp = FilterOp.Weak): DataFrame =
    PartitionedJoin.annotateCount(left, right, lcols, rcols, op, coverage = false, "count")

  /** F3 `coverage`: right rows + `coverage` per the reference's
    * `get_coverage` formula (see [[graft.index.CoverageIndex]] — NOT
    * plain covered-basepair length). An over-cap left side fails over
    * to [[coveragePartitioned]]. */
  def coverage(
      left: DataFrame, right: DataFrame,
      lcols: IntervalCols = IntervalCols.default,
      rcols: IntervalCols = IntervalCols.default,
      op: FilterOp = FilterOp.Weak): DataFrame =
    annotate(left, right, lcols, rcols, op, coverage = true, "coverage")

  /** F3 on the contig co-partition whatever the left side's size — the
    * scale path [[coverage]] takes past the cap, with the same
    * [[graft.index.CoverageIndex]] and the same rows. */
  def coveragePartitioned(
      left: DataFrame, right: DataFrame,
      lcols: IntervalCols = IntervalCols.default,
      rcols: IntervalCols = IntervalCols.default,
      op: FilterOp = FilterOp.Weak): DataFrame =
    PartitionedJoin.annotateCount(left, right, lcols, rcols, op, coverage = true, "coverage")

  /** F4 `nearest` — see [[IntervalJoin.nearest]]. An over-cap build
    * side fails over to the contig co-shuffle Partitioned mode
    * ([[PartitionedJoin.nearestPartitioned]], the reference's
    * HashPartitioned distribution) when a `tieBreakCol` provides a
    * deterministic rank; without one the partitioned result would be
    * shuffle-order-dependent, so the guard still fails loudly. */
  def nearest(
      left: DataFrame, right: DataFrame,
      lcols: IntervalCols = IntervalCols.default,
      rcols: IntervalCols = IntervalCols.default,
      k: Int = 1,
      includeOverlaps: Boolean = true,
      computeDistance: Boolean = true,
      op: FilterOp = FilterOp.Weak,
      tieBreakCol: Option[String] = None): DataFrame =
    if (BuildGuard.fits(left))
      IntervalJoin.nearest(left, right, lcols, rcols, op, k, includeOverlaps,
        computeDistance, tieBreakCol)
    else tieBreakCol match {
      case Some(t) =>
        PartitionedJoin.nearestPartitioned(left, right, lcols, rcols, op, k,
          includeOverlaps, computeDistance, t)
      case None =>
        BuildGuard.requireFits(left, "nearest",
          "provide a tieBreakCol for the deterministic partitioned path, " +
            "pre-filter the build side, or raise the limit")
        throw new IllegalStateException("unreachable")
    }

  /** See [[graft.core.SharedExchange]] — the multi-consumer
    * materialization barrier the sweeps hang their hull frames on. */
  private def sharedExchange(df: DataFrame, keys: Column*): DataFrame =
    graft.core.SharedExchange(df, keys: _*)

  /** Saturating `prevMax + minDist` island boundary, matching the
    * reference's `cur_end.saturating_add(min_dist)` (merge.rs:291,
    * cluster.rs:457) — its test pins intervals at the Int64 ceiling
    * clustering TOGETHER under any positive min_dist
    * (integration_test.rs test_cluster_udtf_large_min_dist_no_
    * overflow); Spark's non-ANSI Long addition would silently wrap
    * negative and split them instead. */
  private def saturatingBoundary(prevMax: Column, minDist: Long): Column =
    if (minDist == 0L) prevMax
    else if (minDist > 0L)
      when(prevMax > lit(Long.MaxValue - minDist), lit(Long.MaxValue))
        .otherwise(prevMax + lit(minDist))
    else
      when(prevMax < lit(Long.MinValue - minDist), lit(Long.MinValue))
        .otherwise(prevMax + lit(minDist))

  /** Bucket-LOCAL island sweep: df + `_bkt` + `_lgid` (1-based island
    * id within each `(contig, start DIV width)` slice) in ONE window
    * pass with no cross-bucket dependency — the full-data half of the
    * hierarchical sweep. Cross-bucket chaining happens on the
    * collapsed hull frame ([[globalIslands]]): connected components
    * are closed under hierarchical grouping, so chaining island HULLS
    * with the same (minDist, op) rule reproduces the row-level sweep
    * exactly (two local islands chain iff their closest rows do, and
    * the closest-row gap IS the hull gap — hulls of consecutive
    * islands never interleave). */
  private def localIslands(
      df: DataFrame, cols: IntervalCols, minDist: Long, op: FilterOp): DataFrame = {
    val s = col(cols.start).cast("long")
    val e = col(cols.end).cast("long")
    val width = GraftConf.sweepPosBucketWidth(df.sparkSession)
    // trunc-toward-zero integer DIV is monotone in start, and start
    // ties never split across buckets — so the global (s, e) sort
    // order is bucket-major and a per-bucket sweep sees a contiguous
    // slice of it (double-based division would lose precision at the
    // Int64 ceiling the saturating tests pin)
    val bucketed = df.withColumn("_bkt",
      expr(s"CAST(`${cols.start}` AS BIGINT) DIV $width"))
    val wb = Window.partitionBy(col(cols.contig), col("_bkt")).orderBy(s, e)
    val prevMax = max(e).over(wb.rowsBetween(Window.unboundedPreceding, -1))
    val boundary = saturatingBoundary(prevMax, minDist)
    val isNew = if (op.isStrict) s >= boundary else s > boundary
    val flag = when(prevMax.isNull || isNew, lit(1L)).otherwise(lit(0L))
    // The cumulative island id uses the DEFAULT window frame (RANGE
    // unbounded-preceding..current-row): rows tied on (start, end) are
    // frame PEERS and all receive the same island id. A ROWS frame here
    // would split tie groups nondeterministically (the row carrying
    // flag=1 is an arbitrary member of its tie group, and a second sort
    // could order the group differently).
    bucketed.withColumn("_flag", flag)
      .withColumn("_lgid", sum(col("_flag")).over(wb))
      .drop("_flag")
  }

  /** Hierarchical island sweep shared by merge/cluster: returns
    * `(loc, islands)` where `loc` = rows + `(_bkt, _lgid)` from the
    * single full-data window pass, and `islands` = one row per LOCAL
    * island `(contig, _obkt, _olgid, _is, _ie, _cnt, _gid, _coff)`
    * with `_gid` the 1-based GLOBAL island id per contig (`_coff`,
    * the earlier-contig island count for 0-based global numbering, is
    * computed only under `needCoff` — cluster needs it, merge skips
    * its window stage). The collapse groupBy extends the window's
    * `(contig, _bkt)` clustering, so it aggregates in place (no second
    * full-data exchange); the explicit `repartition` then inserts an
    * exchange node ON THE COLLAPSED FRAME so [[chainHulls]]' multiple
    * consumers reuse one materialization (without it, every hull
    * consumer would re-run the full-data window — ReuseExchange shares
    * exchanges, and an in-place aggregate has none). */
  /** `(loc, barriered hull frame)` — the full-data window pass plus
    * the in-place island-hull collapse behind a [[sharedExchange]].
    * The barrier is the materialization point every hull consumer
    * reads (carry aggregate, flag-count aggregate, final chain — or
    * complement's carry/pieces/span); without it each consumer would
    * re-run the FULL-DATA window (measured 3x task time at sf0.1).
    * The exchange clusters on `(contig, _obkt)` at an explicit HALF
    * width (round 18): a repartition on keys alone would be removed
    * as redundant against the window's hash partitioning, and the old
    * workaround — keying on the extra `_olgid` — kept the exchange
    * but left every downstream `(contig, _obkt)` aggregate
    * re-shuffling the hull frame; on this clustering the chain's and
    * complement's per-bucket aggregates and windows all run in place
    * (four exchanges fewer per sweep, the stage-count tax VERDICT
    * r15 #2 / r17 #4 chased). Half the session shuffle width stays
    * proportional to cluster size (the collapsed frame is at most
    * island-cardinality) while its explicit count — which AQE
    * respects verbatim, no coalescing — keeps the per-consumer task
    * fan small at gate scale. */
  private def barrieredHulls(
      df: DataFrame, cols: IntervalCols, minDist: Long, op: FilterOp)
      : (DataFrame, DataFrame) = {
    val loc = localIslands(df, cols, minDist, op)
    val hulls = loc.groupBy(col(cols.contig), col("_bkt"), col("_lgid"))
      .agg(
        min(col(cols.start).cast("long")).as("_is"),
        max(col(cols.end).cast("long")).as("_ie"),
        count(lit(1)).as("_cnt"))
      .withColumnRenamed("_bkt", "_obkt")
      .withColumnRenamed("_lgid", "_olgid")
    val w = math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions / 2)
    (loc, graft.core.SharedExchange(hulls, w,
      col(cols.contig), col("_obkt")))
  }

  private def globalIslands(
      df: DataFrame, cols: IntervalCols, minDist: Long, op: FilterOp,
      needCoff: Boolean = false)
      : (DataFrame, DataFrame) = {
    val (loc, shared) = barrieredHulls(df, cols, minDist, op)
    (loc, chainHulls(shared, cols.contig, minDist, op,
      GraftConf.sweepPosBucketWidth(df.sparkSession), needCoff))
  }

  /** Does the start `s` open a NEW global island given the carry —
    * max end over all earlier buckets' hulls? `flag = s > boundary`
    * (or `>=` strict), 1 when the carry is null (the contig's first
    * non-empty bucket). */
  private def newIslandFlag(carryMax: Column, s: Column,
      minDist: Long, op: FilterOp): Column = {
    val boundary = saturatingBoundary(carryMax, minDist)
    val isNew = if (op.isStrict) s >= boundary else s > boundary
    when(carryMax.isNull || isNew, lit(1L)).otherwise(lit(0L))
  }

  /** Cross-bucket chain over the collapsed hull frame: adds `_gid`
    * (1-based GLOBAL island id per contig) and `_coff` (islands in
    * earlier contigs, for 0-based global numbering). Hulls within one
    * bucket are separated by construction (consecutive local islands
    * satisfy `next._is > boundary(max earlier end)` at the ROW level,
    * which dominates the hull-level prefix max), so a hull starts a
    * new global island iff the CARRY — max end over all earlier
    * buckets' hulls, one value per bucket — does not reach it
    * ([[newIslandFlag]]). The global id is the within-bucket flag
    * cumsum plus a per-bucket flag-sum prefix offset — a bucket that
    * only continues a prior island contributes offset-only ids, which
    * is exactly the continued island's id. Null-safe join keys keep
    * null-contig/null-start rows grouped exactly as a per-contig
    * window would. Tie hulls (identical `(_is, _ie)` in one contig)
    * cannot exist: row-level `(start, end)` tie peers share a local
    * island, and distinct consecutive islands provably have distinct
    * hulls.
    *
    * Round-16 fold (VERDICT r15 #2): the previous shape ran the carry
    * and the id offsets as two separate groupBy+window+broadcast-join
    * passes over the hull frame — 11–24 scheduled stages at hull
    * cardinality, ~0.4–1.0 s of pure scheduling at sf0.1. The flag
    * needs only `(_is, carry)`, NOT the within-bucket cumsum, so the
    * per-bucket flag COUNTS aggregate directly (no window, no sort)
    * and land on the SAME tiny per-bucket frame as the carry; both
    * offsets — `_goff` (earlier buckets, same contig) and `_coff`
    * (contig-major prefix minus `_goff`) — prefix-sum there too. The
    * hull side then pays ONE broadcast join and ONE window. `_coff`
    * rides along so [[cluster]] numbers globally without any
    * counts/offsets frames of its own. */
  private def chainHulls(
      hulls: DataFrame, contig: String, minDist: Long, op: FilterOp,
      width: Long, needCoff: Boolean): DataFrame = {
    val s = col("_is")
    val wc = Window.partitionBy(col(contig)).orderBy(col("_obkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // contig-major global prefix over the per-bucket frame: flags in
    // ALL earlier (contig, bucket) rows; minus _goff = earlier contigs
    // only. Single-task, but over one row per non-empty bucket —
    // metadata-scale (the same class as the per-contig offset window
    // it replaces).
    val wAll = Window.orderBy(col(contig), col("_obkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // ONE per-bucket pass (round 18; was carry + flag-join + counts +
    // offsets-join = two broadcast joins and two extra hull-frame
    // stages): a hull's flag depends ONLY on the bucket's carry —
    // intra-bucket hulls are separated by construction, so the
    // row-level prefix max never suppresses a flag the carry allows —
    // which means the per-bucket flag COUNT follows from the bucket's
    // (null-free, sorted) hull starts and the carry, with no per-hull
    // pass: when the carry is null every hull flags (count = _n,
    // covering null-start hulls exactly like the per-hull rule);
    // otherwise only starts past the boundary flag, and a null start
    // never does. The aggregate runs in place on the shared exchange's
    // clustering, both prefix sums ride the same per-bucket window
    // partitioning, and the hull side pays ONE broadcast join.
    val bound = saturatingBoundary(col("_carryMax"), minDist)
    val flagged = (x: Column) => if (op.isStrict) x >= bound else x > bound
    val perBucket = hulls.groupBy(col(contig), col("_obkt"))
      .agg(max(col("_ie")).as("_bmax"),
        count(lit(1)).as("_n"),
        sort_array(collect_list(s)).as("_bstarts"))
      .withColumn("_carryMax", max(col("_bmax")).over(wc))
      .withColumn("_bflags", when(col("_carryMax").isNull, col("_n"))
        .otherwise(size(filter(col("_bstarts"), flagged)).cast("long")))
      .withColumn("_goff", coalesce(sum(col("_bflags")).over(wc), lit(0L)))
      // the cross-contig offset rides only when the caller numbers
      // globally (cluster); merge/complement skip the extra
      // single-partition window stage it costs
      .withColumn("_coff",
        if (needCoff)
          coalesce(sum(col("_bflags")).over(wAll), lit(0L)) - col("_goff")
        else lit(0L))
      .select(col(contig).as("_cc"), col("_obkt").as("_cb"),
        col("_carryMax"), col("_goff"), col("_coff"))
    val wb = Window.partitionBy(col(contig), col("_obkt")).orderBy(s, col("_ie"))
    // the per-bucket frame is one row per non-empty (contig, bucket):
    // span/width rows per contig
    hulls.join(CarryBroadcast(perBucket, width),
        col(contig) <=> col("_cc") && col("_obkt") <=> col("_cb"))
      .withColumn("_flag", newIslandFlag(col("_carryMax"), s, minDist, op))
      .withColumn("_gid", sum(col("_flag")).over(wb) + col("_goff"))
      .drop("_cc", "_cb", "_carryMax", "_flag", "_goff")
  }

  /** F5 `merge`: overlapping/near (within `minDist`) intervals per
    * contig collapsed to `(contig, start, end, n_intervals)`
    * (merge.rs:43-48,282-349). One full-data exchange + window
    * ([[localIslands]]); the hull collapse aggregates in place and
    * everything after runs at island cardinality. */
  def merge(
      df: DataFrame,
      cols: IntervalCols = IntervalCols.default,
      minDist: Long = 0L,
      op: FilterOp = FilterOp.Weak): DataFrame =
    carryCoord(
      globalIslands(df, cols, minDist, op)._2
        .groupBy(col(cols.contig), col("_gid"))
        .agg(
          min(col("_is")).as(cols.start),
          max(col("_ie")).as(cols.end),
          sum(col("_cnt")).as("n_intervals"))
        .select(col(cols.contig), col(cols.start), col(cols.end), col("n_intervals")),
      df, cols.start, cols.start)

  /** F6 `cluster`: every input row annotated with a globally
    * consecutive 0-based `cluster` id (numbered in contig sort order —
    * cluster.rs:305-447; 0-based per
    * tests/integration_test.rs:2431-2441) plus `cluster_start` /
    * `cluster_end` island bounds. The reference's cross-partition
    * `ClusterIdCoordinator` barrier is already folded into the chained
    * hull frame: `cluster = _coff + _gid - 1` reads the earlier-contig
    * island count [[chainHulls]] computed on its per-bucket frame, so
    * the only work left here is the island bounds (one skew-safe
    * partial aggregate + join — a window over `(contig, _gid)` would
    * serialize a degenerate one-mega-island input onto one task) and
    * the join back to rows on `(contig, _bkt, _lgid)` — keys the row
    * side is already clustered on from the sweep window (no extra
    * full-data shuffle; AQE broadcasts the payload when it is small).
    * (Round 16: the previous shape built separate bounds/counts/
    * offsets frames — three hull-frame reads and two joins more than
    * needed, VERDICT r15 #2.) */
  def cluster(
      df: DataFrame,
      cols: IntervalCols = IntervalCols.default,
      minDist: Long = 0L,
      op: FilterOp = FilterOp.Weak): DataFrame = {
    val (loc, isl) = globalIslands(df, cols, minDist, op, needCoff = true)
    // the chained hull frame feeds both the bounds aggregate and the
    // payload join: share one materialization (and one (contig, _gid)
    // clustering — the aggregate then runs in place and the join
    // reshuffles nothing on the hull side)
    val islS = sharedExchange(isl, col(cols.contig), col("_gid"))
    val bounds = islS.groupBy(col(cols.contig).as("_bc"), col("_gid").as("_bg"))
      .agg(min(col("_is")).as("cluster_start"), max(col("_ie")).as("cluster_end"))
    val payload = islS
      .join(bounds, col(cols.contig) <=> col("_bc") && col("_gid") <=> col("_bg"))
      .select(col(cols.contig).as("_pc"), col("_obkt").as("_pb"),
        col("_olgid").as("_pl"),
        (col("_coff") + col("_gid") - lit(1L)).as("cluster"),
        col("cluster_start"), col("cluster_end"))
    val joined = loc.join(payload,
      col(cols.contig) <=> col("_pc") && col("_bkt") <=> col("_pb") &&
        col("_lgid") <=> col("_pl"))
    val outCols: Seq[Column] =
      df.columns.toSeq.map(col) :+
      col("cluster") :+ col("cluster_start") :+ col("cluster_end")
    carryCoord(joined.select(outCols: _*), df, cols.start, cols.start)
  }

  /** F7 `complement`: gaps not covered by the (merged) input intervals,
    * relative to per-contig view intervals (chromsizes). Emission is
    * cursor-style — a gap runs from the previous merged END to the next
    * merged START (touching coordinates, complement.rs:319-355).
    * Default view is `(0, Long.MaxValue)` for every contig present in
    * the input (complement.rs:397-400); view contigs absent from the
    * input emit their whole view interval (complement.rs:430-456).
    * Output: `(contig, start, end)`.
    *
    * DIRECT-GAP formulation (round 16): complement never materializes
    * merged runs or island ids at all. The hull frame plus the same
    * per-bucket carry the chain uses yield, per hull, `M` = max end
    * over ALL earlier hulls in the contig — a gap piece `(M, start)`
    * precedes every hull that opens a new island (op-aware: strict
    * keeps zero-length touch pieces, dropped by the clip guard but
    * load-bearing for the interior-empty-view rule below). Per-contig
    * `(MinValue, firstStart)` / `(lastEnd, MaxValue)` pads complete
    * the tiling: pieces ∪ pads ∪ runs cover the whole line, so
    * clipping pieces to views IS the complement — no per-view cursor
    * window, no trailing aggregate, and (with default views) no
    * untouched branch, since every default view pokes a piece or is
    * fully covered. Explicit views keep two tiny branches: views on
    * contigs absent from the input emit whole (anti-join on the
    * contig-cardinality span frame), and interior-empty views
    * (vs >= ve) emit whole unless strictly interior to a run (no
    * piece CLOSURE covers the point). Replaces a pipeline that ran
    * the full merge plus ~10 view-machinery stages (~24 scheduled
    * stages at sf0.1 — VERDICT r15 #2). Null contigs group null-safe
    * like every other sweep key. */
  def complement(
      df: DataFrame,
      view: Option[DataFrame] = None,
      cols: IntervalCols = IntervalCols.default,
      vcols: IntervalCols = IntervalCols.default,
      op: FilterOp = FilterOp.Weak): DataFrame = {
    val width = GraftConf.sweepPosBucketWidth(df.sparkSession)
    val (_, hulls) = barrieredHulls(df, cols, 0L, op)
    val wc = Window.partitionBy(col(cols.contig)).orderBy(col("_obkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = hulls.groupBy(col(cols.contig), col("_obkt"))
      .agg(max(col("_ie")).as("_bmax"))
      .select(col(cols.contig).as("_cc"), col("_obkt").as("_cb"),
        max(col("_bmax")).over(wc).as("_carryMax"))
    val wbPrev = Window.partitionBy(col(cols.contig), col("_obkt"))
      .orderBy(col("_is"), col("_ie"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // M = max end over all earlier hulls: cross-bucket carry joined
    // once, within-bucket prefix from the window (greatest skips nulls;
    // null M marks the contig's first hull)
    val withM = hulls.join(CarryBroadcast(carry, width),
        col(cols.contig) <=> col("_cc") && col("_obkt") <=> col("_cb"))
      .withColumn("_M", greatest(max(col("_ie")).over(wbPrev), col("_carryMax")))
    val opensIsland =
      if (op.isStrict) col("_is") >= col("_M") else col("_is") > col("_M")
    val inner = withM.where(col("_M").isNotNull && opensIsland)
      .select(col(cols.contig).as("_gc"), col("_M").as("_gs"), col("_is").as("_ge"))
    val span = hulls.groupBy(col(cols.contig).as("_gc"))
      .agg(min(col("_is")).as("_first"), max(col("_ie")).as("_last"))
    val pieces = inner
      .unionByName(span.select(col("_gc"),
        lit(Long.MinValue).as("_gs"), col("_first").as("_ge")))
      .unionByName(span.select(col("_gc"),
        col("_last").as("_gs"), lit(Long.MaxValue).as("_ge")))
    val defaultViews = span.select(col("_gc").as("_vc"))
      .withColumn("_vs", lit(0L)).withColumn("_ve", lit(Long.MaxValue))
    val views = view match {
      case Some(v) =>
        val explicit = v.select(
          col(vcols.contig).as("_vc"),
          col(vcols.start).cast("long").as("_vs"),
          col(vcols.end).cast("long").as("_ve"))
        // input contigs with no explicit view still get the implicit
        // (0, i64::MAX) view (complement.rs:399-400)
        explicit.unionByName(
          defaultViews.join(explicit.select(col("_vc")).distinct(), Seq("_vc"), "left_anti"))
      case None => defaultViews
    }
    // the complement: every piece clipped to every view it pokes into
    // (the view side is tiny — chromsizes or one row per contig — so
    // the planner broadcasts it and the piece side streams map-only)
    val clipped = pieces.join(views,
        col("_gc") <=> col("_vc") && col("_ge") > col("_vs") && col("_gs") < col("_ve"))
      .select(col("_vc").as(cols.contig),
        greatest(col("_gs"), col("_vs")).as(cols.start),
        least(col("_ge"), col("_ve")).as(cols.end))
      .where(col(cols.end) > col(cols.start))
    val out = view match {
      case Some(_) =>
        val absent = views.join(span, col("_gc") <=> col("_vc"), "left_anti")
          .select(col("_vc").as(cols.contig),
            col("_vs").as(cols.start), col("_ve").as(cols.end))
        val emptViews = views.where(col("_vs") >= col("_ve"))
          .join(pieces, col("_gc") <=> col("_vc") &&
            col("_gs") <= least(col("_vs"), col("_ve")) &&
            greatest(col("_vs"), col("_ve")) <= col("_ge"), "left_semi")
          .select(col("_vc").as(cols.contig),
            col("_vs").as(cols.start), col("_ve").as(cols.end))
        clipped.unionByName(absent).unionByName(emptViews)
      case None => clipped
    }
    carryCoord(out, df, cols.start, cols.start)
  }

  /** F8 `subtract`: basepair set difference — each left interval
    * fragmented around overlapping right intervals, cursor-style
    * boundaries (fragment ends at right START, resumes at right END —
    * subtract.rs:391-442), extra left columns preserved on every
    * fragment (subtract.rs:50-76). Rights are pre-merged per contig
    * into the broadcast run index (equivalent to the reference's
    * advancing-cursor over unmerged rights); each left row is
    * fragmented by ONE index probe in a map-side codegen pass
    * ([[IntervalJoin.subtractFragments]]) — no contig-keyed join, no
    * window, no per-contig cross product (BASELINE.md bar #3). */
  def subtract(
      left: DataFrame, right: DataFrame,
      lcols: IntervalCols = IntervalCols.default,
      rcols: IntervalCols = IntervalCols.default,
      op: FilterOp = FilterOp.Weak): DataFrame =
    // the collected side is only the (contig, start, end) triples of
    // the merged-run index, but it is still driver-resident state; an
    // over-cap subtrahend fails over to the contig co-shuffle
    // Partitioned mode ([[PartitionedJoin.subtractPartitioned]]) with
    // the same merged-run kernel
    carryCoord(
      if (BuildGuard.fits(right))
        IntervalJoin.subtractFragments(left, right, lcols, rcols, op)
      else
        PartitionedJoin.subtractPartitioned(left, right, lcols, rcols, op),
      left, lcols.start, lcols.start)
}
