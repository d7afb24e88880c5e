package graft.ranges

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.{FilterOp, IntervalCols}
import graft.index._
import graft.plans.{NearestProbe, ScalarIndexProbe, SubtractProbe}

/** The broadcast [[Ranges]] probe modes.
  *
  * Mirrors the reference's CollectLeft interval-join design
  * (interval_join.rs:394-413): the build side is collected, grouped by
  * contig and indexed once ([[IntervalBuild]]), and broadcast to every
  * probe task; the probe side streams partition-parallel with no
  * shuffle. Each mode is one codegen probe expression over the
  * broadcast per-contig indexes (graft.plans.IndexProbe):
  * count/coverage/existence read one Long per probe row, subtract
  * explodes the uncovered fragments, nearest explodes its candidates
  * and joins them to the broadcast build rows. The `join` mode is not
  * here: it is an ordinary join that the interval strategy plans as
  * [[graft.plans.BroadcastIntervalJoinExec]] ([[Ranges.overlapViaStrategy]]).
  *
  * Each mode's index kernel (graft.index) is the one its partitioned
  * twin in [[PartitionedJoin]] builds per contig co-group, so the two
  * paths answer alike by construction.
  *
  * Scale notes:
  *  - The build side must fit in driver and executor memory — the
  *    reference's CollectLeft constraint. The [[Ranges]] entry points
  *    guard this with [[BuildGuard]] (spark.bio.broadcast_build_limit)
  *    and fail over to [[PartitionedJoin]] when the estimate exceeds
  *    the cap (the `join` mode to [[Ranges.overlapPartitioned]]).
  *  - Each probe costs O(log n + hits): no per-contig cross product
  *    (BASELINE.md bar #3).
  *  - The probe side never shuffles; AQE/codegen apply end-to-end.
  */
object IntervalJoin {

  /** Round-robin repartition of the probe side up to the session's
    * default parallelism when the scan would otherwise
    * under-parallelize (a few-MB parquet file reads as ONE partition
    * under the default 128 MB maxPartitionBytes, serializing the whole
    * probe+explode pipeline). The reference repartitions its probe side
    * identically (count_overlaps.rs:143-154 RoundRobinBatch). At scale
    * the probe side already carries >= parallelism partitions and this
    * is a no-op — never a second shuffle. */
  private def parallelizeProbe(df: DataFrame): DataFrame =
    graft.core.Parallelism.ensure(df)

  /** A probe expression over the `prefix`ed `cols` of the probe frame,
    * coordinates as Long. */
  private def probeColumn(cols: IntervalCols, prefix: String = "")(
      probe: (Expression, Expression, Expression) => Expression): Column = {
    def e(c: Column) = GraftColumnBridge.expression(c)
    GraftColumnBridge.column(probe(e(col(prefix + cols.contig)),
      e(col(prefix + cols.start).cast("long")), e(col(prefix + cols.end).cast("long"))))
  }

  /** Per-probe-row overlap count (or the coverage formula) of `build`'s
    * intervals: one [[ScalarIndexProbe]] over the broadcast counters.
    * Also the streaming count probe (graft.streaming.IntervalStreams). */
  def countColumn(
      build: DataFrame, bcols: IntervalCols, pcols: IntervalCols,
      op: FilterOp, coverage: Boolean): Column = {
    val idx: Map[UTF8String, ScalarIndex] =
      IntervalBuild.indexes(build, bcols)(g => ScalarIndex.build(g.starts, g.ends, coverage))
    val bc = build.sparkSession.sparkContext.broadcast(idx)
    probeColumn(pcols)(ScalarIndexProbe(_, _, _, bc, op))
  }

  /** F2 count_overlaps / F3 coverage (and the per-row count behind
    * `overlap` left/left_distinct): probe rows + one Long column. */
  def annotateCount(
      build: DataFrame, probe: DataFrame,
      bcols: IntervalCols, pcols: IntervalCols,
      op: FilterOp, coverage: Boolean, outName: String): DataFrame =
    parallelizeProbe(probe).withColumn(outName, countColumn(build, bcols, pcols, op, coverage))

  /** F8 subtract kernel: explode each probe row into its uncovered
    * fragments against the broadcast merged-run index (one map-side
    * codegen pass, [[SubtractProbe]] — see
    * [[graft.index.CoverageIndex.gaps]]). Returns the probe columns
    * with `start`/`end` replaced by the fragment bounds; a row with a
    * null contig or bound passes through unchanged. */
  def subtractFragments(
      probe: DataFrame, other: DataFrame,
      pcols: IntervalCols, ocols: IntervalCols,
      op: FilterOp): DataFrame = {
    val runs = IntervalBuild.indexes(other, ocols)(g =>
      CoverageIndex.build(g.starts, g.ends, strictMerge = op.isStrict))
    val bc = probe.sparkSession.sparkContext.broadcast(runs)
    val fragged = parallelizeProbe(probe).withColumn("_frag",
      explode(probeColumn(pcols)(SubtractProbe(_, _, _, bc, op))))
    // the pass-through fragment of a null-input row is (null, null)
    fragged.select(probe.columns.toSeq.map {
      case c if c == pcols.start => coalesce(col("_frag.fs"), col(c).cast("long")).as(c)
      case c if c == pcols.end   => coalesce(col("_frag.fe"), col(c).cast("long")).as(c)
      case c => col(c)
    }: _*)
  }

  /** The collected build rows + dense `_lidx`, as a frame for the
    * final broadcast hash join. `_lidx` rides a JoinedRow over each
    * collected UnsafeRow, flattened to ONE UnsafeRow, and the rows
    * travel packed in ONE [[graft.core.RowBlock]] broadcast (one byte
    * block instead of per-row Externalizable writes). The frame is
    * RDD-backed, NOT a LocalRelation: LocalTableScanExec keeps its rows
    * as a plan-node field and the whole plan serializes into every
    * task closure of the probe stage; here the task closures carry
    * only slice bounds. */
  private def rowTable(df: DataFrame, rows: Array[InternalRow]): DataFrame = {
    val schema2 = StructType(df.schema.fields :+ StructField("_lidx", IntegerType, nullable = false))
    val proj = UnsafeProjection.create(schema2)
    val joined = new JoinedRow()
    val idx = new GenericInternalRow(1)
    val idxRows = new Array[InternalRow](rows.length)
    var i = 0
    while (i < rows.length) {
      idx.setInt(0, i)
      idxRows(i) = proj(joined(rows(i), idx)).copy()
      i += 1
    }
    val sc = df.sparkSession.sparkContext
    val bcAll = sc.broadcast(graft.core.RowBlock(idxRows, schema2.length))
    val slices = math.max(1, math.min(sc.defaultParallelism, rows.length / 10000))
    val rdd = sc.parallelize(0 until slices, slices).mapPartitions { it =>
      it.flatMap { s =>
        val all = bcAll.value.rows
        val per = (all.length + slices - 1) / slices
        all.iterator.slice(s * per, math.min(all.length, (s + 1) * per))
      }
    }
    org.apache.spark.sql.GraftRowBridge.internalDf(df.sparkSession, rdd, schema2)
  }

  /** F4 nearest: up to k nearest build intervals per probe row
    * (overlaps first, then (distance, start, end, position) order —
    * nearest_index.rs). NULL build columns when no candidate
    * (tests/integration_test.rs:1302), and for a probe row with a null
    * contig or bound. Output:
    * `left_*` (build) ++ `right_*` (probe) [+ distance Int64]. */
  def nearest(
      build: DataFrame, probe: DataFrame,
      bcols: IntervalCols, pcols: IntervalCols,
      op: FilterOp, k: Int, includeOverlaps: Boolean,
      computeDistance: Boolean, tieBreakCol: Option[String] = None): DataFrame = {
    val (rows, groups) = IntervalBuild.collect(build, bcols, tieBreakCol)
    val bc = probe.sparkSession.sparkContext.broadcast(IntervalBuild.index(groups)(g =>
      NearestIndex.build(g.starts, g.ends, g.rank, g.rowIdx)))
    val leftPref = {
      val t = rowTable(build, rows)
      t.select(build.columns.toSeq.map(c => col(c).as("left_" + c)) :+ col("_lidx"): _*)
    }
    val rightPref = parallelizeProbe(probe).select(
      probe.columns.toSeq.map(c => col(c).as("right_" + c)): _*)
    val exploded = rightPref.withColumn("_cand",
      explode(probeColumn(pcols, "right_")(NearestProbe(_, _, _, bc, op, k, includeOverlaps))))
      .withColumn("_lidx", col("_cand.lidx"))
      .withColumn("distance",
        when(col("_cand.lidx") === -1, lit(null).cast("long")).otherwise(col("_cand.dist")))
      .drop("_cand")
    val outCols =
      build.columns.toSeq.map(c => col("left_" + c)) ++
      probe.columns.toSeq.map(c => col("right_" + c)) ++
      (if (computeDistance) Seq(col("distance")) else Nil)
    exploded.join(broadcast(leftPref), Seq("_lidx"), "left").select(outCols: _*)
  }
}
