package graft.ranges

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{FilterOp, GraftConf, IntervalCols}
import graft.index._

/** Broadcast interval join machinery.
  *
  * Mirrors the reference's CollectLeft interval-join design
  * (interval_join.rs:394-413): the build side's COORDINATES are
  * collected, grouped by contig, indexed, and broadcast to every probe
  * task; the probe side streams partition-parallel with no shuffle.
  *
  * Execution shape (Spark-first, unlike the reference's hand-rolled
  * probe FSM): a scalar UDF probes the broadcast index and returns
  * only match indices; `explode` + a broadcast hash join against the
  * row-indexed build DataFrame assembles output rows natively in
  * Tungsten. The FULL build rows are collected on the driver
  * ([[collectBuild]]) to assemble the broadcast row table — the same
  * contract as Spark's own BroadcastHashJoin and the reference's
  * collect_left_input (interval_join.rs:584-668): driver heap bounds
  * the build side at roughly its row bytes plus the per-contig
  * coordinate arrays. The scalar probes (count/coverage/existence/
  * subtract) collect only the (contig, start, end) coordinate
  * triples.
  *
  * Scale notes (100 TB target):
  *  - The build side must fit in DRIVER and executor memory — same
  *    constraint and same typical shape (small annotation set vs huge
  *    reads set) as the reference's CollectLeft mode. The [[Ranges]]
  *    entry points guard this with [[BuildGuard]]
  *    (spark.bio.broadcast_build_limit) and fail over to the
  *    partitioned grid-bucket path when the estimate exceeds the cap,
  *    mirroring the reference planner's CollectLeft-vs-Partitioned
  *    choice (interval_join.rs:394-413).
  *  - Each probe costs O(log n + hits): no per-contig cross product
  *    (BASELINE.md bar #3).
  *  - The probe side never shuffles; AQE/codegen apply end-to-end.
  */
object IntervalJoin {

  final class Build(
      val indexes: Map[String, ContigIntervalIndex],
      val nearest: Map[String, NearestIndex],
      val counts: Map[String, CountOverlapIndex],
      val cov: Map[String, CoverageIndex]) extends Serializable

  private def asLong(v: Any, colName: String): Long = v match {
    case l: Long  => l
    case i: Int   => i.toLong
    case s: Short => s.toLong
    case null => throw new IllegalArgumentException(
      s"null coordinate in column '$colName' (reference treats null positions as an execution error)")
    case other => throw new IllegalArgumentException(
      s"column '$colName' must be integral, got ${other.getClass.getSimpleName}")
  }

  /** Deterministic dense row index (the broadcast-join key). RDD
    * zipWithIndex is stable for a deterministic input plan, unlike
    * monotonically_increasing_id across retries (SURVEY.md §7.4). */
  def withRowIndex(df: DataFrame): DataFrame = {
    val schema2 = StructType(df.schema.fields :+ StructField("_lidx", IntegerType, nullable = false))
    val rdd = df.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i.toInt) }
    df.sparkSession.createDataFrame(rdd, schema2)
  }

  /** Driver-side per-contig index builds run concurrently (a genome
    * has ~25 contigs; each build is an independent sort). */
  private def parBuild[B](groups: Iterable[(String, (Array[Long], Array[Long], Array[Int], Array[Long]))])(
      f: ((Array[Long], Array[Long], Array[Int], Array[Long])) => B): Map[String, B] = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.DurationInt
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(
      Future.sequence(groups.map { case (k, v) => Future(k -> f(v)) }),
      10.minutes).toMap
  }

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

  /** CollectLeft build side in ONE scan: collect the full build rows,
    * derive (a) per-contig coordinate arrays for the broadcast index
    * and (b) a LocalRelation copy of the rows + dense `_lidx` that
    * becomes the build side of the final broadcast hash join — the
    * reference's collect_left_input ships whole batches the same way
    * (interval_join.rs:584-668). Replaces the previous
    * withRowIndex-then-collect-then-broadcast shape, which scanned the
    * build side three times (zipWithIndex job, coords collect,
    * broadcast exchange). */
  private def collectBuild(
      df: DataFrame, cols: IntervalCols, tieBreakCol: Option[String] = None)
      : (mutable.LinkedHashMap[String, (Array[Long], Array[Long], Array[Int], Array[Long])], DataFrame) = {
    import org.apache.spark.sql.catalyst.InternalRow
    // executeCollect: UnsafeRows straight off the wire — df.collect()
    // additionally ran CatalystTypeConverters per field per row and
    // re-boxed every value again for the _lidx append (driver-serial;
    // ~2 s of the nearest build at sf0.1)
    val rows = df.queryExecution.executedPlan.executeCollect()
    val ci = df.schema.fieldIndex(cols.contig)
    val si = df.schema.fieldIndex(cols.start)
    val ei = df.schema.fieldIndex(cols.end)
    val ti = tieBreakCol.map(df.schema.fieldIndex)
    def longGetter(k: Int, name: String): InternalRow => Long =
      df.schema(k).dataType match {
        case LongType => r => if (r.isNullAt(k)) asLong(null, name) else r.getLong(k)
        case IntegerType => r => if (r.isNullAt(k)) asLong(null, name) else r.getInt(k).toLong
        case ShortType => r => if (r.isNullAt(k)) asLong(null, name) else r.getShort(k).toLong
        case other => r => asLong(other, name) // throws with the type name
      }
    val getS = longGetter(si, cols.start)
    val getE = longGetter(ei, cols.end)
    val getT = ti.map(t => longGetter(t, "tieBreak"))
    val groups = mutable.LinkedHashMap.empty[String,
      (mutable.ArrayBuffer[Long], mutable.ArrayBuffer[Long], mutable.ArrayBuffer[Int], mutable.ArrayBuffer[Long])]
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      val key = r.getUTF8String(ci)
      val g = groups.getOrElseUpdate(if (key == null) null else key.toString,
        (mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty,
         mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty))
      g._1 += getS(r)
      g._2 += getE(r)
      g._3 += i
      g._4 += (getT match { case Some(f) => f(r); case None => i.toLong })
      i += 1
    }
    val coords = groups.map { case (k, (s, e, p, t)) =>
      k -> (s.toArray, e.toArray, p.toArray, t.toArray)
    }
    val schema2 = StructType(df.schema.fields :+ StructField("_lidx", IntegerType, nullable = false))
    // _lidx rides a JoinedRow over the collected UnsafeRow, then the
    // pair is flattened to ONE UnsafeRow before broadcast: UnsafeRows
    // java-serialize as a single byte block (writeExternal), while a
    // broadcast of JoinedRow(UnsafeRow, GenericInternalRow) wrappers
    // crawled through ObjectOutputStream's per-object handle table
    // (~2 s of driver time per nearest build at sf0.1, stack-sampled
    // round 11)
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema2)
    val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow()
    val idx = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    val idxRows = new Array[InternalRow](rows.length)
    i = 0
    while (i < rows.length) {
      idx.setInt(0, i)
      idxRows(i) = proj(joined(rows(i), idx)).copy()
      i += 1
    }
    // RDD-backed, NOT a LocalRelation: LocalTableScanExec keeps its rows
    // as a plan-node field, and the whole plan serializes into every
    // task closure of the probe stage (observed 1.3 MiB/task at sf0.1).
    // The rows travel in a Broadcast (torrent blocks, shipped once per
    // executor); the RDD's task closures carry only slice bounds — a
    // plain sc.parallelize(rows) would re-ship row data inside every
    // ParallelCollectionRDD task binary ("task of very large size"
    // warnings at sf0.1).
    val sc = df.sparkSession.sparkContext
    // packed block: one byte[] + offsets instead of 600k Externalizable
    // UnsafeRows (round 18 — broadcast serialize 0.33 s -> memcpy)
    val bcAll = sc.broadcast(graft.core.RowBlock(idxRows, schema2.length))
    val slices = math.max(1, math.min(sc.defaultParallelism, rows.length / 10000))
    val rdd = sc.parallelize(0 until slices, slices).mapPartitions { it =>
      it.flatMap { s =>
        val all = bcAll.value.rows
        val per = (all.length + slices - 1) / slices
        all.iterator.slice(s * per, math.min(all.length, (s + 1) * per))
      }
    }
    val local = org.apache.spark.sql.GraftRowBridge.internalDf(
      df.sparkSession, rdd, schema2)
    (coords, local)
  }

  /** Collect per-contig coordinate arrays.
    * @param src  DataFrame that MUST contain `cols` (+ `_lidx` when
    *             `withIdx`, + `tieBreakCol` when rank-ordered)
    * @return contig -> (starts, ends, payloadIdx, rank) */
  private def collectCoords(
      src: DataFrame, cols: IntervalCols,
      withIdx: Boolean, tieBreakCol: Option[String])
      : mutable.LinkedHashMap[String, (Array[Long], Array[Long], Array[Int], Array[Long])] = {
    val selectCols = mutable.ArrayBuffer(col(cols.contig), col(cols.start).cast("long"),
      col(cols.end).cast("long"))
    if (withIdx) selectCols += col("_lidx")
    tieBreakCol.foreach(t => selectCols += col(t).cast("long"))
    // executeCollect: InternalRows straight off the wire — df.collect()
    // additionally runs CatalystTypeConverters per field per row, which
    // dominated build-side construction at sf0.1 (driver-serial)
    val rows = src.select(selectCols.toSeq: _*)
      .queryExecution.executedPlan.executeCollect()
    def longAt(r: org.apache.spark.sql.catalyst.InternalRow, k: Int, name: String): Long = {
      // explicit throw (round-10 verdict: delegating to asLong(null,_)
      // and discarding the result was one refactor away from silently
      // reading garbage out of a null slot)
      if (r.isNullAt(k)) throw new IllegalArgumentException(
        s"null coordinate in column '$name' (reference treats null positions as an execution error)")
      r.getLong(k)
    }
    val groups = mutable.LinkedHashMap.empty[String,
      (mutable.ArrayBuffer[Long], mutable.ArrayBuffer[Long], mutable.ArrayBuffer[Int], mutable.ArrayBuffer[Long])]
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      val key = r.getUTF8String(0)
      val g = groups.getOrElseUpdate(if (key == null) null else key.toString,
        (mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty))
      g._1 += longAt(r, 1, cols.start)
      g._2 += longAt(r, 2, cols.end)
      g._3 += (if (withIdx) r.getInt(3) else i)
      g._4 += (tieBreakCol match {
        case Some(_) => longAt(r, if (withIdx) 4 else 3, "tieBreak")
        case None => i.toLong
      })
      i += 1
    }
    groups.map { case (k, (s, e, p, t)) =>
      k -> (s.toArray, e.toArray, p.toArray, t.toArray)
    }
  }

  private def prefixedCols(df: DataFrame, prefix: String): Seq[Column] =
    df.schema.fields.toSeq.filterNot(_.name == "_lidx")
      .map(f => col(f.name).as(prefix + f.name)) :+ col("_lidx")

  /** All-pairs overlap join ("join" mode of F1): `left_*` ++ `right_*`
    * columns (overlap.rs:154-181). */
  def overlapPairs(
      left: DataFrame, right: DataFrame,
      lcols: IntervalCols, rcols: IntervalCols,
      op: FilterOp): DataFrame = {

    val spark = left.sparkSession
    val (groups, leftIdx) = collectBuild(left, lcols)
    val algo = GraftConf.intervalJoinAlgorithm(spark)
    val indexes: Map[String, IntervalStabber] =
      parBuild(groups) { case (s, e, p, _) => IntervalIndexFactory.build(algo, s, e, p) }
    val bc = spark.sparkContext.broadcast(indexes)

    // native codegen expression, not a Scala UDF (graft.plans.IntervalProbe)
    import org.apache.spark.sql.GraftColumnBridge
    def probe(c: Column, s: Column, e: Column): Column =
      GraftColumnBridge.column(graft.plans.IntervalProbe(
        GraftColumnBridge.expression(c), GraftColumnBridge.expression(s),
        GraftColumnBridge.expression(e), bc, op))

    val rightPref = parallelizeProbe(right).select(
      right.schema.fields.toSeq.map(f => col(f.name).as("right_" + f.name)): _*)
    val matched = rightPref.withColumn("_lidx",
      explode(probe(
        col("right_" + rcols.contig),
        col("right_" + rcols.start).cast("long"),
        col("right_" + rcols.end).cast("long"))))
    val leftPref = leftIdx.select(prefixedCols(leftIdx, "left_"): _*)
    matched.join(broadcast(leftPref), "_lidx")
      .select(
        (leftPref.schema.fields.toSeq.filterNot(_.name == "_lidx").map(f => col(f.name)) ++
         rightPref.schema.fields.toSeq.map(f => col(f.name))): _*)
  }

  /** Column wrapping a [[graft.plans.ScalarIndexProbe]] codegen
    * expression (shared by count/coverage/existence probes). */
  private def scalarProbe(
      bc: org.apache.spark.broadcast.Broadcast[Map[String, ScalarIndex]],
      op: FilterOp, c: Column, s: Column, e: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.ScalarIndexProbe(
      GraftColumnBridge.expression(c), GraftColumnBridge.expression(s),
      GraftColumnBridge.expression(e), bc, op))
  }

  /** "left" / "left_distinct" modes of F1 (overlap.rs:183-226): emit
    * each probe row once per overlap (multiplicity) or once if any.
    * Pure codegen: a count-probe expression + conditional
    * sequence-explode. */
  def overlapExistence(
      probe: DataFrame, other: DataFrame,
      pcols: IntervalCols, ocols: IntervalCols,
      op: FilterOp, distinct: Boolean): DataFrame = {

    val spark = probe.sparkSession
    val groups = collectCoords(other, ocols, withIdx = false, tieBreakCol = None)
    val counts: Map[String, ScalarIndex] =
      groups.map { case (k, (s, e, _, _)) => k -> CountOverlapIndex.build(s, e) }.toMap
    val bc = spark.sparkContext.broadcast(counts)
    val withN = parallelizeProbe(probe).withColumn("_n", scalarProbe(bc, op,
      col(pcols.contig), col(pcols.start).cast("long"), col(pcols.end).cast("long")))
    val result =
      if (distinct) withN.where(col("_n") > 0)
      else withN.where(col("_n") > 0)
        .withColumn("_rep", explode(sequence(lit(1L), col("_n"))))
    result.select(probe.columns.toSeq.map(col): _*)
  }

  /** F2 count_overlaps / F3 coverage: probe rows + one Long column,
    * via a single codegen probe expression over the broadcast index. */
  def annotateCount(
      build: DataFrame, probe: DataFrame,
      bcols: IntervalCols, pcols: IntervalCols,
      op: FilterOp, coverage: Boolean, outName: String): DataFrame = {

    val spark = probe.sparkSession
    val groups = collectCoords(build, bcols, withIdx = false, tieBreakCol = None)
    val indexes: Map[String, ScalarIndex] =
      if (coverage) groups.map { case (k, (s, e, _, _)) => k -> CoverageIndex.build(s, e) }.toMap
      else groups.map { case (k, (s, e, _, _)) => k -> CountOverlapIndex.build(s, e) }.toMap
    val bc = spark.sparkContext.broadcast(indexes)
    parallelizeProbe(probe).withColumn(outName, scalarProbe(bc, op,
      col(pcols.contig), col(pcols.start).cast("long"), col(pcols.end).cast("long")))
  }

  /** F8 subtract kernel: explode each probe row into its uncovered
    * fragments against the broadcast merged-run index (one map-side
    * codegen pass, graft.plans.SubtractProbe — see
    * [[graft.index.CoverageIndex.gaps]]). Returns the probe columns
    * with `startName`/`endName` replaced by the fragment bounds. */
  def subtractFragments(
      probe: DataFrame, other: DataFrame,
      pcols: IntervalCols, ocols: IntervalCols,
      op: FilterOp): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val spark = probe.sparkSession
    val groups = collectCoords(other, ocols, withIdx = false, tieBreakCol = None)
    val runs = groups.map { case (k, (s, e, _, _)) =>
      k -> CoverageIndex.build(s, e, strictMerge = op.isStrict) }.toMap
    val bc = spark.sparkContext.broadcast(runs)
    def probeCol(c: Column, s: Column, e: Column): Column =
      GraftColumnBridge.column(graft.plans.SubtractProbe(
        GraftColumnBridge.expression(c), GraftColumnBridge.expression(s),
        GraftColumnBridge.expression(e), bc, op))
    val fragged = parallelizeProbe(probe).withColumn("_frag",
      explode(probeCol(col(pcols.contig),
        col(pcols.start).cast("long"), col(pcols.end).cast("long"))))
    fragged.select(probe.columns.toSeq.map {
      case c if c == pcols.start => col("_frag.fs").as(pcols.start)
      case c if c == pcols.end   => col("_frag.fe").as(pcols.end)
      case c => col(c)
    }: _*)
  }

  /** F4 nearest: up to k nearest build intervals per probe row
    * (overlaps first, then (distance, start, end, position) order —
    * nearest_index.rs). NULL build columns when no candidate
    * (tests/integration_test.rs:1302). Output:
    * `left_*` (build) ++ `right_*` (probe) [+ distance Int64]. */
  def nearest(
      build: DataFrame, probe: DataFrame,
      bcols: IntervalCols, pcols: IntervalCols,
      op: FilterOp, k: Int, includeOverlaps: Boolean,
      computeDistance: Boolean, tieBreakCol: Option[String] = None): DataFrame = {

    val spark = probe.sparkSession
    val (groups, leftIdx) = collectBuild(build, bcols, tieBreakCol)
    val nearIdx: Map[String, NearestIndex] =
      parBuild(groups) { case (s, e, p, t) => NearestIndex.build(s, e, t, p) }
    val bc = spark.sparkContext.broadcast(nearIdx)

    // codegen expression, not a boxed Seq[case class] UDF: the probe
    // result lands in a GenericArrayData of two-field rows with no
    // CatalystTypeConverters round-trip (graft.plans.NearestProbe)
    import org.apache.spark.sql.GraftColumnBridge
    def probeCol(c: Column, s: Column, e: Column): Column =
      GraftColumnBridge.column(graft.plans.NearestProbe(
        GraftColumnBridge.expression(c), GraftColumnBridge.expression(s),
        GraftColumnBridge.expression(e), bc, op, k, includeOverlaps))

    val rightPref = parallelizeProbe(probe).select(
      probe.schema.fields.toSeq.map(f => col(f.name).as("right_" + f.name)): _*)
    val exploded = rightPref.withColumn("_cand",
      explode(probeCol(
        col("right_" + pcols.contig),
        col("right_" + pcols.start).cast("long"),
        col("right_" + pcols.end).cast("long"))))
      .withColumn("_lidx", col("_cand.lidx"))
      .withColumn("distance",
        when(col("_cand.lidx") === -1, lit(null).cast("long")).otherwise(col("_cand.dist")))
      .drop("_cand")
    val leftPref = leftIdx.select(prefixedCols(leftIdx, "left_"): _*)
    val joined = exploded.join(broadcast(leftPref), Seq("_lidx"), "left")
    val outCols =
      leftPref.schema.fields.toSeq.filterNot(_.name == "_lidx").map(f => col(f.name)) ++
      rightPref.schema.fields.toSeq.map(f => col(f.name)) ++
      (if (computeDistance) Seq(col("distance")) else Nil)
    joined.select(outCols: _*)
  }
}
