package graft.plans

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.core.GraftConf
import graft.ranges.IntervalBuild

/** Transparent interval-join rewrite (SURVEY.md §2 J1-J3/J5, §3.1):
  * an ordinary SQL join whose condition is
  *
  *   a.contig = b.contig AND a.start <= b.end AND a.end >= b.start
  *
  * (any conjunct order/side order; `<`/`>` accepted and normalized by
  * ±1 — the reference's `minus_one()` rewrite,
  * physical_planner/intervals.rs:63-124) is planned as a broadcast
  * per-contig-index join instead of a hash join with a post-filter
  * (which degenerates to a per-contig cross product). A range-only
  * condition with no equi-key is also accepted — all intervals land in
  * one index bucket (the reference's NestedLoopJoin fallback,
  * bio_physical_planner.rs:125-146).
  *
  * Supported join types mirror the reference's Inner/Right/RightSemi/
  * RightAnti set (interval_join.rs:1014-1024) in Spark's left-handed
  * naming: Inner (either side buildable — the smaller side is indexed),
  * RightOuter (build left), LeftOuter / LeftSemi / LeftAnti (build
  * right, probe the big left side). Extra conjuncts the extractor can't
  * fold into the interval bounds are evaluated per candidate pair
  * INSIDE the join (a post-join FilterExec would corrupt outer/semi
  * semantics by filtering null-extended rows).
  *
  * Unlike the reference (which REMOVES DataFusion's join_selection
  * rule, session_context.rs:29-31), this is a plain extra Strategy:
  * when it declines (shape mismatch, oversized build side) Spark's
  * stock planning proceeds untouched.
  */
object IntervalJoinStrategy extends SparkStrategy with PredicateHelper {

  private case class Extracted(
      contigs: Option[(Expression, Expression)], // (left, right)
      lStart: Expression, rEnd: Expression, strictLe: Boolean,
      lEnd: Expression, rStart: Expression, strictGe: Boolean,
      residual: Seq[Expression])

  private def integral(e: Expression): Boolean = e.dataType match {
    case IntegerType | LongType | ShortType => true
    case _ => false
  }

  private def extract(j: Join): Option[Extracted] = {
    val lOut = j.left.outputSet
    val rOut = j.right.outputSet
    def leftOnly(e: Expression) = e.references.nonEmpty && e.references.subsetOf(lOut)
    def rightOnly(e: Expression) = e.references.nonEmpty && e.references.subsetOf(rOut)

    val conjuncts = j.condition.map(splitConjunctivePredicates).getOrElse(return None)
    var contig: Option[(Expression, Expression)] = None
    var le: Option[(Expression, Expression, Boolean)] = None // lStart <= rEnd
    var ge: Option[(Expression, Expression, Boolean)] = None // lEnd >= rStart
    val residual = mutable.ArrayBuffer.empty[Expression]

    conjuncts.foreach {
      case e @ EqualTo(a, b) if contig.isEmpty && a.dataType == StringType =>
        if (leftOnly(a) && rightOnly(b)) contig = Some((a, b))
        else if (leftOnly(b) && rightOnly(a)) contig = Some((b, a))
        else residual += e
      case e @ BinaryComparison(a, b) if integral(a) && integral(b) =>
        // normalize to (leftExpr OP rightExpr)
        val norm: Option[(Expression, Expression, Boolean, Boolean)] = e match {
          case LessThanOrEqual(_, _) if leftOnly(a) && rightOnly(b) => Some((a, b, true, false))
          case LessThan(_, _) if leftOnly(a) && rightOnly(b) => Some((a, b, true, true))
          case GreaterThanOrEqual(_, _) if leftOnly(a) && rightOnly(b) => Some((a, b, false, false))
          case GreaterThan(_, _) if leftOnly(a) && rightOnly(b) => Some((a, b, false, true))
          case LessThanOrEqual(_, _) if leftOnly(b) && rightOnly(a) => Some((b, a, false, false))
          case LessThan(_, _) if leftOnly(b) && rightOnly(a) => Some((b, a, false, true))
          case GreaterThanOrEqual(_, _) if leftOnly(b) && rightOnly(a) => Some((b, a, true, false))
          case GreaterThan(_, _) if leftOnly(b) && rightOnly(a) => Some((b, a, true, true))
          case _ => None
        }
        norm match {
          case Some((l, r, isLe, strict)) if isLe && le.isEmpty => le = Some((l, r, strict))
          case Some((l, r, isLe, strict)) if !isLe && ge.isEmpty => ge = Some((l, r, strict))
          case _ => residual += e
        }
      case e => residual += e
    }

    (le, ge) match {
      case (Some((ls, re, sLe)), Some((lEnd, rs, sGe))) =>
        Some(Extracted(contig, ls, re, sLe, lEnd, rs, sGe, residual.toSeq))
      case _ => None
    }
  }

  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j @ Join(l, r, jt, Some(_), _)
        if GraftConf.intervalJoinEnabled(SparkSession.active) =>
      // the CollectLeft build-side cap, shared with the Ranges API guard
      // (graft.ranges.BuildGuard)
      val maxBuildBytes = GraftConf.broadcastBuildLimit(SparkSession.active)
      def fits(p: LogicalPlan) = p.stats.sizeInBytes <= maxBuildBytes
      // Which side to collect+index: Inner takes whichever fits (left
      // preferred); the one-sided types are pinned to the preserved /
      // probed orientation.
      val buildLeft: Option[Boolean] = jt match {
        case Inner if fits(l) => Some(true)
        case Inner if fits(r) => Some(false)
        case RightOuter if fits(l) => Some(true)
        case LeftOuter | LeftSemi | LeftAnti if fits(r) => Some(false)
        case _ => None
      }
      (buildLeft, extract(j)) match {
        case (Some(bl), Some(x)) =>
          BroadcastIntervalJoinExec(
            x.contigs, x.lStart, x.lEnd, x.rStart, x.rEnd, x.strictLe, x.strictGe,
            x.residual.reduceOption(And),
            GraftConf.intervalJoinAlgorithm(SparkSession.active),
            jt, bl, planLater(l), planLater(r)) :: Nil
        case _ => Nil
      }
    case _ => Nil
  }
}

/** CollectLeft broadcast interval join: the build child is collected,
  * indexed per contig (sorted starts + prefix-max-end,
  * graft.index.ContigIntervalIndex), broadcast, and probed
  * partition-parallel from the other child — an index probe per row,
  * never a per-contig cross product. Matches the reference's
  * IntervalJoinExec CollectLeft mode (interval_join.rs:394-413) in
  * Spark's physical-operator idiom (BinaryExecNode + UnsafeProjection
  * output), with the reference's probe-existence fast path for
  * semi/anti shapes (interval_join.rs:1014-1024). */
case class BroadcastIntervalJoinExec(
    contigs: Option[(Expression, Expression)],
    lStart: Expression, lEnd: Expression,
    rStart: Expression, rEnd: Expression,
    strictLe: Boolean, strictGe: Boolean,
    residual: Option[Expression],
    algorithm: String,
    joinType: JoinType,
    buildLeft: Boolean,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = joinType match {
    case Inner => left.output ++ right.output
    case RightOuter => left.output.map(_.withNullability(true)) ++ right.output
    case LeftOuter => left.output ++ right.output.map(_.withNullability(true))
    case LeftSemi | LeftAnti => left.output
    case t => throw new IllegalArgumentException(s"unsupported interval join type $t")
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  /** CollectLeft build ([[graft.ranges.IntervalBuild]]: collect,
    * per-contig index, one broadcast), started ASYNCHRONOUSLY at
    * [[doPrepare]] time on the shared build pool with the submitting
    * query's thread-locals captured (execution id, job group) — exactly
    * BroadcastExchangeExec's pattern. `prepare()` walks the whole tree
    * before any `doExecute()`, so a multi-probe query's several
    * interval builds overlap instead of serializing (~0.8 s of
    * back-to-back collect+build segments in the annotate e2e
    * timeline). A build row with a null contig or coordinate can never
    * satisfy the condition (SQL null comparison) and is not indexed. */
  @transient private lazy val buildFuture
      : java.util.concurrent.CompletableFuture[
        org.apache.spark.broadcast.Broadcast[
          (graft.core.RowBlock, Map[UTF8String, graft.index.IntervalStabber])]] =
    org.apache.spark.sql.GraftExecBridge.async {
      val buildPlan = if (buildLeft) left else right
      def bind(e: Expression) = BindReferences.bindReference(e, buildPlan.output)
      val rows = buildPlan.executeCollect()
      val groups = IntervalBuild.group(rows,
        contigs.map(c => bind(if (buildLeft) c._1 else c._2)),
        bind(if (buildLeft) lStart else rStart), bind(if (buildLeft) lEnd else rEnd))
      val indexes = IntervalBuild.index(groups)(g =>
        graft.index.IntervalIndexFactory.build(algorithm, g.starts, g.ends, g.rowIdx))
      // ONE broadcast of (packed row block, index map) — the packed
      // block serializes at memcpy speed instead of per-row
      // Externalizable writes, and the single torrent round halves the
      // broadcast bookkeeping per build (round 18)
      sparkContext.broadcast(
        (graft.core.RowBlock(rows, buildPlan.output.size), indexes))
    }

  override protected def doPrepare(): Unit = { buildFuture; () }

  protected override def doExecute(): RDD[InternalRow] = {
    val (_, probePlan) = if (buildLeft) (left, right) else (right, left)
    val (pStartE, pEndE) = if (buildLeft) (rStart, rEnd) else (lStart, lEnd)
    val bcBuild = org.apache.spark.sql.GraftExecBridge.await(buildFuture)
    val pc = contigs.map(c => BindReferences.bindReference(
      if (buildLeft) c._2 else c._1, probePlan.output))
    val ps = BindReferences.bindReference(pStartE, probePlan.output)
    val pe = BindReferences.bindReference(pEndE, probePlan.output)
    // Strict comparators fold into the probe bounds (the reference's
    // minus_one rewrite). The le conjunct is lStart <= rEnd, the ge
    // conjunct lEnd >= rStart — which strictness widens which probe
    // bound flips with the build side.
    val addQs = if (buildLeft) (if (strictGe) 1L else 0L) else (if (strictLe) 1L else 0L)
    val subQe = if (buildLeft) (if (strictLe) 1L else 0L) else (if (strictGe) 1L else 0L)
    val jt = joinType
    val bLeft = buildLeft
    val joinedAttrs = left.output ++ right.output
    val residualExpr = residual
    val outAttrs = output
    val buildArity = (if (buildLeft) left else right).output.size

    // Round-robin repartition when the probe scan under-parallelizes
    // (small parquet file -> one partition would serialize the whole
    // probe); mirrors the reference's RoundRobinBatch repartition of
    // the probe side (count_overlaps.rs:143-154). No-op at scale.
    val probeRdd0 = probePlan.execute()
    val target = sparkContext.defaultParallelism
    // Skip the widening when the probe subtree already went through a
    // shuffle: its partition count is then AQE's sizing decision (a
    // coalesced small stage), and re-widening it costs a full RDD
    // shuffle job that outweighs the parallelism it buys — measured
    // ~1 s per annotate invocation re-expanding a one-partition
    // aggregate output. Raw scan chains (a small parquet file reads
    // as ONE partition regardless of row count) still widen.
    val probeRdd =
      if (!graft.core.Parallelism.shuffled(probePlan) && probeRdd0.getNumPartitions < target)
        probeRdd0.map(_.copy()).repartition(target)
      else probeRdd0

    probeRdd.mapPartitionsWithIndex { (pidx, it) =>
      val joined = new JoinedRow
      val pred = residualExpr.map { e =>
        val p = Predicate.create(e, joinedAttrs); p.initialize(pidx); p
      }
      val nullBuild = new GenericInternalRow(buildArity)
      val proj = UnsafeProjection.create(outAttrs.map(_.dataType).toArray)
      val buildRows = bcBuild.value._1.rows
      val idxMap = bcBuild.value._2
      @inline def pair(buildRow: InternalRow, probeRow: InternalRow): JoinedRow =
        if (bLeft) joined(buildRow, probeRow) else joined(probeRow, buildRow)
      // per-PARTITION hit buffer (round 18): flatMap exhausts each
      // row's sub-iterator before pulling the next row, so the buffer
      // is never aliased across rows — one allocation per task instead
      // of one per probe row
      val hits = mutable.ArrayBuffer.empty[Int]
      it.flatMap { prow =>
        val key = pc match {
          case Some(b) => b.eval(prow).asInstanceOf[UTF8String]
          case None => UTF8String.EMPTY_UTF8
        }
        hits.clear()
        val qsv = ps.eval(prow); val qev = pe.eval(prow)
        // null contig / coordinate probes match nothing (SQL null
        // comparison): outer types null-extend, inner/semi drop, anti keeps
        if (key != null && qsv != null && qev != null)
          idxMap.get(key).foreach { idx =>
            val qs = IntervalBuild.asLong(qsv, "interval coordinate") + addQs
            val qe = IntervalBuild.asLong(qev, "interval coordinate") - subQe
            pred match {
              case Some(p) =>
                idx.query(qs, qe)(h => if (p.eval(pair(buildRows(h), prow))) hits += h)
              case None => idx.query(qs, qe)(hits += _)
            }
          }
        jt match {
          case Inner =>
            hits.iterator.map(h => proj(pair(buildRows(h), prow)))
          case RightOuter | LeftOuter =>
            if (hits.isEmpty) Iterator.single(proj(pair(nullBuild, prow)))
            else hits.iterator.map(h => proj(pair(buildRows(h), prow)))
          case LeftSemi =>
            if (hits.nonEmpty) Iterator.single(proj(prow)) else Iterator.empty
          case LeftAnti =>
            if (hits.isEmpty) Iterator.single(proj(prow)) else Iterator.empty
          case t => throw new IllegalArgumentException(s"unsupported interval join type $t")
        }
      }
    }
  }
}

/** Session-extensions entry point:
  * `SparkSession.Builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit =
    e.injectPlannerStrategy(_ => IntervalJoinStrategy)
}

object Graft {
  /** Runtime enablement on an existing session (no rebuild needed). */
  def enable(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(IntervalJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ IntervalJoinStrategy
}
