package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.FilterOp
import graft.index.{CoverageIndex, NearestIndex, ScalarIndex}

/** Codegen probe expressions over broadcast per-contig indexes
  * ([[graft.ranges.IntervalBuild]]), covering the probe shapes of
  * SURVEY.md §2 F2/F3/F4/F8: a `doGenCode` Expression, so no boxing
  * through a Function3 closure and no CatalystTypeConverters on the
  * result. Each is a TernaryExpression over (contig, start, end) with
  * the broadcast index and options carried as constructor fields
  * (shipped to executors via `ctx.addReferenceObj`, exactly how
  * Spark's own subquery/broadcast expressions travel). The broadcast
  * maps are keyed by `UTF8String`, so a probe looks its contig up
  * without decoding it.
  *
  * A row with a null contig, start or end takes part in no overlap
  * (SQL's null rule, the same as the build side's): the probe returns
  * [[noMatch]], the mode's no-match result, and is never null. */
abstract class IndexProbe extends TernaryExpression {
  def contig: Expression
  def start: Expression
  def end: Expression

  /** The result for a row that matches nothing. */
  def noMatch: Any

  override def first: Expression = contig
  override def second: Expression = start
  override def third: Expression = end
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val c = contig.eval(input); val s = start.eval(input); val e = end.eval(input)
    if (c == null || s == null || e == null) noMatch else nullSafeEval(c, s, e)
  }

  /** Generated code calls the subclass's own `probe(UTF8String, long,
    * long)`. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftProbe", this, getClass.getName)
    val miss = Literal(noMatch, dataType).genCode(ctx)
    val c = contig.genCode(ctx); val s = start.genCode(ctx); val e = end.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      ${c.code}
      ${s.code}
      ${e.code}
      ${miss.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = (${c.isNull} || ${s.isNull} || ${e.isNull})
        ? ${miss.value} : $ref.probe(${c.value}, ${s.value}, ${e.value});""")
  }
}

/** F2 count_overlaps / F3 coverage probe: one Long per probe row from
  * a [[graft.index.ScalarIndex]] (two-sorted-arrays counter or
  * merged-run coverage index — interval_tree.rs:20-50,104-152). Rows
  * whose contig has no build intervals yield 0 (count_overlaps.rs
  * emits 0 rows, not NULLs), and so do rows with a null input. */
case class ScalarIndexProbe(
    contig: Expression, start: Expression, end: Expression,
    bc: Broadcast[Map[UTF8String, ScalarIndex]],
    op: FilterOp) extends IndexProbe {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_scalar_index_probe"
  override def noMatch: Any = 0L

  def probe(c: UTF8String, qs0: Long, qe0: Long): Long =
    bc.value.get(c) match {
      case Some(idx) => val (qs, qe) = op.adjustQuery(qs0, qe0); idx.valueOf(qs, qe)
      case None => 0L
    }

  override protected def nullSafeEval(c: Any, s: Any, e: Any): Any =
    probe(c.asInstanceOf[UTF8String], s.asInstanceOf[Long], e.asInstanceOf[Long])

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(contig = newFirst, start = newSecond, end = newThird)
}

/** F4 nearest probe: up to k nearest build intervals per probe row in
  * the reference's (overlaps-first, then (distance, start, end,
  * position)) order (nearest_index.rs:91-190). Returns
  * `array<struct<lidx int, dist bigint>>`; a single `(-1, -1)`
  * sentinel when no candidate exists, so the downstream explode keeps
  * the probe row and the broadcast join LEFT-extends NULL build
  * columns (tests/integration_test.rs:1302). */
case class NearestProbe(
    contig: Expression, start: Expression, end: Expression,
    bc: Broadcast[Map[UTF8String, NearestIndex]],
    op: FilterOp, k: Int, includeOverlaps: Boolean) extends IndexProbe {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("lidx", IntegerType, nullable = false),
      StructField("dist", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_nearest_probe"

  private def cand(lidx: Int, dist: Long): InternalRow = {
    val r = new GenericInternalRow(2)
    r.setInt(0, lidx); r.setLong(1, dist)
    r
  }

  override def noMatch: Any = new GenericArrayData(Array[Any](cand(-1, -1L)))

  def probe(c: UTF8String, qs0: Long, qe0: Long): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    bc.value.get(c).foreach { idx =>
      val (qs, qe) = op.adjustQuery(qs0, qe0)
      idx.nearestK(qs, qe, k, includeOverlaps)((p, d) => out += cand(p, d))
    }
    if (out.isEmpty) out += cand(-1, -1L)
    new GenericArrayData(out.toArray)
  }

  override protected def nullSafeEval(c: Any, s: Any, e: Any): Any =
    probe(c.asInstanceOf[UTF8String], s.asInstanceOf[Long], e.asInstanceOf[Long])

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(contig = newFirst, start = newSecond, end = newThird)
}

/** F8 subtract probe: the uncovered fragments of each probe interval
  * against the broadcast merged-run index
  * ([[graft.index.CoverageIndex.gaps]] — subtract.rs:391-442
  * semantics). Returns `array<struct<fs bigint, fe bigint>>`; empty
  * when fully covered (the row vanishes from the explode — matching
  * the reference, which emits no fragment), the whole interval when
  * untouched, and one `(null, null)` fragment for a row with a null
  * input, which the caller passes through with its own bounds. One
  * map-side pass over the probe table — no join, no window, no
  * per-contig cross product. */
case class SubtractProbe(
    contig: Expression, start: Expression, end: Expression,
    bc: Broadcast[Map[UTF8String, CoverageIndex]],
    op: FilterOp) extends IndexProbe {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("fs", LongType), StructField("fe", LongType))),
    containsNull = false)
  override def prettyName: String = "graft_subtract_probe"
  override def noMatch: Any = new GenericArrayData(Array[Any](new GenericInternalRow(2)))

  def probe(c: UTF8String, ls: Long, le: Long): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    def frag(fs: Long, fe: Long): Unit = {
      val r = new GenericInternalRow(2)
      r.setLong(0, fs); r.setLong(1, fe)
      out += r
    }
    bc.value.get(c) match {
      case Some(idx) => idx.gaps(ls, le, op.isStrict)(frag)
      case None => frag(ls, le)
    }
    new GenericArrayData(out.toArray)
  }

  override protected def nullSafeEval(c: Any, s: Any, e: Any): Any =
    probe(c.asInstanceOf[UTF8String], s.asInstanceOf[Long], e.asInstanceOf[Long])

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(contig = newFirst, start = newSecond, end = newThird)
}
