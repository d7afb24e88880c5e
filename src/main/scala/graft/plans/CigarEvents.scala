package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, SpecificInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.pileup.CigarWalk

/** Depth's coverage events as ONE generator inside the engine's own
  * `Generate` operator: a read aligned at `start` (1-based, BIGINT)
  * with a `cigar` (BAM-packed BINARY or text STRING) yields one
  * `(pos, +1)` row per covered segment start and one `(pos, -1)` row
  * per segment end ([[graft.pileup.CigarWalk]], the one walker). A
  * null input yields no rows. The other input columns (depth keeps
  * `chrom`) pass through `Generate` untouched, and the walk reads the
  * engine's own binary and string values without converting them.
  *
  * Codegen: the generated loop keeps one [[CigarEventRows]] per
  * partition and re-walks it per input row; `GenerateExec` iterates it
  * in the same whole-stage method as the scan, filter and partial
  * aggregate around it. */
case class CigarEvents(start: Expression, cigar: Expression)
    extends Generator with BinaryLike[Expression] {

  override def left: Expression = start
  override def right: Expression = cigar

  override def checkInputDataTypes(): TypeCheckResult =
    if (start.dataType != LongType || !CigarEvents.cigarTypes.contains(cigar.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"graft_cigar_events takes (BIGINT, BINARY or STRING), got " +
          s"(${start.dataType.sql}, ${cigar.dataType.sql})")
    else TypeCheckResult.TypeCheckSuccess

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", LongType, nullable = false),
    StructField("delta", LongType, nullable = false)))
  override def prettyName: String = "graft_cigar_events"

  /** Interpreted path: fresh rows, so no caller sees a reused one. */
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = start.eval(input)
    val c = cigar.eval(input)
    if (s == null || c == null) Nil
    else {
      val w = new CigarWalk
      val n = c match {
        case b: Array[Byte] => w.walkPacked(s.asInstanceOf[Long], b)
        case t: UTF8String => w.walkText(s.asInstanceOf[Long], t)
      }
      (0 until n).map(i => InternalRow(w.bound(i), CigarEvents.delta(i)))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val cls = classOf[CigarEventRows].getName
    val rows = ctx.addMutableState(cls, "cigarEvents", v => s"$v = new $cls();",
      forceInline = true)
    val s = start.genCode(ctx)
    val c = cigar.genCode(ctx)
    val walk = if (cigar.dataType == BinaryType) "walkPacked" else "walkText"
    ev.copy(code =
      code"""
        ${s.code}
        ${c.code}
        if (${s.isNull} || ${c.isNull}) $rows.clear();
        else $rows.$walk(${s.value}, ${c.value});
        $cls ${ev.value} = $rows;""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CigarEvents =
    copy(start = newLeft, cigar = newRight)
}

object CigarEvents {
  private val cigarTypes: Set[DataType] = Set(BinaryType, StringType)
  @inline private[plans] def delta(i: Int): Long = if ((i & 1) == 0) 1L else -1L
}

/** The generated loop's per-partition event iterator: one walker and
  * one mutable `(pos, delta)` row, reused for every read. A row stays
  * valid until the next `next()` — the generated consumer reads both
  * fields before it advances. */
final class CigarEventRows extends scala.collection.AbstractIterator[InternalRow] {
  private val walk = new CigarWalk
  private val row = new SpecificInternalRow(Seq(LongType, LongType))
  private var i = 0
  private var n = 0

  def clear(): Unit = { i = 0; n = 0 }
  def walkPacked(start: Long, packed: Array[Byte]): Unit = {
    i = 0; n = walk.walkPacked(start, packed)
  }
  def walkText(start: Long, cigar: UTF8String): Unit = {
    i = 0; n = walk.walkText(start, cigar)
  }
  override def hasNext: Boolean = i < n
  override def next(): InternalRow = {
    row.setLong(0, walk.bound(i))
    row.setLong(1, CigarEvents.delta(i))
    i += 1
    row
  }
}
