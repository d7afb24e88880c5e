package graft.ranges

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.DurationInt
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import graft.core.IntervalCols

/** One contig's build intervals as parallel arrays. `rowIdx(i)` is the
  * interval's position in the collected rows; `rank(i)` its tie-break
  * order (the row position unless a rank column was given). */
final class ContigRows(
    val starts: Array[Long], val ends: Array[Long], val rowIdx: Array[Int],
    ranks: Array[Long]) {
  def rank: Array[Long] = if (ranks != null) ranks else rowIdx.map(_.toLong)
}

/** The one CollectLeft build behind every broadcast interval path —
  * the reference's collect_left_input (interval_join.rs:584-668):
  * collect the build rows once, group them by a copied `UTF8String`
  * contig into per-contig arrays, and build each contig's index
  * concurrently. [[graft.plans.BroadcastIntervalJoinExec]], the
  * broadcast [[Ranges]] modes ([[IntervalJoin]]) and the static side
  * of [[graft.streaming.IntervalStreams]] all build here.
  *
  * The null rule is SQL's, because the interval strategy rewrites
  * ordinary user joins and must return Spark's stock answer: a row
  * whose contig, start or end is null satisfies no overlap predicate.
  * On the build side it is not indexed (its row keeps its position in
  * the collected array); each probe returns its mode's no-match result
  * for it (graft.plans.IndexProbe). The partitioned paths apply the
  * same rule ([[PartitionedJoin]]). */
object IntervalBuild {

  /** An integral coordinate as Long. */
  def asLong(v: Any, what: String): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case null => throw new IllegalArgumentException(s"null $what")
    case other => throw new IllegalArgumentException(
      s"$what must be integral, got ${other.getClass.getSimpleName}")
  }

  private final class Acc {
    val s = new mutable.ArrayBuilder.ofLong
    val e = new mutable.ArrayBuilder.ofLong
    val p = new mutable.ArrayBuilder.ofInt
    val r = new mutable.ArrayBuilder.ofLong
  }

  /** Group `rows` by contig (every row under one empty key when
    * `contig` is None), skipping rows with a null contig, start or end.
    * The expressions are bound to the rows' schema. */
  def group(rows: Array[InternalRow], contig: Option[Expression],
      start: Expression, end: Expression,
      rank: Option[Expression] = None): Map[UTF8String, ContigRows] = {
    val keyOf: InternalRow => UTF8String = contig match {
      case Some(c) => r => c.eval(r).asInstanceOf[UTF8String]
      case None => _ => UTF8String.EMPTY_UTF8
    }
    val groups = mutable.HashMap.empty[UTF8String, Acc]
    var i = 0
    while (i < rows.length) {
      val row = rows(i)
      val key = keyOf(row)
      val sv = start.eval(row); val ev = end.eval(row)
      if (key != null && sv != null && ev != null) {
        val g = groups.getOrElse(key, { val a = new Acc; groups(key.copy()) = a; a })
        g.s += asLong(sv, "interval start"); g.e += asLong(ev, "interval end"); g.p += i
        rank.foreach(r => g.r += asLong(r.eval(row), "tie-break rank"))
      }
      i += 1
    }
    groups.iterator.map { case (k, g) =>
      k -> new ContigRows(g.s.result(), g.e.result(), g.p.result(),
        if (rank.isEmpty) null else g.r.result())
    }.toMap
  }

  /** Build every contig's index concurrently (a genome has ~25
    * contigs; each build is an independent sort). */
  def index[B](groups: Map[UTF8String, ContigRows])(f: ContigRows => B): Map[UTF8String, B] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(
      Future.sequence(groups.map { case (k, g) => Future(k -> f(g)) }),
      10.minutes).toMap
  }

  /** Collect `df`'s rows once (InternalRows straight off the wire, no
    * external-Row conversion) and group them by `cols` (`rank` names
    * an integral tie-break column). */
  def collect(df: DataFrame, cols: IntervalCols, rank: Option[String] = None)
      : (Array[InternalRow], Map[UTF8String, ContigRows]) = {
    val rows = df.queryExecution.executedPlan.executeCollect()
    def ref(name: String): Expression = {
      val i = df.schema.fieldIndex(name)
      BoundReference(i, df.schema(i).dataType, nullable = true)
    }
    (rows, group(rows, Some(ref(cols.contig)), ref(cols.start), ref(cols.end), rank.map(ref)))
  }

  /** Per-contig indexes over `df`'s intervals, collecting only the
    * three coordinate columns. */
  def indexes[B](df: DataFrame, cols: IntervalCols)(f: ContigRows => B): Map[UTF8String, B] =
    index(collect(df.select(col(cols.contig).cast("string").as(cols.contig),
      col(cols.start).cast("long").as(cols.start),
      col(cols.end).cast("long").as(cols.end)), cols)._2)(f)
}
