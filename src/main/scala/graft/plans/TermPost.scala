package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Term vocabulary for [[TermPost]], all strings rank-PREFIXED
  * ("NNterm"): the coding-child set, the specific splice set, the
  * stop-ish set, and the five parent/special terms. A plain
  * serializable value so the expression canonicalizes and ships. */
final case class TermPostConf(
    codingChildren: Seq[String],
    spliceSpecific: Seq[String],
    stopish: Seq[String],
    coding: String, pav: String, sdr: String, sr: String,
    itc: String, s5b: String)

/** Per-entry consequence-term post-processing as ONE tight-loop
  * codegen expression: parent-term strip (`strip_parent_terms`,
  * transcript_consequence.rs:3099-3161), severity-sorted '&'-joined
  * term string, and best (minimum) severity rank — over the
  * rank-prefixed ("NNterm") representation.
  *
  * Replaces a chain of five higher-order-function expressions
  * (filter-with-contains strip, array_sort, transform, array_join,
  * array_min): Spark's HOFs are CodegenFallback, so each evaluated
  * its lambda per array element through interpreted Catalyst eval in
  * the hottest render stage. Semantics byte-identical to
  * [[graft.vep.Annotate.stripParentsSql]] — the DuckDB oracle keeps
  * the SQL formulation, so the engines cross-check each other.
  *
  * Output: struct<t2: array<string>, ts: string, b: int> =
  * (stripped terms in input order, severity-sorted stripped NAMES
  * '&'-joined, min rank). Null input -> null. Strip can never empty
  * the array (a parent is only dropped when a child is present). */
case class TermPost(child: Expression, conf: TermPostConf)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("t2", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("ts", StringType, nullable = false),
    StructField("b", IntegerType, nullable = false)))
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_term_post"

  @transient private lazy val childSet = mkSet(conf.codingChildren)
  @transient private lazy val spliceSet = mkSet(conf.spliceSpecific)
  @transient private lazy val stopSet = mkSet(conf.stopish)
  @transient private lazy val tCoding = UTF8String.fromString(conf.coding)
  @transient private lazy val tPav = UTF8String.fromString(conf.pav)
  @transient private lazy val tSdr = UTF8String.fromString(conf.sdr)
  @transient private lazy val tSr = UTF8String.fromString(conf.sr)
  @transient private lazy val tItc = UTF8String.fromString(conf.itc)
  @transient private lazy val tS5b = UTF8String.fromString(conf.s5b)

  private def mkSet(xs: Seq[String]): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    xs.foreach(x => s.add(UTF8String.fromString(x)))
    s
  }

  def post(arr: ArrayData): TermPostResult = {
    val n = arr.numElements()
    var hasChild = false; var hasPav = false; var hasS5b = false
    var hasSplSpec = false; var hasStop = false
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      if (childSet.contains(t)) hasChild = true
      if (tPav.equals(t)) hasPav = true
      if (tS5b.equals(t)) hasS5b = true
      if (spliceSet.contains(t)) hasSplSpec = true
      if (stopSet.contains(t)) hasStop = true
      i += 1
    }
    val kept = new java.util.ArrayList[UTF8String](n)
    i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      val drop =
        (tCoding.equals(t) && (hasChild || hasPav)) ||
        (tPav.equals(t) && hasChild) ||
        (tSdr.equals(t) && hasS5b) ||
        (tSr.equals(t) && hasSplSpec) ||
        (tItc.equals(t) && hasStop)
      if (!drop) kept.add(t)
      i += 1
    }
    val k = kept.size()
    val t2 = new Array[AnyRef](k)
    val sorted = new Array[AnyRef](k)
    i = 0
    while (i < k) { t2(i) = kept.get(i); sorted(i) = kept.get(i); i += 1 }
    // UTF8String's Comparable = binary order, identical to Spark's
    // array_sort over StringType (terms are ASCII)
    java.util.Arrays.sort(sorted)
    var best = 99
    val sb = new java.lang.StringBuilder(16 * math.max(k, 1))
    i = 0
    while (i < k) {
      val p = sorted(i).asInstanceOf[UTF8String].toString
      if (i == 0) best = (p.charAt(0) - '0') * 10 + (p.charAt(1) - '0')
      else sb.append('&')
      sb.append(p, 2, p.length)
      i += 1
    }
    new TermPostResult(new GenericArrayData(t2),
      UTF8String.fromString(sb.toString), best)
  }

  override protected def nullSafeEval(v: Any): Any = {
    val r = post(v.asInstanceOf[ArrayData])
    val row = new GenericInternalRow(3)
    row.update(0, r.t2); row.update(1, r.ts); row.setInt(2, r.b)
    row
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftTermPost", this, classOf[TermPost].getName)
    val cls = classOf[TermPostResult].getName
    // fresh local names: two TermPost columns may share one method
    val r = ctx.freshName("termPost")
    val row = ctx.freshName("termPostRow")
    nullSafeCodeGen(ctx, ev, c =>
      s"""$cls $r = $ref.post($c);
         |org.apache.spark.sql.catalyst.expressions.GenericInternalRow $row =
         |  new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3);
         |$row.update(0, $r.t2()); $row.update(1, $r.ts()); $row.setInt(2, $r.b());
         |${ev.value} = $row;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Plain result carrier for [[TermPost.post]] (no tuple boxing in the
  * generated code). */
final class TermPostResult(val t2: GenericArrayData, val ts: UTF8String, val b: Int)
