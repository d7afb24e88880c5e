package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Splice-term vocabulary for [[SpliceScan]]: rank-prefixed in the
  * annotate entry streams, plain in the standalone splice operator. */
final case class SpliceScanConf(
    acceptor: String, donor: String, donor5: String,
    region: String, donorRegion: String, ppt: String)

/** The six per-intron splice windows + the frameshift-intron and
  * intron-body predicates as ONE tight-loop codegen expression over
  * the per-transcript exon arrays: the one implementation behind both
  * [[graft.vep.Splice.spliceTerms]] (which documents the windows) and
  * the integrated annotate operator. Reference traceability:
  * transcript_consequence.rs:2670-2955 splice windows, 2552-2576
  * frameshift introns, 8123-8143 intron body. The expression derives
  * the introns (gaps between the sorted starts and the sorted ends)
  * and evaluates every window in one JVM pass. The DuckDB oracle
  * keeps an independent SQL formulation (VepSpliceQueries), so the
  * engines cross-check.
  *
  * children = (esArr, eeArr, vs, ve, isins, strand). Null exon
  * arrays or coordinates yield null (matching the lambda chain's
  * null propagation). Output:
  * struct<terms: array<string>, fs: boolean, body: boolean,
  * longov: boolean> — terms deduped in first-occurrence order
  * (array_distinct parity), empty (not null) for transcripts with
  * < 2 exons; `longov` = a NON-frameshift intron's span overlaps the
  * (non-insertion) event, the complex-indel reach predicate
  * (transcript_consequence.rs:1850-1866). */
case class SpliceScan(children: Seq[Expression], conf: SpliceScanConf)
    extends Expression {

  require(children.length == 6, "SpliceScan(es, ee, vs, ve, isins, strand)")

  /** eval/codegen read primitive slots — reject mistyped inputs at
    * ANALYSIS time (the builder casts, but a hand-constructed
    * expression must fail loudly, not ClassCastException per row). */
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    val expected: Seq[(String, DataType => Boolean)] = Seq(
      "es" -> { case ArrayType(LongType, _) => true; case _ => false },
      "ee" -> { case ArrayType(LongType, _) => true; case _ => false },
      "vs" -> (_ == LongType), "ve" -> (_ == LongType),
      "isins" -> (_ == BooleanType), "strand" -> (_ == IntegerType))
    expected.zip(children).collectFirst {
      case ((name, ok), c) if !ok(c.dataType) =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_splice_scan input '$name' has type ${c.dataType.sql}; " +
            "expected (ARRAY<BIGINT>, ARRAY<BIGINT>, BIGINT, BIGINT, BOOLEAN, INT)")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  override def dataType: DataType = StructType(Seq(
    StructField("terms", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("fs", BooleanType, nullable = false),
    StructField("body", BooleanType, nullable = false),
    StructField("longov", BooleanType, nullable = false)))
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = "graft_splice_scan"

  @transient private lazy val tAcceptor = UTF8String.fromString(conf.acceptor)
  @transient private lazy val tDonor = UTF8String.fromString(conf.donor)
  @transient private lazy val tDonor5 = UTF8String.fromString(conf.donor5)
  @transient private lazy val tRegion = UTF8String.fromString(conf.region)
  @transient private lazy val tDonorRegion = UTF8String.fromString(conf.donorRegion)
  @transient private lazy val tPpt = UTF8String.fromString(conf.ppt)

  def scan(esA: ArrayData, eeA: ArrayData, vs: Long, ve: Long,
      isins: Boolean, strand: Int): InternalRow = {
    val n = esA.numElements()
    val out = new GenericInternalRow(4)
    if (n < 2) {
      out.update(0, new GenericArrayData(Array.empty[Any]))
      out.setBoolean(1, false); out.setBoolean(2, false); out.setBoolean(3, false)
      return out
    }
    val es = new Array[Long](n); val ee = new Array[Long](n)
    var i = 0
    while (i < n) { es(i) = esA.getLong(i); ee(i) = eeA.getLong(i); i += 1 }
    java.util.Arrays.sort(es); java.util.Arrays.sort(ee)
    // introns: [ee(k-1)+1, es(k)-1], kept when non-empty
    val nIn = n - 1
    val ins = new Array[Long](nIn); val ine = new Array[Long](nIn)
    var m = 0
    var hasFs = false
    i = 1
    while (i < n) {
      val s = ee(i - 1) + 1; val e = es(i) - 1
      if (e >= s) {
        ins(m) = s; ine(m) = e
        if (e - s <= 12) hasFs = true
        m += 1
      }
      i += 1
    }
    val plus = strand == 1
    val p = vs
    @inline def ov(x: Long, y: Long): Boolean = !isins && vs <= y && ve >= x
    @inline def ip(x: Long, y: Long): Boolean = isins && p >= x && p <= y
    var fs = false; var body = false; var longOv = false
    // dedup in first-occurrence order == array_distinct over the
    // flattened per-intron arrays in their literal element order
    var hasAcc = false; var hasDon = false; var hasD5 = false
    var hasReg = false; var hasDR = false; var hasPpt = false
    val terms = new java.util.ArrayList[AnyRef](6)
    i = 0
    while (i < m) {
      val is_ = ins(i); val ie_ = ine(i)
      val short = ie_ - is_ <= 12
      if (short && (if (isins) p > is_ && p <= ie_ else vs <= ie_ && ve >= is_))
        fs = true
      if (!short && (if (isins) vs >= is_ + 2 && vs <= ie_ - 1
                     else vs <= ie_ - 2 && ve >= is_ + 2))
        body = true
      if (!short && !isins && vs <= ie_ && ve >= is_)
        longOv = true
      val fsSkip = short &&
        (if (isins) p > is_ && p <= ie_ else vs <= ie_ && ve >= is_)
      if (!fsSkip) {
        val donor =
          if (plus) ov(is_, is_ + 1) || ip(is_ + 1, is_ + 1)
          else ov(ie_ - 1, ie_) || ip(ie_, ie_)
        val donor5 =
          if (plus) ov(is_ + 4, is_ + 4) else ov(ie_ - 4, ie_ - 4)
        val donorRegion =
          if (plus) ov(is_ + 2, is_ + 5) || ip(is_ + 3, is_ + 5)
          else ov(ie_ - 5, ie_ - 2) || ip(ie_ - 4, ie_ - 2)
        val acceptor =
          if (plus) ov(ie_ - 1, ie_) || ip(ie_, ie_)
          else ov(is_, is_ + 1) || ip(is_ + 1, is_ + 1)
        val withinIntron = !isins && vs >= is_ && ve <= ie_
        val insIn = p > is_ && p <= ie_
        val pptRaw =
          if (plus) (withinIntron && ov(ie_ - 16, ie_ - 2)) ||
            (ip(ie_ - 16, ie_ - 1) && insIn)
          else (withinIntron && ov(is_ + 2, is_ + 16)) ||
            (ip(is_ + 2, is_ + 17) && insIn)
        val deep =
          if (isins) p > is_ + 11 && p < ie_ - 10
          else vs > is_ + 11 && ve < ie_ - 11
        val ppt = pptRaw && (!hasFs || deep)
        val spliceRegion =
          ov(is_ + 2, is_ + 7) || ov(ie_ - 7, ie_ - 2) ||
          ov(is_ - 3, is_ - 1) || ov(ie_ + 1, ie_ + 3) ||
          ip(is_ + 3, is_ + 7) || ip(ie_ - 6, ie_ - 2) ||
          ip(is_ - 2, is_ - 1) || ip(ie_ + 2, ie_ + 3) ||
          (isins && (p == is_ || p == ie_ + 1 || p == is_ + 2 || p == ie_ - 1))
        // element order matches the lambda's literal array:
        // acceptor, donor, donor5, region, donorRegion, ppt
        if (acceptor && !hasAcc) { hasAcc = true; terms.add(tAcceptor) }
        if (donor && !hasDon) { hasDon = true; terms.add(tDonor) }
        if (donor5 && !hasD5) { hasD5 = true; terms.add(tDonor5) }
        if (spliceRegion && !hasReg) { hasReg = true; terms.add(tRegion) }
        if (donorRegion && !hasDR) { hasDR = true; terms.add(tDonorRegion) }
        if (ppt && !hasPpt) { hasPpt = true; terms.add(tPpt) }
      }
      i += 1
    }
    out.update(0, new GenericArrayData(terms.toArray))
    out.setBoolean(1, fs); out.setBoolean(2, body); out.setBoolean(3, longOv)
    out
  }

  override def eval(input: InternalRow): Any = {
    val esV = children(0).eval(input)
    val eeV = children(1).eval(input)
    val vsV = children(2).eval(input)
    val veV = children(3).eval(input)
    val insV = children(4).eval(input)
    val stV = children(5).eval(input)
    if (esV == null || eeV == null || vsV == null || veV == null ||
      insV == null || stV == null) null
    else scan(esV.asInstanceOf[ArrayData], eeV.asInstanceOf[ArrayData],
      vsV.asInstanceOf[Long], veV.asInstanceOf[Long],
      insV.asInstanceOf[Boolean], stV.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("graftSpliceScan", this, classOf[SpliceScan].getName)
    val gens = children.map(_.genCode(ctx))
    val anyNull = gens.filter(_.isNull != FalseLiteral)
      .map(g => s"${g.isNull}").mkString(" || ")
    val nullCheck = if (anyNull.isEmpty) "false" else anyNull
    val childCode = gens.map(_.code.toString).mkString("\n")
    val rowCls = classOf[InternalRow].getName
    val c =
      code"""
        $childCode
        boolean ${ev.isNull} = $nullCheck;
        $rowCls ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = $ref.scan(${gens(0).value}, ${gens(1).value},
            ${gens(2).value}, ${gens(3).value}, ${gens(4).value}, ${gens(5).value});
        }"""
    ev.copy(code = c)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
