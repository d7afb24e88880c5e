package graft.ranges

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.core.{FilterOp, GraftConf, IntervalCols}
import graft.index.{CoverageIndex, NearestIndex, ScalarIndex}

/** The Partitioned (co-shuffle) probe modes — count, coverage, the
  * per-row count behind `overlap` left/left_distinct, nearest and
  * subtract — the scale path when the build side exceeds the
  * CollectLeft cap, mirroring the reference's `PartitionMode::Partitioned`
  * (interval_join.rs:393-406: `Distribution::HashPartitioned` on the
  * contig key for BOTH sides, per-partition index build, local probe).
  *
  * Spark expression: `Dataset.groupByKey(contig).cogroup` — Catalyst
  * plans one hash shuffle per side keyed on contig and streams each
  * co-partition through the SAME index kernel the broadcast path of
  * the mode builds ([[graft.index.ScalarIndex]] for count, coverage
  * and the left modes, [[graft.index.NearestIndex]],
  * [[graft.index.CoverageIndex]] runs for subtract), so the two paths
  * cannot diverge semantically. Memory bound: one contig's build rows
  * per salt on one task (the reference's Partitioned bound too);
  * contig-key skew is what the salt below splits (SURVEY §7.4). The
  * probe side streams through the iterator — only the build side of
  * each co-group materializes. The join mode keeps its grid
  * ([[Ranges.overlapPartitioned]]). */
object PartitionedJoin {
  import IntervalBuild.asLong

  /** Contig-key skew lever (`spark.bio.partitioned.saltFactor`,
    * default `auto`): with factor S the PROBE side of a co-group
    * splits into S salted sub-keys (deterministic, by start
    * position) and the BUILD side replicates into every salt — probe
    * parallelism on a hot contig multiplies by S while the per-task
    * build memory bound is unchanged (one contig's build rows, same
    * as the reference's Partitioned mode). Cost: the build shuffle
    * carries S copies and every contig's index is built S times. The
    * reference shares the un-salted skew (SURVEY §7.4).
    *
    * `auto` (reworked round 17, VERDICT r16 #1/#2) salts only when it
    * pays, decided in two tiers:
    *
    *  1. FREE gate (Catalyst plan stats, no job): replicating the
    *     build S× is paid for by the probe work it splits, so S is
    *     capped at probeBytes/buildBytes. Ratio <= 1, or a probe too
    *     small to fill two slices even at one byte per row, decides
    *     S = 1 with no probe pass at all — the common small-query-set
    *     vs large-annotation shape never pays a probe scan.
    *  2. BOUNDED per-contig estimate (one job over <= 16 strided
    *     partitions of one pruned column; each tallies the keys of its
    *     first 64k rows, counts the rest and scales its tally by the
    *     count):
    *     `S = clamp(min(ceil(maxContigRows × parallelism / totalRows),
    *     maxContigRows / minSliceRows, bytesRatio), 1, 8)`. The first
    *     term is the parallelism-deficit target (hot contig brought
    *     within a slot's share; 1 when contigs outnumber slots or rows
    *     spread evenly), the second is the per-salt work floor (a salt
    *     slice below `spark.bio.partitioned.saltMinSliceRows`, default
    *     128k probe rows, is not worth a task or an extra index
    *     build), the third is tier 1's replication-payback cap.
    *
    * An explicit integer conf value overrides (the equality spec
    * sweeps 1 / 3 / auto). */
  private val AutoSaltCap = 8
  private val SampledParts = 16
  private val SampleRowCap = 1 << 16

  /** The auto decision, exposed for the `salt` case of [[graft.Probe]] and the
    * decision spec; see the conf scaladoc above. */
  private[graft] def decideSalt(
      build: DataFrame, probe: DataFrame, contigCol: String): Int = {
    val sess = probe.sparkSession
    val minSlice = GraftConf.saltMinSliceRows(sess)
    def planBytes(df: DataFrame): BigInt =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    // Stat-less sentinel (VERDICT r17 #3): a checkpointed / RDD-backed
    // / streaming-static side has no real size — its leaves report
    // `spark.sql.defaultSizeInBytes`, both sides ratio to 1, and the
    // free gate would silently pin S = 1 for exactly the non-file
    // inputs the partitioned path serves. When EITHER side's stats
    // are unknown, skip the ratio cap entirely and let the bounded
    // sample + per-salt work floor decide.
    val sentinel = BigInt(sess.sessionState.conf.defaultSizeInBytes)
    def statless(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves()
        .exists(_.stats.sizeInBytes == sentinel)
    val statsUnknown = statless(probe) || statless(build)
    val pBytes = planBytes(probe)
    val ratioCap =
      if (statsUnknown) AutoSaltCap
      else (pBytes / planBytes(build).max(1)).min(AutoSaltCap).toInt
    if (!statsUnknown && (ratioCap <= 1 || pBytes < BigInt(2L * minSlice)))
      return 1
    // bounded sample: strided partitions, one pruned column (cast to
    // string so non-string contig keys — ints, chrom codes — read the
    // same way; ADVICE r17), key tallies row-capped. Caveat: the first-rows cap
    // over-represents the leading key on contig-SORTED partitions, so
    // on a clustered layout the estimate can over-salt — bounded by
    // ratioCap / AutoSaltCap, and replication cost is the only
    // downside (results are salt-invariant, equality-spec swept).
    val rdd = probe.select(col(contigCol).cast("string"))
      .where(col(contigCol).isNotNull).rdd
    val n = rdd.getNumPartitions
    if (n == 0) return 1
    val picks =
      if (n <= SampledParts) 0 until n
      else (0 until SampledParts).map(i => (i.toLong * n / SampledParts).toInt)
    val maps = sess.sparkContext.runJob(rdd, (it: Iterator[Row]) => {
      val m = mutable.HashMap.empty[String, Long]
      var k = 0L
      while (it.hasNext && k < SampleRowCap) {
        val c = it.next().getString(0)
        m.update(c, m.getOrElse(c, 0L) + 1L)
        k += 1
      }
      // past the cap the keys go untallied but the rows are counted:
      // the tally stands for the whole partition, not its first 64k
      var rows = k
      while (it.hasNext) { it.next(); rows += 1 }
      m.map { case (c, v) => c -> v.toDouble * rows / k }
    }, picks)
    val merged = mutable.HashMap.empty[String, Double]
    maps.foreach(_.foreach { case (c, v) =>
      merged.update(c, merged.getOrElse(c, 0.0) + v) })
    if (merged.isEmpty) return 1
    val scale = n.toDouble / picks.size
    val estMax = merged.values.max * scale
    val estTotal = merged.values.sum * scale
    val p = sess.sparkContext.defaultParallelism
    val sTarget = math.ceil(estMax * p / estTotal).toInt
    val sFloor = (estMax / minSlice).toInt
    math.max(1, math.min(math.min(sTarget, sFloor), ratioCap))
  }

  private def saltFactor(
      build: DataFrame, probe: DataFrame, contigCol: String): Int = {
    GraftConf.saltFactor(probe.sparkSession).getOrElse(decideSalt(build, probe, contigCol))
  }

  /** SQL's null rule, the broadcast paths' rule ([[IntervalBuild]]):
    * a row whose contig, start or end is null overlaps nothing. */
  private def complete(cols: IntervalCols): Column =
    col(cols.contig).isNotNull && col(cols.start).isNotNull && col(cols.end).isNotNull

  /** Co-group the complete build and probe rows by contig, salted by
    * [[saltFactor]] (a probe row's salt is its start modulo S; the
    * build replicates into every salt), and stream each co-partition
    * through `kernel` as plain Rows. A probe row with a null contig or
    * bound skips the shuffle and is emitted as `noMatch` of it, on a
    * (usually empty) side branch. */
  private def cogroupByContig(
      build: DataFrame, probe: DataFrame,
      bcols: IntervalCols, pcols: IntervalCols,
      outSchema: StructType, noMatch: Row => Row)(
      kernel: (Iterator[Row], Iterator[Row]) => Iterator[Row]): DataFrame = {
    val bci = build.schema.fieldIndex(bcols.contig)
    val pci = probe.schema.fieldIndex(pcols.contig)
    val psi = probe.schema.fieldIndex(pcols.start)
    val s = saltFactor(build, probe, pcols.contig)
    val b = build.where(complete(bcols))
    val p = probe.where(complete(pcols))
    val outEnc = Encoders.row(outSchema)
    val ds =
      if (s == 1) {
        val kvB = b.groupByKey(_.getString(bci))(Encoders.STRING)
        val kvP = p.groupByKey(_.getString(pci))(Encoders.STRING)
        kvB.cogroup(kvP) { (_: String, bIt: Iterator[Row], pIt: Iterator[Row]) =>
          kernel(bIt, pIt)
        }(outEnc)
      } else {
        val keyEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaInt)
        val bEnc = Encoders.tuple(Encoders.scalaInt, Encoders.row(build.schema))
        val pEnc = Encoders.tuple(Encoders.scalaInt, Encoders.row(probe.schema))
        val kvB = b.flatMap(r => Iterator.range(0, s).map(i => (i, r)))(bEnc)
          .groupByKey { case (i, r) => (r.getString(bci), i) }(keyEnc)
        val kvP = p.map(r => ((((asLong(r.get(psi), pcols.start) % s) + s) % s).toInt, r))(pEnc)
          .groupByKey { case (i, r) => (r.getString(pci), i) }(keyEnc)
        kvB.cogroup(kvP) { (_, bIt, pIt) => kernel(bIt.map(_._2), pIt.map(_._2)) }(outEnc)
      }
    ds.toDF().unionByName(probe.where(!complete(pcols)).map(noMatch)(outEnc).toDF())
  }

  /** F2 count / F3 coverage, and the per-row overlap count behind
    * `overlap` left/left_distinct, Partitioned mode. Output identical
    * to [[IntervalJoin.annotateCount]]: the probe rows + one Long column
    * `outName`, from the same [[graft.index.ScalarIndex]] kernel, built
    * per co-group from the build side's coordinates only (the
    * broadcast path collects the same three columns). A probe row
    * with a null contig or bound reads 0. */
  def annotateCount(
      build: DataFrame, probe: DataFrame,
      bcols: IntervalCols, pcols: IntervalCols,
      op: FilterOp, coverage: Boolean, outName: String): DataFrame = {
    val coords = build.select(col(bcols.contig).cast("string").as(bcols.contig),
      col(bcols.start).cast("long").as(bcols.start), col(bcols.end).cast("long").as(bcols.end))
    val psi = probe.schema.fieldIndex(pcols.start)
    val pei = probe.schema.fieldIndex(pcols.end)
    cogroupByContig(coords, probe, bcols, pcols,
        probe.schema.add(StructField(outName, LongType, nullable = false)),
        pr => Row.fromSeq(pr.toSeq :+ 0L)) { (bIt: Iterator[Row], pIt: Iterator[Row]) =>
      val ss = new mutable.ArrayBuilder.ofLong
      val ee = new mutable.ArrayBuilder.ofLong
      bIt.foreach { r => ss += r.getLong(1); ee += r.getLong(2) }
      val idx = ScalarIndex.build(ss.result(), ee.result(), coverage)
      pIt.map { pr =>
        val (qs, qe) = op.adjustQuery(
          asLong(pr.get(psi), pcols.start), asLong(pr.get(pei), pcols.end))
        Row.fromSeq(pr.toSeq :+ idx.valueOf(qs, qe))
      }
    }
  }

  /** F4 nearest, Partitioned mode. Output identical to
    * [[IntervalJoin.nearest]]: `left_*` (build) ++ `right_*` (probe)
    * [+ distance], NULL build columns when no candidate. `tieBreakCol`
    * is REQUIRED (integral): under a shuffle there is no stable
    * "arrival position" to break ties with, so determinism needs an
    * explicit rank column — the broadcast path's optional
    * driver-row-order fallback has no partitioned equivalent. */
  def nearestPartitioned(
      build: DataFrame, probe: DataFrame,
      bcols: IntervalCols, pcols: IntervalCols,
      op: FilterOp, k: Int, includeOverlaps: Boolean,
      computeDistance: Boolean, tieBreakCol: String): DataFrame = {
    val bSchema = build.schema
    val pSchema = probe.schema
    val outSchema = StructType(
      bSchema.fields.map(f => StructField("left_" + f.name, f.dataType, nullable = true)).toSeq ++
      pSchema.fields.map(f => StructField("right_" + f.name, f.dataType, f.nullable)) ++
      (if (computeDistance) Seq(StructField("distance", LongType, nullable = true)) else Nil))
    val bsi = bSchema.fieldIndex(bcols.start)
    val bei = bSchema.fieldIndex(bcols.end)
    val bti = bSchema.fieldIndex(tieBreakCol)
    val psi = pSchema.fieldIndex(pcols.start)
    val pei = pSchema.fieldIndex(pcols.end)
    val nullLeft: Seq[Any] = Seq.fill(bSchema.length)(null)
    // no candidate: null build columns (and distance)
    val noMatch = (pr: Row) => Row.fromSeq(nullLeft ++ pr.toSeq ++
      (if (computeDistance) Seq(null) else Nil))
    cogroupByContig(build, probe, bcols, pcols,
        outSchema, noMatch) { (bIt: Iterator[Row], pIt: Iterator[Row]) =>
      val bRows = bIt.toArray
      val idx =
        if (bRows.isEmpty) null
        else {
          val s = new Array[Long](bRows.length); val e = new Array[Long](bRows.length)
          val r = new Array[Long](bRows.length); val p = new Array[Int](bRows.length)
          var i = 0
          while (i < bRows.length) {
            s(i) = asLong(bRows(i).get(bsi), bcols.start)
            e(i) = asLong(bRows(i).get(bei), bcols.end)
            r(i) = asLong(bRows(i).get(bti), tieBreakCol)
            p(i) = i
            i += 1
          }
          NearestIndex.build(s, e, r, p)
        }
      pIt.flatMap { pr =>
        val pVals = pr.toSeq
        val (qs, qe) = op.adjustQuery(
          asLong(pr.get(psi), pcols.start), asLong(pr.get(pei), pcols.end))
        val out = mutable.ArrayBuffer.empty[Row]
        if (idx != null)
          idx.nearestK(qs, qe, k, includeOverlaps) { (pay, dist) =>
            out += Row.fromSeq(bRows(pay).toSeq ++ pVals ++
              (if (computeDistance) Seq(dist) else Nil))
          }
        if (out.isEmpty) out += noMatch(pr)
        out.iterator
      }
    }
  }

  /** F8 subtract, Partitioned mode. Output identical to
    * [[IntervalJoin.subtractFragments]]: the probe columns with
    * `start`/`end` replaced by the uncovered-fragment bounds (Long) —
    * nothing emitted for fully covered rows, the whole interval for
    * untouched rows. The subtrahend co-partition builds the SAME
    * op-consistent merged-run index as the broadcast path
    * ([[CoverageIndex.build]] `strictMerge`) and only its coordinate
    * arrays materialize per task. */
  def subtractPartitioned(
      left: DataFrame, right: DataFrame,
      lcols: IntervalCols, rcols: IntervalCols,
      op: FilterOp): DataFrame = {
    val lSchema = left.schema
    val rSchema = right.schema
    val outSchema = StructType(lSchema.fields.map { f =>
      if (f.name == lcols.start || f.name == lcols.end)
        StructField(f.name, LongType, f.nullable)
      else f
    })
    val lsi = lSchema.fieldIndex(lcols.start)
    val lei = lSchema.fieldIndex(lcols.end)
    val rsi = rSchema.fieldIndex(rcols.start)
    val rei = rSchema.fieldIndex(rcols.end)
    val strict = op.isStrict
    // overlaps nothing: the row whole, coords Long-cast like every
    // fragment row, nulls kept
    val whole = (lr: Row) => Row.fromSeq(lr.toSeq.zipWithIndex.map {
      case (v, i) if (i == lsi || i == lei) && v != null => asLong(v, "interval coordinate")
      case (v, _) => v
    })
    cogroupByContig(right, left, rcols, lcols,
        outSchema, whole) { (rIt: Iterator[Row], lIt: Iterator[Row]) =>
      val ss = mutable.ArrayBuffer.empty[Long]
      val ee = mutable.ArrayBuffer.empty[Long]
      rIt.foreach { rr =>
        ss += asLong(rr.get(rsi), rcols.start)
        ee += asLong(rr.get(rei), rcols.end)
      }
      val idx = CoverageIndex.build(ss.toArray, ee.toArray, strictMerge = strict)
      lIt.flatMap { lr =>
        val vals = lr.toSeq
        val ls = asLong(lr.get(lsi), lcols.start)
        val le = asLong(lr.get(lei), lcols.end)
        val out = mutable.ArrayBuffer.empty[Row]
        idx.gaps(ls, le, strict) { (fs, fe) =>
          out += Row.fromSeq(vals.zipWithIndex.map {
            case (_, i) if i == lsi => fs
            case (_, i) if i == lei => fe
            case (v, _) => v
          })
        }
        out.iterator
      }
    }
  }
}
