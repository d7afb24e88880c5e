package graft.vep

/** VCF→VEP allele normalization + matching, mirroring the reference's
  * scalar UDF semantics (bio-function-vep/src/allele.rs, which itself
  * ports Ensembl VEP `Parser::VCF::create_VariationFeatures` /
  * ensembl-variation `trim_sequences()`):
  *
  *  - SNV pairs (both length 1) are returned untouched;
  *  - otherwise the shared prefix is trimmed; the shared suffix is
  *    trimmed only for INDELs (length-different pairs), never MNVs
  *    (allele.rs:283-330);
  *  - empty results render as "-";
  *  - normalized coordinates: start = pos + prefixLen,
  *    end = pos + len(ref) - 1 - suffixLen (start > end for
  *    insertions — VEP convention, allele.rs:751-773);
  *  - matching accepts multi-allelic ALT split on '|' or ',', compares
  *    against a "REF/ALT1/ALT2" cache allele string, left-first
  *    trimmed, with a right-first-trim fallback per cache allele
  *    (allele.rs:391-460).
  *
  * Each VCF record is trimmed ONCE: [[event]] runs the one
  * prefix/suffix scan and returns the whole trimmed event —
  * [[Event]] (norm_start, norm_end, vep_ref, vep_alt). On the Spark
  * side it is the one UDF [[Vep.vepEvent]], a struct column that every
  * consumer (lookup keys, the transcript probe, splice candidacy,
  * 3'-shift, VARIANT_CLASS allele) stages once per site and reads by
  * field. An SNV is the trivial event: norm_start = norm_end = pos,
  * alleles untouched, never an insertion (vep_ref = "-" marks one).
  */
object Allele {

  /** (prefixLen, suffixLen) per VEP trim rules (allele.rs:703-732). */
  def prefixSuffixLen(ref: String, alt: String): (Int, Int) = {
    if (ref.length == 1 && alt.length == 1) return (0, 0)
    var p = 0
    val minLen = math.min(ref.length, alt.length)
    while (p < minLen && ref.charAt(p) == alt.charAt(p)) p += 1
    var s = 0
    if (ref.length != alt.length) {
      val refRem = ref.length - p
      val altRem = alt.length - p
      while (s < refRem && s < altRem &&
             ref.charAt(ref.length - 1 - s) == alt.charAt(alt.length - 1 - s)) s += 1
    }
    (p, s)
  }

  private def dash(s: String): String = if (s.isEmpty) "-" else s

  /** A VCF record's trimmed VEP event: normalized 1-based span
    * (norm_start > norm_end for insertions) and minimal alleles. */
  final case class Event(norm_start: Long, norm_end: Long, vep_ref: String, vep_alt: String)

  /** The trimmed event of (pos, ref, alt) from one prefix/suffix scan
    * (allele.rs:283-330, 751-773). */
  def event(pos: Long, ref: String, alt: String): Event = {
    val (p, s) = prefixSuffixLen(ref, alt)
    Event(pos + p, pos + ref.length - 1 - s,
      dash(ref.substring(p, ref.length - s)), dash(alt.substring(p, alt.length - s)))
  }

  /** Minimal VEP (ref, alt) pair (allele.rs:283-330). */
  def vcfToVepAllele(ref: String, alt: String): (String, String) = {
    if (ref.length == 1 && alt.length == 1) return (ref, alt)
    val (p, s) = prefixSuffixLen(ref, alt)
    (dash(ref.substring(p, ref.length - s)), dash(alt.substring(p, alt.length - s)))
  }

  def vepNormStart(pos: Long, ref: String, alt: String): Long =
    pos + prefixSuffixLen(ref, alt)._1

  def vepNormEnd(pos: Long, ref: String, alt: String): Long =
    pos + ref.length - 1 - prefixSuffixLen(ref, alt)._2

  /** Right-first trim: shared suffix first, then shared prefix
    * (allele.rs:427-460). */
  def trimRightFirst(ref: String, alt: String): (String, String) = {
    var rEnd = ref.length; var aEnd = alt.length
    while (rEnd > 0 && aEnd > 0 && ref.charAt(rEnd - 1) == alt.charAt(aEnd - 1)) {
      rEnd -= 1; aEnd -= 1
    }
    var rStart = 0; var aStart = 0
    while (rStart < rEnd && aStart < aEnd && ref.charAt(rStart) == alt.charAt(aStart)) {
      rStart += 1; aStart += 1
    }
    (dash(ref.substring(rStart, rEnd)), dash(alt.substring(aStart, aEnd)))
  }

  /** Strict matcher (allele.rs:391-424). */
  def matches(vcfRef: String, vcfAlt: String, alleleString: String): Boolean = {
    val parts = alleleString.split('/')
    if (parts.isEmpty) return false
    val cacheRef = parts(0)
    val cacheAlts = parts.drop(1)
    vcfAlt.split(Array('|', ',')).iterator.filter(_.nonEmpty).exists { alt =>
      val (vepRef, vepAlt) = vcfToVepAllele(vcfRef, alt)
      val direct = (cacheRef == vepRef || cacheRef == vcfRef) && cacheAlts.contains(vepAlt)
      direct || cacheAlts.exists { ca =>
        val (tr, ta) = trimRightFirst(cacheRef, ca)
        tr == vepRef && ta == vepAlt
      }
    }
  }

  /** Canonical event lengths after prefix+suffix trim, '-' = empty
    * (allele.rs:505-545). */
  def canonicalEventLengths(ref0: String, alt0: String): (Int, Int) = {
    val ref = if (ref0 == "-") "" else ref0
    val alt = if (alt0 == "-") "" else alt0
    var rs = 0; var as = 0
    while (rs < ref.length && as < alt.length && ref.charAt(rs) == alt.charAt(as)) {
      rs += 1; as += 1
    }
    var re = ref.length; var ae = alt.length
    while (re > rs && ae > as && ref.charAt(re - 1) == alt.charAt(ae - 1)) {
      re -= 1; ae -= 1
    }
    (re - rs, ae - as)
  }

  /** Relaxed matcher: strict, else indel class + canonical length
    * compatibility (allele.rs:466-503). */
  def matchesRelaxed(vcfRef: String, vcfAlt: String, alleleString: String): Boolean = {
    if (matches(vcfRef, vcfAlt, alleleString)) return true
    val parts = alleleString.split('/')
    if (parts.isEmpty) return false
    val cacheRef = parts(0)
    val cacheAlts = parts.drop(1).filter(_.nonEmpty)
    if (cacheAlts.isEmpty) return false
    vcfAlt.split(Array('|', ',')).iterator.filter(_.nonEmpty).exists { alt =>
      val (vr, va) = canonicalEventLengths(vcfRef, alt)
      val vcfIns = vr == 0 && va > 0
      val vcfDel = vr > 0 && va == 0
      (vcfIns || vcfDel) && cacheAlts.exists { ca =>
        val (cr, cAlt) = canonicalEventLengths(cacheRef, ca)
        (vcfIns && cr == 0 && cAlt > 0 && va == cAlt) ||
        (vcfDel && cr > 0 && cAlt == 0 && vr == cr)
      }
    }
  }

  /** Ensembl `trim_sequences()` with explicit direction and strand
    * (allele.rs:32-127, itself Sequence.pm:965-1038): strips the
    * shared prefix and suffix in the requested ORDER — `endFirst`
    * changes which side wins when prefix and suffix overlap (the
    * homopolymer case: AAAA/AAA end-first trims to A/- at the START
    * coordinate, left-first at the end) — adjusting coordinates per
    * strand. Returns (ref, alt, start, end, changed); empty alleles
    * render as "-". */
  def trimSequencesEnsembl(ref0: String, alt0: String, start0: Long,
      endFirst: Boolean, strand: Int): (String, String, Long, Long, Boolean) = {
    var loR = 0; var loA = 0
    var hiR = ref0.length; var hiA = alt0.length
    var start = start0
    var end = start0 + ref0.length - 1
    var changed = false
    def trimFront(): Unit =
      while (hiR > loR && hiA > loA && ref0.charAt(loR) == alt0.charAt(loA)) {
        loR += 1; loA += 1
        if (strand == -1) end -= 1 else start += 1
        changed = true
      }
    def trimEnd(): Unit =
      while (hiR > loR && hiA > loA && ref0.charAt(hiR - 1) == alt0.charAt(hiA - 1)) {
        hiR -= 1; hiA -= 1
        if (strand == -1) start += 1 else end -= 1
        changed = true
      }
    if (endFirst) { trimEnd(); trimFront() } else { trimFront(); trimEnd() }
    def dashIfEmpty(s: String) = if (s.isEmpty) "-" else s
    (dashIfEmpty(ref0.substring(loR, hiR)), dashIfEmpty(alt0.substring(loA, hiA)),
      start, end, changed)
  }

  private def reverseComplement(seq: String): Option[String] = {
    val sb = new StringBuilder(seq.length)
    var i = seq.length - 1
    while (i >= 0) {
      seq.charAt(i).toUpper match {
        case 'A' => sb.append('T')
        case 'C' => sb.append('G')
        case 'G' => sb.append('C')
        case 'T' => sb.append('A')
        case 'N' => sb.append('N')
        case '-' => sb.append('-')
        case _ => return None
      }
      i -= 1
    }
    Some(sb.toString)
  }

  /** Non-SNV alleles minimize in BOTH trim orders; SNVs in one
    * (allele.rs:176-182). */
  private def trimDirections(refA: String, altA: String): Seq[Boolean] =
    if (refA.length > 1 || altA.length > 1) Seq(false, true) else Seq(false)

  /** Ensembl VEP `get_matched_variant_alleles()` (allele.rs:190-262,
    * itself Sequence.pm:1098-1258 — the `compare_existing()`
    * primitive): position-AWARE allele matching between two variants'
    * `REF/ALT[/ALT...]` strings. Each side's alleles minimize under
    * both trim directions to `(ref, alt, pos)` keys, so two
    * representations of one event stored at DIFFERENT coordinates —
    * e.g. the repeat-shifted deletion AAA/A @100 vs AA/- @101 — still
    * match. Opposite strands reverse-complement the `a` side first;
    * a malformed allele string or pos 0 matches nothing. Returns
    * (aAllele, aIndex, bAllele, bIndex) in b-allele order, deduped. */
  def getMatchedVariantAlleles(
      aAlleleString: String, aPos: Long, aStrand: Int,
      bAlleleString: String, bPos: Long, bStrand: Int)
      : Seq[(String, Int, String, Int)] = {
    def parse(s: String): Option[(String, Array[String])] = {
      if (s == null || s.startsWith("/") || !s.contains('/')) return None
      val parts = s.split('/')
      if (parts.length < 2) None else Some((parts(0), parts.drop(1)))
    }
    (parse(aAlleleString), parse(bAlleleString)) match {
      case (Some((aRefRaw, aAlts)), Some((bRef, bAlts)))
          if aPos != 0 && bPos != 0 =>
        val flip = aStrand != bStrand
        val aRefOpt = if (flip) reverseComplement(aRefRaw) else Some(aRefRaw)
        aRefOpt match {
          case None => Nil
          case Some(aRef) =>
            val minimisedA = scala.collection.mutable.ArrayBuffer
              .empty[(String, String, Int)] // (key, origAlt, index)
            var i = 0
            var bad = false
            while (i < aAlts.length && !bad) {
              val orig = aAlts(i)
              val aAltOpt = if (flip) reverseComplement(orig) else Some(orig)
              aAltOpt match {
                case None => bad = true
                case Some(aAlt) =>
                  for (endFirst <- trimDirections(aRef, orig)) {
                    val (r, a, p, _, _) =
                      trimSequencesEnsembl(aRef, aAlt, aPos, endFirst, 1)
                    minimisedA += ((s"${r}_${a}_$p", orig, i))
                  }
              }
              i += 1
            }
            if (bad) Nil
            else {
              val out = scala.collection.mutable.LinkedHashSet
                .empty[(String, Int, String, Int)]
              for ((bAlt, bIdx) <- bAlts.zipWithIndex) {
                val dirs = trimDirections(bRef, bAlt).iterator
                var matched = false
                while (dirs.hasNext && !matched) {
                  val endFirst = dirs.next()
                  val (r, a, p, _, _) =
                    trimSequencesEnsembl(bRef, bAlt, bPos, endFirst, 1)
                  val key = s"${r}_${a}_$p"
                  minimisedA.find(_._1 == key).foreach { case (_, origA, aIdx) =>
                    out += ((origA, aIdx, bAlt, bIdx))
                    matched = true
                  }
                }
              }
              out.toSeq
            }
        }
      case _ => Nil
    }
  }
}
