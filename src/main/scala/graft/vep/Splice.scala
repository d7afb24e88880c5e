package graft.vep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Intron-aware cDNA mapping + HGVS notation — the round-2 slice of
  * the reference's TranscriptConsequenceEngine
  * (transcript_consequence.rs:6798-7060 `TranscriptCdnaCoord` /
  * `genomic_to_cdna`, hgvs.rs).
  *
  * Semantics (1-based closed genomic coordinates, exon length =
  * end - start + 1, matching the reference's `exon_len` at
  * transcript_consequence.rs:7024-7027):
  *
  *  - cDNA position of a genomic pos inside transcript t =
  *    SUM over t's exons of a per-exon contribution:
  *      + strand: full length if exon entirely before pos,
  *                pos - start + 1 if exon contains pos, else 0
  *      - strand: full length if exon entirely after pos (transcript
  *                order is descending genomic), end - pos + 1 if
  *                containing, else 0
  *    For an intronic pos the same SUM yields the cDNA index of the
  *    LAST exonic base before pos in transcript orientation — exactly
  *    the anchor HGVS intron notation needs (c.N+k).
  *
  *  - CDS-relative (HGVS "c.") numbering per transcript:
  *    coding cDNA start ccs = cdnaSum(cds anchor) (+1 if the anchor
  *    itself is intronic: numbering starts at the first exonic coding
  *    base), coding cDNA end cce = cdnaSum(other anchor). Anchors are
  *    (cds_start, cds_end) on + strand and swapped on -.
  *    cds_pos = cdna_pos - ccs + 1; protein_pos = (cds_pos-1)/3 + 1.
  *
  *  - HGVSc (hgvs.rs formatting rules):
  *      coding exonic SNV      T:c.{cds_pos}{R}>{A}
  *      5' UTR exonic          T:c.-{ccs-cdna_pos}{R}>{A}
  *      3' UTR exonic          T:c.*{cdna_pos-cce}{R}>{A}
  *      intronic               T:c.{fmt(prev)}+{d}{R}>{A} or
  *                             T:c.{fmt(next)}-{d}{R}>{A}
  *                             (nearer exon wins; tie -> '+' side)
  *      non-coding transcript  T:n.{cdna_pos}{R}>{A} (+ intron forms)
  *    R/A are strand-adjusted alleles (complemented on -).
  *
  * Everything is a join + one aggregation over exons — no per-row
  * recursion — so the plan is a broadcast join plus a partial
  * aggregation that scales out on the variant side.
  */
object Splice {

  private def complement(c: Column): Column = translate(c, "ACGT", "TGCA")

  /** Coding-class biotypes (the complement of the reference's
    * `is_non_coding_biotype`, transcript_consequence.rs:3020-3037,
    * restricted to the biotypes the derived fixtures produce): these
    * transcripts get c. numbering, codon terms and CDS logic; NMD
    * transcripts additionally carry `NMD_transcript_variant`. */
  def isCodingBt(bt: Column): Column =
    bt.isin("protein_coding", "nonsense_mediated_decay")

  /** Per-exon cDNA contribution of genomic position `pos` (see class
    * doc). All of `pos/es/ee/strand` are columns in scope. */
  private[vep] def contribution(pos: Column, es: Column, ee: Column, strand: Column): Column = {
    val len = ee - es + 1
    when(strand === 1,
      when(ee < pos, len)
        .when(pos.between(es, ee), pos - es + 1)
        .otherwise(0L))
    .otherwise(
      when(es > pos, len)
        .when(pos.between(es, ee), ee - pos + 1)
        .otherwise(0L))
  }

  /** Per-transcript coding-region cDNA bounds (ccs, cce) — a tiny
    * aggregate over exons joined to transcripts, broadcast to the
    * variant side. Input columns: transcripts (chrom, start, end,
    * transcript_id, strand, biotype, cds_start, cds_end), exons
    * (transcript_id, start, end). */
  def codingBounds(transcripts: DataFrame, exons: DataFrame): DataFrame = {
    val t = transcripts.select(
      col("transcript_id").as("_bt_tid"), col("strand").as("_bt_strand"),
      col("cds_start").cast("long").as("_bt_cs"), col("cds_end").cast("long").as("_bt_ce"))
    val ex = exons.select(col("transcript_id").as("_be_tid"),
      col("start").cast("long").as("_be_es"), col("end").cast("long").as("_be_ee"))
    // cds anchor in transcript orientation: first coding base is at
    // genomic cds_start on + strand, cds_end on -
    val anchor1 = when(col("_bt_strand") === 1, col("_bt_cs")).otherwise(col("_bt_ce"))
    val anchor2 = when(col("_bt_strand") === 1, col("_bt_ce")).otherwise(col("_bt_cs"))
    t.join(ex, col("_bt_tid") === col("_be_tid"))
      .groupBy(col("_bt_tid"), col("_bt_strand"), col("_bt_cs"), col("_bt_ce"))
      .agg(
        sum(contribution(anchor1, col("_be_es"), col("_be_ee"), col("_bt_strand"))).as("_ccs0"),
        max(when(anchor1.between(col("_be_es"), col("_be_ee")), 1).otherwise(0)).as("_a1_in_exon"),
        sum(contribution(anchor2, col("_be_es"), col("_be_ee"), col("_bt_strand"))).as("_cce"))
      .select(col("_bt_tid").as("_cb_tid"),
        (col("_ccs0") + when(col("_a1_in_exon") === 0, 1L).otherwise(0L)).as("_ccs"),
        col("_cce"),
        // GENOMIC cds span, carried for predicates that need raw
        // coordinate overlap (the frameshift-intron CDS arm uses
        // overlaps_cds = genomic [cds_start, cds_end] overlap)
        col("_bt_cs").as("_gcs"), col("_bt_ce").as("_gce"))
  }

  /** An SNV: single-base ref and alt (the trivial trimmed event). */
  private[vep] def isSnv(ref: Column, alt: Column): Column =
    length(ref) === 1 && length(alt) === 1

  /** The VCF's SNV records, the split pinned above any derived ref/alt
    * trees ([[graft.plans.PlanBarrier]] — pushed into the scan filter
    * they would be inlined there, with no statistic to prune by). */
  private def snvs(vcf: DataFrame): DataFrame =
    graft.plans.PlanBarrier.pinnedWhere(vcf, isSnv(col("ref"), col("alt")))

  /** VEP's trimmed-event overlap of the span [a, b]
    * (transcript_consequence.rs:1160-1335, 919-925): an insertion
    * point P (`_nvs`) lies in (a, b] — an insertion at a feature's
    * first base falls outside it, one past its last base inside —
    * and any other event's trimmed span [`_nvs`, `_nve`] meets [a, b].
    * Reads `_isins`/`_nvs`/`_nve` ([[Vep.withEvent]]) in scope. */
  private[vep] def eventOverlaps(a: Column, b: Column): Column =
    when(col("_isins"), col("_nvs") > a && col("_nvs") <= b)
      .otherwise(col("_nvs") <= b && col("_nve") >= a)

  /** The one (variant, transcript) exon aggregate — SNVs and indels
    * alike, each VCF record as its trimmed event ([[Vep.withEvent]]):
    * ONE candidate probe (transcripts = build side of the interval
    * strategy's index; a contig-keyed hash join cross-products per
    * contig) and ONE aggregate over the candidates' exons. Candidates
    * are raw-span OR trimmed-span overlaps (an insertion's point can
    * sit one past its raw span); for an SNV that is exactly
    * start ∈ [ts, te]. Columns:
    *  - shared: _vid _vc _vp (start) _ve (end) _vref _valt, the event
    *    _nvs _nve _isins, _tid _strand _bt _ts _te, _in_exon (exon
    *    membership by [[eventOverlaps]]), _cdna / _nloex (cDNA index /
    *    exon membership of the event's lower genomic bound), the exon
    *    rank inputs _nprev _nex, then the [[codingBounds]] columns;
    *  - SNV: the intron anchors _prev_ee _next_es and the 5-base codon
    *    window _wb (null on indels);
    *  - indel: _ic ([[indelCoordsUdf]] at `maxShift`; null on SNVs),
    *    the insertion boundary flags _bend _bstart, and the shifted
    *    anchors' exon membership and cDNA index _in0 _in1 _cdna0 _cdna1.
    * Each kind skips the other's per-variant work: SNVs the shift/dup
    * scan, indels the window. */
  private[vep] def transcriptAgg(
      vcf: DataFrame, transcripts: DataFrame, exons: DataFrame,
      cb: Option[DataFrame] = None, maxShift: Int = 16): DataFrame = {
    val snv = isSnv(col("ref"), col("alt"))
    val start = col("start").cast("long")
    // Derived-genome memoization (per-position sequence dedup): every
    // base of a codon that does NOT span an exon boundary lies within
    // ±2 of the variant position, so the 5-base window is computed
    // ONCE per SNV on the variant side (5 md5 per variant, BEFORE the
    // transcript probe) and rides the aggregate to every candidate
    // pair; only spliced codon bases (outside the window after the
    // cDNA->genomic map) fall back to the inline md5 expression in
    // [[snvFusedFrom]].
    val win = array((-2 to 2).map { o =>
      expr(CodonLogic.seq(CodonLogic.SparkD, "chrom", s"(CAST(start AS BIGINT) + ($o))"))
    }: _*)
    val v = Vep.withEvent(vcf, start)
      .select(col("chrom").as("_vc"), start.as("_vp"), col("end").cast("long").as("_ve"),
        col("id").as("_vid"), col("ref").as("_vref"), col("alt").as("_valt"),
        col("_nvs"), col("_nve"), col("_isins"),
        least(col("_nvs"), col("_nve")).as("_nlo"), greatest(col("_nvs"), col("_nve")).as("_nhi"),
        when(snv, win).as("_wb"),
        when(!snv, indelCoordsUdf(maxShift)(col("chrom"), col("ref"), col("alt"), start)).as("_ic"))
    val t = transcripts.select(col("chrom").as("_tc"), col("start").cast("long").as("_ts"),
      col("end").cast("long").as("_te"), col("transcript_id").as("_tid"),
      col("strand").as("_strand"), col("biotype").as("_bt"))
    graft.plans.Graft.enable(vcf.sparkSession)
    // the probe folds the raw ∪ trimmed envelope; the exact
    // disjunction rides as the join's residual filter
    val cand = t.join(v,
      col("_tc") === col("_vc") &&
        col("_ts") <= greatest(col("_ve"), col("_nhi")) &&
        col("_te") >= least(col("_vp"), col("_nlo")) &&
        ((col("_ts") <= col("_ve") && col("_te") >= col("_vp")) ||
          (col("_ts") <= col("_nhi") && col("_te") >= col("_nlo"))))
    val ex = exons.select(col("transcript_id").as("_etid"),
      col("start").cast("long").as("_es"), col("end").cast("long").as("_ee"))
    val p = col("_nvs")
    def inExon(x: Column) = max(when(x.between(col("_es"), col("_ee")), 1).otherwise(0))
    def cdnaOf(x: Column) = sum(contribution(x, col("_es"), col("_ee"), col("_strand")))
    cand.join(broadcast(ex), col("_tid") === col("_etid"))
      .groupBy(col("_vid"), col("_vc"), col("_vp"), col("_ve"), col("_vref"), col("_valt"),
        col("_nvs"), col("_nve"), col("_isins"), col("_wb"), col("_ic"),
        col("_tid"), col("_strand"), col("_bt"), col("_ts"), col("_te"))
      .agg(
        max(when(eventOverlaps(col("_es"), col("_ee")), 1).otherwise(0)).as("_in_exon"),
        // VEP's partial_codon reads min(start, end) — the left flank
        // for insertions, the position itself for an SNV
        cdnaOf(col("_nlo")).as("_cdna"),
        inExon(col("_nlo")).as("_nloex"),
        // exon/intron rank inputs (VEP's EXON/INTRON CSQ numbering):
        // exons entirely before the event in GENOMIC order plus the
        // exon count; the strand flip happens at render time
        sum(when(col("_ee") < p, 1).otherwise(0)).as("_nprev"),
        count(lit(1)).as("_nex"),
        // genomic distance to the nearest exonic base on each side, in
        // TRANSCRIPT orientation: d_plus measures from the previous
        // exon's last transcribed base, d_minus to the next one
        max(when(col("_ee") < p, col("_ee"))).as("_prev_ee"),
        min(when(col("_es") > p, col("_es"))).as("_next_es"),
        // insertion point exactly one past an exon end / on an exon
        // start (the cds_{end,start}_exon_boundary and _after_coding arms)
        max(when(col("_isins") && p === col("_ee") + 1, 1).otherwise(0)).as("_bend"),
        max(when(col("_isins") && p === col("_es"), 1).otherwise(0)).as("_bstart"),
        inExon(col("_ic._3")).as("_in0"), inExon(col("_ic._4")).as("_in1"),
        cdnaOf(col("_ic._3")).as("_cdna0"), cdnaOf(col("_ic._4")).as("_cdna1"))
      .join(broadcast(cb.getOrElse(codingBounds(transcripts, exons))),
        col("_tid") === col("_cb_tid"), "left")
  }

  /** Intron-aware cDNA/CDS/protein coordinates + HGVSc for SNVs
    * against a transcript/exon context: [[cdnaColumns]] over
    * [[transcriptAgg]], one output row per (variant, overlapping
    * transcript). */
  def cdnaAnnotate(vcf: DataFrame, transcripts: DataFrame, exons: DataFrame): DataFrame =
    transcriptAgg(snvs(vcf), transcripts, exons)
      .select(cdnaColumns(snvCdsPos, snvProteinPos(snvCdsPos)): _*)

  /** A [[transcriptAgg]] row is an SNV in the CDS: exonic, on a
    * coding transcript, between the coding cDNA bounds. */
  private def snvInCds: Column =
    isSnv(col("_vref"), col("_valt")) && col("_in_exon") === 1 && isCodingBt(col("_bt")) &&
      col("_cdna") >= col("_ccs") && col("_cdna") <= col("_cce")

  /** CDS position of an [[transcriptAgg]] row; null outside the CDS. */
  private def snvCdsPos: Column = when(snvInCds, col("_cdna") - col("_ccs") + 1)

  /** Protein position of CDS position `cdsPos`; null outside the CDS. */
  private def snvProteinPos(cdsPos: Column): Column =
    when(snvInCds, floor((cdsPos - 1) / lit(3)) + 1).cast("long")

  /** The SNV cDNA layer, defined once over [[transcriptAgg]]'s
    * columns: (id, transcript_id, region, cdna_pos, cds_pos,
    * protein_pos, hgvs_c, exon, intron), `region` ∈ exonic | intronic.
    * `cdsPos`/`proteinPos` are [[snvCdsPos]]/[[snvProteinPos]], inline
    * or staged by the caller ([[snvFusedFrom]] stages them for its
    * codon addressing). */
  private def cdnaColumns(cdsPos: Column, proteinPos: Column): Seq[Column] = {
    val p = col("_vp")
    val inExon = col("_in_exon") === 1
    val strandP = col("_strand") === 1
    val dPlus = when(strandP, p - col("_prev_ee")).otherwise(col("_next_es") - p)
    val dMinus = when(strandP, col("_next_es") - p).otherwise(p - col("_prev_ee"))
    val coding = isCodingBt(col("_bt"))
    val cdna = col("_cdna")
    val refAdj = when(strandP, col("_vref")).otherwise(complement(col("_vref")))
    val altAdj = when(strandP, col("_valt")).otherwise(complement(col("_valt")))
    val prefix = hgvsPrefix(col("_tid"), coding)
    val change = concat(refAdj, lit(">"), altAdj)
    // intron side choice: nearer exonic anchor wins, tie -> '+'
    // (donor side), missing side falls back to the other
    val usePlus = col("_next_es").isNull ||
      (col("_prev_ee").isNotNull && dPlus <= dMinus)
    val hgvs =
      when(inExon, concat(prefix, fmtC(cdna, coding), change))
        .otherwise(when(usePlus,
            concat(prefix, fmtC(cdna, coding), lit("+"), dPlus.cast("string"), change))
          .otherwise(
            concat(prefix, fmtC(cdna + 1, coding), lit("-"), dMinus.cast("string"), change)))
    Seq(col("_vid").as("id"), col("_tid").as("transcript_id"),
      when(inExon, lit("exonic")).otherwise(lit("intronic")).as("region"),
      when(inExon, cdna).as("cdna_pos"),
      cdsPos.as("cds_pos"),
      proteinPos.as("protein_pos"),
      hgvs.as("hgvs_c"),
      exonRank(inExon, col("_strand"), col("_nprev"), col("_nex")).as("exon"),
      intronRank(inExon, col("_strand"), col("_nprev"), col("_nex")).as("intron"))
  }

  /** "T:c." on coding transcripts, "T:n." otherwise. */
  private def hgvsPrefix(tid: Column, coding: Column): Column =
    concat(tid, lit(":"), when(coding, lit("c.")).otherwise(lit("n.")))

  /** The one cDNA-coordinate formatter: CDS-relative rendering of
    * cDNA index `x` against the `_ccs`/`_cce` coding bounds in scope,
    * UTR forms included (`-N` 5', `*N` 3'); plain `x` on non-coding
    * transcripts. */
  private def fmtC(x: Column, coding: Column): Column =
    when(!coding, x.cast("string"))
      .when(x < col("_ccs"), concat(lit("-"), (col("_ccs") - x).cast("string")))
      .when(x > col("_cce"), concat(lit("*"), (x - col("_cce")).cast("string")))
      .otherwise((x - col("_ccs") + 1).cast("string"))

  /** HGVSc of an exonic non-SNV event ([[indelHgvs]]'s notation):
    * `kind` ∈ del | dup | ins | delins, `va` the inserted/deleted
    * allele (reverse-complemented on '-'), `lo`/`hi` the
    * transcript-orientation cDNA indexes of the affected range. */
  private[vep] def indelHgvsC(tid: Column, coding: Column, strand: Column,
      kind: Column, va: Column, lo: Column, hi: Column): Column = {
    val coords = when(lo === hi, fmtC(lo, coding))
      .otherwise(concat(fmtC(lo, coding), lit("_"), fmtC(hi, coding)))
    val altAdj = when(strand === 1, va)
      .otherwise(reverse(translate(va, "ACGT", "TGCA")))
    val prefix = hgvsPrefix(tid, coding)
    when(kind === "del" || kind === "dup", concat(prefix, coords, kind))
      .otherwise(concat(prefix, coords, kind, altAdj))
  }

  /** VEP's EXON CSQ field ("rank/total" in TRANSCRIPT orientation) for
    * an exonic position: the containing exon's 1-based rank — on '+'
    * one past the number of exons entirely before the position, on '-'
    * counted from the genomic end. NULL for intronic positions. */
  private[vep] def exonRank(inExon: Column, strand: Column, nprev: Column, nex: Column): Column =
    when(inExon, concat(
      when(strand === 1, nprev + 1).otherwise(nex - nprev).cast("string"),
      lit("/"), nex.cast("string")))

  /** VEP's INTRON CSQ field ("rank/total" with total = exon count - 1)
    * for an intronic position; the genomic intron index is exactly the
    * count of exons ending before the position. NULL when exonic. */
  private[vep] def intronRank(inExon: Column, strand: Column, nprev: Column, nex: Column): Column =
    when(!inExon, concat(
      when(strand === 1, nprev).otherwise(nex - nprev).cast("string"),
      lit("/"), (nex - 1).cast("string")))

  /** One-letter -> three-letter amino-acid rendering (HGVS p.
    * notation; '*' -> Ter). Pure substring arithmetic so it stays in
    * codegen and is mirrored verbatim by the DuckDB oracle. */
  val aaAlpha = "ACDEFGHIKLMNPQRSTVWY*"
  val aa3Table = "AlaCysAspGluPheGlyHisIleLysLeuMetAsnProGlnArgSerThrValTrpTyrTer"
  def aa3Sql(d: CodonLogic.Dialect, oneLetterSql: String): String =
    s"substr('$aa3Table', 1 + (${d.strIndex(s"'$aaAlpha'", oneLetterSql)} - 1) * 3, 3)"

  /** Bounded right-scan over the derived reference sequence for
    * 3'-shifting (the reference's shift-state ports,
    * variant_lookup_exec.rs; Ensembl shifts indels right while the
    * next base repeats the indel allele), as DuckDB SQL — the oracle's
    * formulation of [[CodonLogic.shiftScan]], which the Spark side
    * runs. Returns the 1-based index of the first position in
    * [anchor, anchor+max) whose base differs from `allele` — 0 when
    * all `max` positions match (callers cap the shift there). All
    * arguments are SQL fragments valid in scope. */
  def shiftScanSql(chrom: String, anchor: String, allele: String, max: Int): String = {
    val base = CodonLogic.seq(CodonLogic.DuckD, chrom, s"($anchor + j)")
    s"CAST(COALESCE(list_position(list_transform(generate_series(0, ${max - 1})," +
      s" j -> $base = $allele), false), 0) AS BIGINT)"
  }

  /** Spliced-codon consequence + HGVSp for coding exonic SNVs:
    * [[snvFusedFrom]]'s in-CDS rows. The codon is read base-by-base
    * through the cDNA->genomic inverse map (codons spanning exon
    * boundaries read correctly across the splice), bases come from the
    * derived md5 reference sequence (CodonLogic.seq), '-'-strand bases
    * are complemented. Output per (variant, transcript): (id,
    * transcript_id, cds_pos, protein_pos, ref_codon, alt_codon, aa_ref,
    * aa_alt, consequence, hgvs_p). Codons truncated by the coding end
    * (cce-ccs+1 not a multiple of 3) read
    * `incomplete_terminal_codon_variant` with null sequence columns. */
  def splicedCodon(vcf: DataFrame, transcripts: DataFrame, exons: DataFrame): DataFrame =
    snvFusedFrom(transcriptAgg(snvs(vcf), transcripts, exons), transcripts, exons)
      .where(col("cds_pos").isNotNull)
      .select(col("id"), col("transcript_id"), col("cds_pos"), col("protein_pos"),
        col("ref_codon"), col("alt_codon"), col("aa_ref"), col("aa_alt"),
        col("codon_consequence").as("consequence"), col("hgvs_p"))

  /** FUSED cDNA + spliced-codon stream over a prebuilt
    * [[transcriptAgg]]: [[cdnaColumns]] plus the codon layer's
    * columns, computed in ONE projection pass with the codon-range
    * lookahead join as a LEFT broadcast probe. Codon columns are null
    * outside the CDS and on indel rows ([[splicedCodon]] keeps the
    * rest). Every aggregate column passes through, so the integrated
    * operator renders SNV and indel entries from this one stream
    * without re-joining transcript metadata or the variant side. */
  private[vep] def snvFusedFrom(
      agg: DataFrame, transcripts: DataFrame, exons: DataFrame,
      xa: Option[DataFrame] = None): DataFrame = {
    val inCds = snvInCds
    // ---- codon addressing (null outside the CDS: the join misses).
    // One select per dependency layer — every withColumn is a full
    // eager analyzer pass over the whole subtree, and this plan is
    // wide enough that chained passes dominate driver latency ----
    val cdsPosE = snvCdsPos
    val s0 = agg.select(col("*"),
      cdsPosE.as("_cds_pos"),
      (col("_ccs") + floor((cdsPosE - 1) / lit(3)).cast("long") * 3).as("_codon0"),
      ((cdsPosE - 1) % 3).cast("int").as("_coff"))
    val r = codonRangesFromArrays(
      xa.getOrElse(Hgvsp.exonArrays(transcripts, exons)))
    // cDNA segments partition [1, transcript length] per transcript, so
    // a non-null _codon0 matches EXACTLY one segment — the left join
    // never multiplies rows
    val joined = s0.join(broadcast(r),
      col("_tid") === col("_r_tid") &&
        col("_codon0").between(col("_r_cs"), col("_r_ce")), "left")
    def gOf(ci: Column): Column = {
      def m(es: Column, ee: Column, cs: Column): Column =
        when(col("_strand") === 1, es + (ci - cs)).otherwise(ee - (ci - cs))
      when(ci <= col("_r_ce"), m(col("_r_es"), col("_r_ee"), col("_r_cs")))
        .when(ci <= col("_n1_ce"), m(col("_n1_es"), col("_n1_ee"), col("_n1_cs")))
        .otherwise(m(col("_n2_es"), col("_n2_ee"), col("_n2_cs")))
    }
    def baseOf(gName: String): Column = {
      val g = col(gName)
      val raw = when(g.between(col("_vp") - 2, col("_vp") + 2),
          element_at(col("_wb"), (g - col("_vp") + 3).cast("int")))
        .otherwise(expr(CodonLogic.seq(CodonLogic.SparkD, "_vc", gName)))
      when(col("_strand") === 1, raw).otherwise(translate(raw, "ACGT", "TGCA"))
    }
    val isFull = inCds && col("_codon0") + 2 <= col("_cce")
    val withBases = joined
      .select(col("*"),
        gOf(col("_codon0")).as("_g0"), gOf(col("_codon0") + 1).as("_g1"),
        gOf(col("_codon0") + 2).as("_g2"))
      .select(col("*"),
        baseOf("_g0").as("_b0"), baseOf("_g1").as("_b1"), baseOf("_g2").as("_b2"))
    val altAdj0 = when(col("_strand") === 1, col("_valt"))
      .otherwise(translate(col("_valt"), "ACGT", "TGCA"))
    val refCodon = concat(col("_b0"), col("_b1"), col("_b2"))
    val altCodon = concat(
      when(col("_coff") === 0, altAdj0).otherwise(col("_b0")),
      when(col("_coff") === 1, altAdj0).otherwise(col("_b1")),
      when(col("_coff") === 2, altAdj0).otherwise(col("_b2")))
    val staged = withBases
      .select(col("*"),
        when(isFull, refCodon).as("_refcodon"),
        when(isFull, altCodon).as("_altcodon"),
        snvProteinPos(col("_cds_pos")).as("_ppos"))
      .select(col("*"),
        expr(CodonLogic.aa(CodonLogic.SparkD, "_refcodon")).as("_aaref"),
        expr(CodonLogic.aa(CodonLogic.SparkD, "_altcodon")).as("_aaalt"))
    // codon-position terms beyond the base four: stop_retained (both
    // residues '*'), start_lost / start_retained at protein position 1
    // (VEP's peptide-level start checks,
    // transcript_consequence.rs:2138-2180 — the derived genome has no
    // guaranteed ATG, so "start codon altered" reduces to "first-codon
    // residue changed")
    val codonConsequence =
      when(isFull,
        when(col("_aaalt") === "*" && col("_aaref") =!= "*", lit("stop_gained"))
          .when(col("_aaref") === "*" && col("_aaalt") =!= "*", lit("stop_lost"))
          .when(col("_aaref") === "*" && col("_aaalt") === "*", lit("stop_retained_variant"))
          .when(col("_ppos") === 1 && col("_aaref") =!= col("_aaalt"), lit("start_lost"))
          .when(col("_ppos") === 1, lit("start_retained_variant"))
          .when(col("_aaref") === col("_aaalt"), lit("synonymous_variant"))
          .otherwise(lit("missense_variant")))
      // partial codon at the coding end (VEP partial_codon,
      // transcript_consequence.rs:1939-1976): in-CDS but untranslatable
      .when(inCds, lit("incomplete_terminal_codon_variant"))
    val hgvsP = when(isFull, concat(col("_tid"), lit(":p."),
      expr(aa3Sql(CodonLogic.SparkD, "_aaref")), col("_ppos").cast("string"),
      when(col("_aaref") === col("_aaalt"), lit("="))
        .otherwise(expr(aa3Sql(CodonLogic.SparkD, "_aaalt")))))
    staged.select(agg.columns.toSeq.map(col) ++
      cdnaColumns(col("_cds_pos"), col("_ppos")) ++ Seq(
      codonConsequence.as("codon_consequence"),
      hgvsP.as("hgvs_p"),
      col("_refcodon").as("ref_codon"), col("_altcodon").as("alt_codon"),
      when(isFull, col("_aaref")).as("aa_ref"),
      when(isFull, col("_aaalt")).as("aa_alt")): _*)
  }

  /** The codon-range lookahead build derived from the per-transcript
    * exon arrays ([[Hgvsp.exonArrays]], transcript orientation), the
    * one cDNA-range build: per exon segment its genomic span and cDNA
    * range [cs, ce] plus the next two segments' (elements k+1 / k+2,
    * null past the last exon): a codon's three bases span at most three
    * segments, so two lookaheads always suffice. The cumulative cDNA
    * offsets are array
    * folds, so the integrated operator shares ONE per-transcript exon
    * aggregation across the codon, protein and splice layers. */
  private[vep] def codonRangesFromArrays(xa: DataFrame): DataFrame =
    xa.withColumn("_l", expr("zip_with(_xa_es, _xa_ee, (s, e) -> e - s + 1)"))
      .withColumn("_c", expr(
        "transform(sequence(1, size(_xa_es)), k -> aggregate(slice(_l, 1, k - 1), 0L, (a, x) -> a + x))"))
      .select(col("_xa_tid").as("_r_tid"), col("_xa_es").as("_es"),
        col("_xa_ee").as("_ee"), col("_l"), col("_c"),
        explode(expr("sequence(1, size(_xa_es))")).as("_k"))
      .selectExpr("_r_tid",
        "try_element_at(_es, _k) AS _r_es",
        "try_element_at(_ee, _k) AS _r_ee",
        "try_element_at(_c, _k) + 1 AS _r_cs",
        "try_element_at(_c, _k) + try_element_at(_l, _k) AS _r_ce",
        "try_element_at(_es, _k + 1) AS _n1_es",
        "try_element_at(_ee, _k + 1) AS _n1_ee",
        "try_element_at(_c, _k + 1) + 1 AS _n1_cs",
        "try_element_at(_c, _k + 1) + try_element_at(_l, _k + 1) AS _n1_ce",
        "try_element_at(_es, _k + 2) AS _n2_es",
        "try_element_at(_ee, _k + 2) AS _n2_ee",
        "try_element_at(_c, _k + 2) + 1 AS _n2_cs")

  /** The six splice windows + the frameshift-intron, intron-body and
    * complex-indel predicates in ONE codegen pass over the exon
    * arrays ([[graft.plans.SpliceScan]]; the windows are documented on
    * [[spliceTerms]], and the DuckDB oracle in VepSpliceQueries keeps
    * an independent SQL formulation). `names` is the term vocabulary
    * ([[spliceNames]]). Returns struct<terms, fs, body, longov>; null
    * when any input is null. */
  private[vep] def spliceScan(es: Column, ee: Column, vs: Column,
      ve: Column, isins: Column, strand: Column,
      names: graft.plans.SpliceScanConf): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    // explicit casts: the expression's eval/codegen read primitive
    // long/int/boolean slots, so a user-supplied frame with e.g. a
    // BIGINT strand or INT coordinates must widen HERE (round-10
    // ADVICE: the retired array-lambda formulation tolerated any
    // numeric type; the raw casts threw ClassCastException). Trivial
    // casts (already-matching types) are eliminated by Catalyst.
    GraftColumnBridge.column(graft.plans.SpliceScan(
      Seq(es.cast("array<bigint>"), ee.cast("array<bigint>"),
        vs.cast("bigint"), ve.cast("bigint"),
        isins.cast("boolean"), strand.cast("int"))
        .map(GraftColumnBridge.expression),
      names))
  }

  /** The splice-term vocabulary of [[spliceScan]]: rank-prefixed
    * ([[Annotate.rk]]) for annotate's entry streams, plain for
    * [[spliceTerms]]. */
  private def spliceNames(name: String => String) = graft.plans.SpliceScanConf(
    name("splice_acceptor_variant"),
    name("splice_donor_variant"),
    name("splice_donor_5th_base_variant"),
    name("splice_region_variant"),
    name("splice_donor_region_variant"),
    name("splice_polypyrimidine_tract_variant"))
  private[vep] lazy val rankedSpliceNames = spliceNames(Annotate.rk)
  private lazy val plainSpliceNames = spliceNames(identity)

  /** Per-variant indel classification: VEP-normalize, 3'-shift single
    * base ins/del over the derived genome, detect duplications from the
    * 5' context, and emit the affected genomic range (p0, p1) for each
    * HGVS form.
    *
    * DOCUMENTED DIVERGENCE (round-5 ADVICE): the shift scans in
    * GENOMIC FORWARD direction for every transcript, because this
    * classification is per-VARIANT (computed once, before the
    * transcript probe). The reference shifts per-transcript in
    * TRANSCRIPT 3' direction, so on '-'-strand transcripts it walks
    * genomically LEFT — in a repeat run, the two conventions can land
    * the event on different anchors, changing the rendered cDNA/
    * protein coordinates for '-'-strand features only. Making the
    * scan strand-aware would move it inside the (variant × transcript)
    * candidate join — per-pair md5 scans on the probe hot path — for
    * a divergence that only materializes inside mononucleotide
    * repeats; the engine and its oracle share the forward convention,
    * so the gate pins the chosen semantics.
    *
    * One bounded imperative scan per row — exactly the
    * reference's shift-state machine (hgvs.rs:185-248, 987-1016) — as a
    * single typed Scala UDF. Round 3 expressed the same logic as
    * chained higher-order-function expression trees (16 md5 terms per
    * scan): HOFs don't codegen, the ~300 KB trees dominated task
    * (de)serialization, and their interpreted evaluation pinned the
    * whole variant side into one-task scan stages (f11_indel_hgvs 28 s
    * at sf0.1, grossly sublinear in rows). The UDF runs the identical
    * arithmetic at JVM speed with a plan a few hundred bytes wide. */
  private[vep] def indelCoordsUdf(maxShift: Int) = udf {
    (chrom: String, ref: String, alt: String, start: Long) =>
      val (vr, va) = Allele.vcfToVepAllele(ref, alt)
      val ns = Allele.vepNormStart(start, ref, alt)
      val ne = Allele.vepNormEnd(start, ref, alt)
      val isIns = vr == "-"
      val isDel = va == "-"
      val allele = if (isIns) va else vr
      val anchor = if (isIns) ns else ns + 1
      val scan =
        if ((isIns || isDel) && allele.length == 1)
          CodonLogic.shiftScan(chrom, anchor, allele.charAt(0), maxShift)
        else 1L
      val sh = if (scan == 0) maxShift.toLong else scan - 1
      val nss = ns + sh
      val nse = ne + sh
      val k = va.length.toLong
      val ctx = (nss - k to nss - 1).map(CodonLogic.baseAt(chrom, _)).mkString
      // 5th element = applied 3'-shift length (HGVS_OFFSET source,
      // hgvs.rs:326-344 hgvsc_offset_for_output)
      if (isIns && ctx == va) ("dup", va, nss - k, nss - 1, sh)
      else if (isIns) ("ins", va, nss - 1, nss, sh)
      else if (isDel) ("del", va, nss, nse, sh)
      else ("delins", va, ns, ne, sh)
  }.asNonNullable()

  /** HGVS notation for exonic non-SNV events — the hgvs.rs /
    * `format_hgvs_string` small-variant forms (hgvs.rs:1163-1192,
    * itself Ensembl `Sequence::format_hgvs_string`):
    *
    *   deletion   T:c.{lo}del / T:c.{lo}_{hi}del    (no sequence suffix)
    *   insertion  T:c.{n}_{n+1}ins{SEQ}
    *   delins     T:c.{lo}[_{hi}]delins{SEQ}        (MNVs, replacements)
    *   dup        T:c.{lo}[_{hi}]dup — an insertion whose allele equals
    *              the derived-genome bases immediately 5' of the
    *              (shifted) insertion point (hgvs.rs:987-1016
    *              apply_shifted_insertion_duplication, 5'-context arm)
    *
    * Single-base ins/del alleles are 3'-SHIFTED first (the Vep.shift3
    * scan — the reference shifts before rendering, hgvs.rs:185-248);
    * multi-base alleles render unshifted. `lo`/`hi` are the
    * transcript-orientation cDNA indexes of the affected range (del),
    * its 5' context (dup), the flanking pair (ins), or the replaced
    * range (delins); SEQ is reverse-complemented on '-'. Exonic sites
    * only (both anchor points inside exons). Output per
    * (variant, transcript): (id, transcript_id, kind, cdna_pos,
    * cdna_end, hgvs_c, hgvs_offset) with cdna_pos = lo, cdna_end = hi;
    * the string is [[indelHgvsC]], which annotate's indel branch
    * renders too. */
  def indelHgvs(
      vcf: DataFrame, transcripts: DataFrame, exons: DataFrame,
      maxShift: Int = 16): DataFrame = {
    graft.plans.Graft.enable(vcf.sparkSession)
    val v = graft.core.Parallelism.ensure(
        graft.plans.PlanBarrier.pinnedWhere(vcf,
          !isSnv(col("ref"), col("alt"))))
      .withColumn("_ic", indelCoordsUdf(maxShift)(
        col("chrom"), col("ref"), col("alt"), col("start").cast("long")))
      .select(col("chrom").as("_vc"), col("id").as("_vid"),
        col("_ic._1").as("_kind"), col("_ic._2").as("_va"),
        col("_ic._3").as("_p0"), col("_ic._4").as("_p1"),
        col("_ic._5").as("_sh"))
    val t = transcripts.select(col("chrom").as("_tc"), col("start").cast("long").as("_ts"),
      col("end").cast("long").as("_te"), col("transcript_id").as("_tid"),
      col("strand").as("_strand"), col("biotype").as("_bt"))
    // strategy-planned index probe; the _p1 bounds the extractor can't
    // fold into the probe interval ride as the join's residual filter
    val cand = t.join(v,
      col("_tc") === col("_vc") &&
        col("_p0").between(col("_ts"), col("_te")) &&
        col("_p1").between(col("_ts"), col("_te")))
    val ex = exons.select(col("transcript_id").as("_etid"),
      col("start").cast("long").as("_es"), col("end").cast("long").as("_ee"))
    val agg = cand.join(broadcast(ex), col("_tid") === col("_etid"))
      .groupBy(col("_vid"), col("_tid"), col("_strand"), col("_bt"),
        col("_kind"), col("_va"), col("_p0"), col("_p1"), col("_sh"))
      .agg(
        max(when(col("_p0").between(col("_es"), col("_ee")), 1).otherwise(0)).as("_in0"),
        max(when(col("_p1").between(col("_es"), col("_ee")), 1).otherwise(0)).as("_in1"),
        sum(contribution(col("_p0"), col("_es"), col("_ee"), col("_strand"))).as("_cdna0"),
        sum(contribution(col("_p1"), col("_es"), col("_ee"), col("_strand"))).as("_cdna1"))
      .join(broadcast(codingBounds(transcripts, exons)), col("_tid") === col("_cb_tid"), "left")
    val coding = isCodingBt(col("_bt"))
    val lo = least(col("_cdna0"), col("_cdna1"))
    val hi = greatest(col("_cdna0"), col("_cdna1"))
    agg.where(col("_in0") === 1 && col("_in1") === 1)
      .select(col("_vid").as("id"), col("_tid").as("transcript_id"),
        col("_kind").as("kind"), lo.as("cdna_pos"), hi.as("cdna_end"),
        indelHgvsC(col("_tid"), coding, col("_strand"), col("_kind"), col("_va"), lo, hi)
          .as("hgvs_c"),
        // HGVS_OFFSET (hgvs.rs:326-344): the applied genomic 3'-shift,
        // signed transcript-ward ('-' strand negates), only when an
        // actual shift happened
        when(col("_sh") > 0,
          when(col("_strand") === 1, col("_sh")).otherwise(-col("_sh"))).as("hgvs_offset"))
  }

  /** Splice-site consequence terms — the reference's per-intron splice
    * machinery (transcript_consequence.rs:2670-2955
    * `add_splice_for_intron_{positive,negative}`, itself a port of
    * Ensembl `_intron_effects`/`_intron_overlap`). Every positional
    * window is reproduced exactly, per strand and per variant class:
    *
    * range-overlap model (SNV/MNV/deletion, VEP-normalized `[vs,ve]`),
    * '+' strand (donor at intron start `is`, acceptor at intron end
    * `ie`; mirror `is<->ie` and window signs on '-'):
    *   splice_donor_variant                [is, is+1]
    *   splice_donor_5th_base_variant       [is+4, is+4]
    *   splice_donor_region_variant         [is+2, is+5]
    *   splice_acceptor_variant             [ie-1, ie]
    *   splice_polypyrimidine_tract_variant [ie-16, ie-2], only when the
    *     variant lies fully inside the intron (VEP keeps PPT intronic)
    *   splice_region_variant  intronic [is+2,is+7] ∪ [ie-7,ie-2],
    *                          exonic   [is-3,is-1] ∪ [ie+1,ie+3]
    *     (strand-independent in VEP, checked on both ends both strands)
    *
    * insertion model (P = normalized insertion point, `overlap(P, P-1,
    * X, Y) => P ∈ [X+1, Y]` — transcript_consequence.rs:2678-2683):
    *   donor P == is+1 | acceptor P == ie | 5th-base impossible |
    *   donor region P ∈ [is+3, is+5] | PPT P ∈ [ie-16, ie-1] |
    *   splice_region P ∈ [is+3,is+7] ∪ [ie-6,ie-2] ∪ [is-2,is-1] ∪
    *   [ie+2,ie+3] or P ∈ {is, ie+1, is+2, ie-1} (the explicit
    *   boundary checks of `_intron_overlap`); mirrored on '-'.
    *
    * Frameshift introns (`ie - is <= 12`, transcript_consequence.rs
    * 2552-2576): a variant overlapping one's body gets no terms from
    * it, and on a transcript that has one, PPT fires only more than
    * 11 bp inside both intron ends.
    *
    * Output: one row per (variant, transcript, term). Candidate
    * generation runs on the trimmed event through the interval
    * strategy (transcripts = build side); the windows are the
    * [[spliceScan]] expression annotate evaluates, over the broadcast
    * per-transcript exon arrays ([[Hgvsp.exonArrays]]). Introns are
    * the gaps between the sorted exon starts and the sorted exon
    * ends, so nested or overlapping exons never open an intron inside
    * an exon. */
  def spliceTerms(vcf: DataFrame, transcripts: DataFrame, exons: DataFrame): DataFrame = {
    graft.plans.Graft.enable(vcf.sparkSession)
    val v = Vep.withEvent(vcf, col("start").cast("long"))
      .select(col("chrom").as("_vc"), col("id").as("_vid"),
        col("_nvs"), col("_nve"), col("_isins"),
        least(col("_nvs"), col("_nve")).as("_lo"),
        greatest(col("_nvs"), col("_nve")).as("_hi"))
    val t = transcripts.select(col("chrom").as("_tc"),
      col("start").cast("long").as("_ts"), col("end").cast("long").as("_te"),
      col("transcript_id").as("_tid"), col("strand").as("_strand"))
    // transcript candidacy on the TRIMMED event (reference tree query
    // filter, transcript_consequence.rs:919-925): insertions require
    // P in (tx_start, tx_end] — both flanks inside the transcript
    val cand = t.join(v,
      col("_tc") === col("_vc") &&
        col("_ts") <= col("_hi") && col("_te") >= col("_lo") &&
        eventOverlaps(col("_ts"), col("_te")))
    cand.join(broadcast(Hgvsp.exonArrays(transcripts, exons)), col("_tid") === col("_xa_tid"))
      .select(col("_vid").as("id"), col("_tid").as("transcript_id"),
        explode(spliceScan(col("_xa_es"), col("_xa_ee"), col("_nvs"), col("_nve"),
          col("_isins"), col("_strand"), plainSpliceNames).getField("terms"))
          .as("consequence"))
      .distinct()
  }

  /** CSQ output assembly (annotate_provider.rs:795-1000 role): fuse
    * the cDNA/HGVSc layer with the spliced-codon layer into one
    * pipe-delimited entry per (variant, transcript) —
    * Feature|Consequence|cDNA_position|CDS_position|Protein_position|
    * HGVSc|HGVSp ('' for absent fields) — aggregated per variant into
    * a deterministic comma-joined CSQ string plus
    * most_severe_consequence by SO rank (so_terms.rs ordering via
    * Vep.soRank). Only transcripts overlapping the variant contribute
    * (up/downstream and intergenic classification stays in
    * Vep.annotateRegions). */
  def csqAssemble(vcf: DataFrame, transcripts: DataFrame, exons: DataFrame): DataFrame = {
    // ONE candidate join + exon aggregation feeds both layers: the
    // materialized plan stops the cDNA and codon branches from each
    // paying the interval probe, the exon aggregation and the
    // codingBounds broadcast (round-3 bench: f11_csq ran the whole
    // sub-pipeline twice). The aggregate is a few narrow columns per
    // (variant × overlapping transcript) — small relative to input —
    // and Materialize releases the blocks once the result is dropped
    // (a Dataset.persist leaked them for the session).
    // fused single-pass stream (see [[snvFusedFrom]]) — the former
    // cdna-side left join to the codon layer re-joined rows that were
    // never apart, costing two shuffles + a sort-merge per run. With
    // one consumer the former Materialize of the aggregate would be a
    // pure extra action, so the aggregate plans inline.
    val j = snvFusedFrom(transcriptAgg(snvs(vcf), transcripts, exons), transcripts, exons)
      .withColumnRenamed("codon_consequence", "consequence")
    val term = when(col("region") === "intronic", lit("intron_variant"))
      .when(instr(col("hgvs_c"), ":n.") > 0, lit("non_coding_transcript_exon_variant"))
      .when(instr(col("hgvs_c"), ":c.-") > 0, lit("5_prime_UTR_variant"))
      .when(instr(col("hgvs_c"), ":c.*") > 0, lit("3_prime_UTR_variant"))
      .otherwise(coalesce(col("consequence"), lit("coding_sequence_variant")))
    def f(c: Column) = coalesce(c.cast("string"), lit(""))
    val staged = j.withColumn("_term", term)
    val entry = concat_ws("|", col("transcript_id"), col("_term"),
      f(col("cdna_pos")), f(col("cds_pos")), f(col("protein_pos")),
      f(col("hgvs_c")), f(col("hgvs_p")))
    val rank = Vep.soRank.foldLeft(lit(39)) { case (acc, (n, r)) =>
      when(col("_term") === n, lit(r)).otherwise(acc)
    }
    val grouped = staged
      .withColumn("_rank", rank).withColumn("_entry", entry)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_transcripts"), min(col("_rank")).as("_best"),
        array_join(array_sort(collect_list(col("_entry"))), ",").as("csq"))
    val rankToName = Vep.soRank.foldLeft(lit("intergenic_variant")) { case (acc, (n, r)) =>
      when(col("_best") === r, lit(n)).otherwise(acc)
    }
    grouped.select(col("id"), col("n_transcripts"),
      rankToName.as("most_severe_consequence"), col("csq"))
  }
}
