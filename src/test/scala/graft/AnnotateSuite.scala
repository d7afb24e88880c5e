package graft

import graft.vep.Annotate

/** Element-wise coverage of [[Annotate.annotateTyped]]'s parallel
  * array columns (round-6 ADVICE: the arrays were only checked through
  * the '|'-serialized gate projection, where a delimiter collision
  * could mask an element-boundary difference). The typed arrays must
  * decompose EXACTLY like [[Annotate.annotate]]'s CSQ entry fields —
  * same order (the shared entry-string sort key), same values — so the
  * cross-check here parses the gated CSQ string and compares field by
  * field, element by element. */
class AnnotateSuite extends SparkSpec {
  import spark.implicits._

  // entry-string field positions (the 80-field --everything order,
  // golden_benchmark.rs CSQ_FIELD_NAMES_EVERYTHING)
  private val ALLELE = 0
  private val CONSEQUENCE = 1
  private val IMPACT = 2
  private val SYMBOL = 3
  private val GENE = 4
  private val FTYPE = 5
  private val FEATURE = 6
  private val EXON = 8
  private val HGVSC = 10
  private val HGVSP = 11
  private val EXISTING = 17
  private val CANONICAL = 24
  private val MANE = 25
  private val SIFT = 37
  private val POLYPHEN = 38
  private val AF = 42
  private val MAX_AF = 69
  private val MAX_AF_POPS = 70
  private val MOTIF_NAME = 75
  private val MOTIF_SCORE = 78
  private val TFS = 79
  private val N_FIELDS = 80

  test("annotateTyped arrays align element-wise with annotate CSQ entries") {
    // variant 1 overlaps one transcript + one regulatory feature + one
    // motif (3 entries); variant 2 sits on a contig with no features
    // at all (0 entries — chr1:50 would still be within the 5000bp
    // upstream reach of T1)
    val vcf = Seq(
      ("chr1", 1205L, 1205L, 1L, "A", "C"),
      ("chr2", 50L, 50L, 2L, "A", "G"),
    ).toDF("chrom", "start", "end", "id", "ref", "alt")
    // gnomAD sub-population AF family: constant 0.05 (below af_sas 0.6,
    // so MAX_AF = 0.6/'SAS'); af/af_gnomad/af_gnomadg are globals the
    // MAX_AF excludes
    val gnomadExt = Annotate.afCsq.map(_._2)
      .filterNot(Seq("af", "af_afr", "af_amr", "af_eas", "af_eur", "af_sas",
        "af_gnomad").contains)
      .map(c => s"CAST(0.05 AS DOUBLE) AS $c")
    val cache = Seq(
      // Ensembl bare contig name — matched from the chr-prefixed VCF
      // by the one-sided VCF strip (variant_lookup_exec.rs:979-985)
      ("1", 1205L, 1205L, "rs1", "A/C", 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, "benign"),
    ).toDF("chrom", "start", "end", "variation_name", "allele_string",
      "af", "af_afr", "af_amr", "af_eas", "af_eur", "af_sas", "af_gnomad", "clin_sig")
      .selectExpr(Seq("*") ++ gnomadExt ++ Seq(
        "'1' AS somatic", "'0' AS pheno", "CAST(NULL AS STRING) AS pubmed"): _*)
    val tx = Seq(
      ("chr1", 1000L, 1999L, "T1", 1, "protein_coding", 1100L, 1900L,
        "G1", "SYM1", "YES", ""),
    ).toDF("chrom", "start", "end", "transcript_id", "strand", "biotype",
      "cds_start", "cds_end", "gene_id", "symbol", "canonical", "flags")
      .selectExpr("*",
        "'NM_1.1' AS mane_select", "'' AS mane_plus_clinical",
        // Ensembl-style raw attribute values: the renderer must
        // abbreviate APPRIS (principal1 -> P1) and underscore-escape
        // domain labels (spaces/;/= are CSQ/INFO delimiters)
        "1 AS tsl", "'principal1' AS appris", "'CCDS1.1' AS ccds",
        "'SPQ1' AS swissprot", "'' AS trembl", "'UPI1' AS uniparc",
        "'SPQ1-1' AS uniprot_isoform", "'1' AS gene_pheno",
        "'Pfam:PF1&Gene3D db' AS domains", "'' AS mirna")
    val ex = Seq(("T1", 1000L, 1399L), ("T1", 1400L, 1699L), ("T1", 1700L, 1999L))
      .toDF("transcript_id", "start", "end")
    val sift = Seq(("T1", 1L, "A", 0.5)).toDF("transcript_id", "protein_pos", "aa", "sift_score")
    val pp = Seq(("T1", 1L, "A", 0.5)).toDF("transcript_id", "protein_pos", "aa", "polyphen_score")
    val reg = Seq(("chr1", 1200L, 1210L, "R1", "promoter"))
      .toDF("chrom", "start", "end", "feature_id", "feature_type")
    val mot = Seq(("chr1", 1204L, 1215L, "M1", "CTCF", -0.25))
      .toDF("chrom", "start", "end", "motif_id", "tf_name", "score_change")

    val typed = Annotate.annotateTyped(vcf, cache, tx, ex, sift, pp, reg, mot)
      .collect().map(r => r.getLong(r.fieldIndex("id")) -> r).toMap
    val plain = Annotate.annotate(vcf, cache, tx, ex, sift, pp, reg, mot)
      .collect().map(r => r.getLong(r.fieldIndex("id")) -> r).toMap

    def arr(id: Long, name: String): Seq[String] = {
      val r = typed(id)
      r.getSeq[String](r.fieldIndex(name))
    }
    def entries(id: Long): Array[Array[String]] = {
      val r = plain(id)
      val csq = r.getString(r.fieldIndex("csq"))
      if (csq.isEmpty) Array.empty
      else csq.split(",").map(_.split("\\|", -1))
    }

    val e1 = entries(1L)
    assert(e1.length == 3)
    assert(e1.forall(_.length == N_FIELDS))
    // DEFAULT motif shape is the reference's: ONE anonymous
    // MotifFeature entry (Feature empty) per motif-overlapping variant
    assert(e1.map(_(FEATURE)).toSet == Set("T1", "R1", ""))
    // --everything family spot checks on the transcript entry
    val t1e = e1.find(_(FEATURE) == "T1").get
    assert(t1e(ALLELE) == "C")
    assert(t1e(FTYPE) == "Transcript")
    assert(t1e(GENE) == "G1" && t1e(SYMBOL) == "SYM1" && t1e(CANONICAL) == "YES")
    assert(t1e(EXON) == "1/3")      // pos 1205 is in exon 1 of 3, '+' strand
    assert(t1e(EXISTING) == "rs1")  // threaded from the shared lookup
    assert(t1e(MANE) == "MANE_Select")   // derived from mane_select
    assert(t1e(AF) == "0.1000")          // fixed 4-decimal AF slot
    assert(t1e(MAX_AF) == "0.6000" && t1e(MAX_AF_POPS) == "SAS")
    val m1e = e1.find(_(FTYPE) == "MotifFeature").get
    // reference parity: all five motif slots empty (annotate_provider
    // format strings end `...|||||`)
    assert(m1e(FEATURE) == "" && m1e(MOTIF_NAME) == "")
    assert(m1e(MOTIF_SCORE) == "" && m1e(TFS) == "")
    assert(m1e(MANE) == "")              // non-transcript feature
    // every array column must match the corresponding CSQ field,
    // element for element, in the shared entry-sort order
    assert(arr(1L, "transcript_ids") == e1.map(_(FEATURE)).toSeq)
    assert(arr(1L, "consequences") == e1.map(_(CONSEQUENCE)).toSeq)
    assert(arr(1L, "hgvs_c") == e1.map(_(HGVSC)).toSeq)
    assert(arr(1L, "hgvs_p") == e1.map(_(HGVSP)).toSeq)
    assert(arr(1L, "sift") == e1.map(_(SIFT)).toSeq)
    assert(arr(1L, "polyphen") == e1.map(_(POLYPHEN)).toSeq)
    assert(arr(1L, "impact") == e1.map(_(IMPACT)).toSeq)
    // semantic spot-checks on known entries
    val regIdx = e1.indexWhere(_(FEATURE) == "R1")
    assert(arr(1L, "consequences")(regIdx) == "regulatory_region_variant")
    assert(arr(1L, "impact")(regIdx) == "MODIFIER")
    // regulatory BIOTYPE override: the feature's type renders in the
    // BIOTYPE slot (transcript_consequence.rs:1428 biotype_override;
    // annotate_provider.rs:4229) — the fixture's R1 is a promoter
    val BIOTYPE = 7
    assert(e1(regIdx)(BIOTYPE) == "promoter")
    assert(e1.find(_(FEATURE) == "T1").get(BIOTYPE) == "protein_coding")
    assert(e1.find(_(FTYPE) == "MotifFeature").get(BIOTYPE) == "")
    // APPRIS abbreviation + DOMAINS delimiter escaping
    // (annotate_provider.rs:1970 format_appris, :6051 label cleanup)
    val APPRIS = 29; val DOMAINS = 39
    assert(t1e(APPRIS) == "P1")
    assert(t1e(DOMAINS) == "Pfam:PF1&Gene3D_db")
    val motIdx = e1.indexWhere(_(FTYPE) == "MotifFeature")
    assert(arr(1L, "consequences")(motIdx) == "TF_binding_site_variant")
    // variant-level columns agree between the two shapes
    val t1 = typed(1L); val p1 = plain(1L)
    assert(t1.getString(t1.fieldIndex("variation_name")) == "rs1")
    assert(p1.getString(p1.fieldIndex("variation_name")) == "rs1")
    assert(t1.getLong(t1.fieldIndex("n_transcripts")) == 3L)
    // MAX_AF spans population columns only: the globals af 0.1,
    // af_gnomad 0.7 (gnomADe_AF) and af_gnomadg are excluded, the
    // gnomAD sub-pops sit at 0.05, so af_sas 0.6 wins
    assert(t1.getDouble(t1.fieldIndex("max_af")) == 0.6)
    assert(t1.getString(t1.fieldIndex("max_af_pops")) == "SAS")

    // no-transcript-hit variant: VEP emits ONE featureless intergenic
    // entry (transcript_consequence.rs:1113-1121) — Feature and
    // Feature_type empty, MODIFIER impact
    val e2 = entries(2L)
    assert(e2.length == 1)
    assert(e2(0)(CONSEQUENCE) == "intergenic_variant")
    assert(e2(0)(FEATURE) == "" && e2(0)(FTYPE) == "")
    assert(e2(0)(IMPACT) == "MODIFIER")
    assert(arr(2L, "consequences") == Seq("intergenic_variant"))
    assert(arr(2L, "transcript_ids") == Seq(""))

    // the full 87-column typed frame decomposes the same CSQ: every
    // transcript-level List column matches its CSQ slot element-wise,
    // per-variant scalars match the first entry's slot, frequency
    // columns round-trip the rendered decimals, and the cache-only
    // xrefs read the allele-matched cache entry
    val full = Annotate.annotateTypedFull(vcf, cache, tx, ex, sift, pp, reg, mot)
      .collect().map(r => r.getLong(r.fieldIndex("id")) -> r).toMap
    val f1r = full(1L)
    def farr(name: String): Seq[String] =
      f1r.getSeq[String](f1r.fieldIndex(name))
    assert(f1r.getString(f1r.fieldIndex("Allele")) == "C")
    assert(f1r.getString(f1r.fieldIndex("VARIANT_CLASS")) == "SNV")
    assert(farr("Consequence") == e1.map(_(CONSEQUENCE)).toSeq)
    assert(farr("Feature") == e1.map(_(FEATURE)).toSeq)
    assert(farr("SYMBOL") == e1.map(_(SYMBOL)).toSeq)
    assert(farr("HGVSc") == e1.map(_(HGVSC)).toSeq)
    assert(farr("Existing_variation") == Seq("rs1", "rs1", "rs1"))
    assert(f1r.getSeq[Double](f1r.fieldIndex("AF")) == Seq(0.1, 0.1, 0.1))
    assert(f1r.getSeq[Double](f1r.fieldIndex("MAX_AF")) == Seq(0.6, 0.6, 0.6))
    assert(f1r.getString(f1r.fieldIndex("MAX_AF_POPS")) == "SAS")
    assert(f1r.getSeq[String](f1r.fieldIndex("CLIN_SIG")) == Seq("benign"))
    assert(f1r.getString(f1r.fieldIndex("SOMATIC")) == "1")
    // motif tail: default (reference-parity) slots are empty, so the
    // '&'-join of non-empty values yields null / an empty list
    assert(f1r.isNullAt(f1r.fieldIndex("MOTIF_NAME")))
    assert(f1r.getSeq[Double](f1r.fieldIndex("MOTIF_SCORE_CHANGE")).isEmpty)
    // cache-only xrefs: variant 1 matches rs1; the fixture cache rows
    // here carry no xref columns -> lookupVariants requires them, so
    // just pin the no-hit variant's NULL lists on variant 2
    val f2r = full(2L)
    assert(f2r.isNullAt(f2r.fieldIndex("dbsnp_ids")))
    assert(f2r.isNullAt(f2r.fieldIndex("clinical_impact")))
    assert(f2r.getSeq[String](f2r.fieldIndex("Consequence")) == Seq("intergenic_variant"))

    // the public CSQ metadata: 80 names in emission order, header
    // line announces them, parseCsq inverts the rendering
    assert(Annotate.csqFieldNames.length == N_FIELDS)
    assert(Annotate.csqFieldNames(ALLELE) == "Allele" &&
      Annotate.csqFieldNames(MAX_AF_POPS) == "MAX_AF_POPS" &&
      Annotate.csqFieldNames(TFS) == "TRANSCRIPTION_FACTORS")
    assert(Annotate.csqInfoHeader.contains(Annotate.csqFieldNames.mkString("|")))
    // transcript-source modes splice the RefSeq block before GENE_PHENO
    val refseq = Annotate.csqFieldNamesForMode(refseq = true)
    assert(refseq.length == 85 &&
      refseq.slice(refseq.indexOf("UNIPROT_ISOFORM") + 1, refseq.indexOf("GENE_PHENO")) ==
        Seq("REFSEQ_MATCH", "REFSEQ_OFFSET", "GIVEN_REF", "USED_REF", "BAM_EDIT"))
    val merged = Annotate.csqFieldNamesForMode(merged = true)
    assert(merged.length == 86 && merged.indexOf("SOURCE") == merged.indexOf("REFSEQ_MATCH") + 1)
    assert(Annotate.csqFieldNamesForMode() == Annotate.csqFieldNames)
    val parsed = Annotate.annotate(vcf, cache, tx, ex, sift, pp, reg, mot)
      .where($"id" === 1L)
      .select(org.apache.spark.sql.functions.explode(Annotate.parseCsq($"csq")).as("m"))
      .collect().map(_.getMap[String, String](0))
    assert(parsed.length == 3)
    val tm = parsed.find(_("Feature") == "T1").get
    assert(tm("SYMBOL") == "SYM1" && tm("MANE") == "MANE_Select" &&
      tm("AF") == "0.1000" && tm("MAX_AF_POPS") == "SAS")
    // the no-transcript-hit variant's csq parses to exactly the one
    // intergenic entry (csq is never empty any more — VEP emits the
    // featureless intergenic entry instead)
    val itgParsed = Annotate.annotate(vcf, cache, tx, ex, sift, pp, reg, mot)
      .where($"id" === 2L)
      .select(org.apache.spark.sql.functions.explode(
        Annotate.parseCsq($"csq")).as("m"))
      .collect().map(_.getMap[String, String](0))
    assert(itgParsed.length == 1)
    assert(itgParsed.head("Consequence") == "intergenic_variant")
    // an actually-empty csq string still parses to an empty list
    val empty = vcf.where($"id" === 2L)
      .select(org.apache.spark.sql.functions.size(
        Annotate.parseCsq(org.apache.spark.sql.functions.lit(""))))
      .collect().head.getInt(0)
    assert(empty == 0)

    // annotated-VCF serialization: CSQ INFO line round-trips the csq
    // string; the no-transcript-hit variant carries its intergenic
    // entry (csq is never empty, so the '.' INFO arm never fires here)
    val ann = Annotate.annotate(vcf, cache, tx, ex, sift, pp, reg, mot)
    val lines = graft.vep.Vep.toAnnotatedVcfLines(vcf, ann)
      .collect().map(_.getString(0)).sortBy(_.split("\t")(2).toLong)
    assert(lines.length == 2)
    val f1 = lines(0).split("\t"); val f2 = lines(1).split("\t")
    assert(f1(7).startsWith("CSQ=") &&
      f1(7).drop(4) == plain(1L).getString(plain(1L).fieldIndex("csq")))
    assert(f2(7).startsWith("CSQ=") && f2(7).contains("intergenic_variant"))
    assert(graft.vep.Vep.annotatedVcfHeader(1) == Annotate.csqInfoHeader)

    // reserved-byte hardening (round-7 ADVICE): \u0001-\u0004 are the
    // per-variant substitution placeholders; user-sourced values
    // carrying them must be stripped, not substituted into every
    // entry of the variant
    val hostileCache = cache
      .withColumn("variation_name",
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("rs\u0001\u00041"),
          org.apache.spark.sql.functions.lit("")))
    val hostileTx = tx.withColumn("symbol",
      org.apache.spark.sql.functions.lit("SY\u0002M1\u0003"))
    val hostile = Annotate.annotate(vcf, hostileCache, hostileTx, ex, sift, pp, reg, mot)
      .where($"id" === 1L).collect().head
    val hcsq = hostile.getString(hostile.fieldIndex("csq"))
    assert(!hcsq.exists(c => c >= '\u0001' && c <= '\u0004'))
    val hEntries = hcsq.split(",").map(_.split("\\|", -1))
    assert(hEntries.forall(_.length == N_FIELDS))
    assert(hEntries.find(_(FEATURE) == "T1").get(EXISTING) == "rs1")
    assert(hEntries.find(_(FEATURE) == "T1").get(SYMBOL) == "SYM1")

    // ---- the reference's options_json surface (VepFlags) ----
    import graft.vep.VepOptions
    val oj = VepOptions.fromJson(
      """{"af_1kg": true, "pubmed": true, "distance": 3000}""")
    assert(!oj.everything && oj.af1kg && oj.pubmed && oj.distance == 3000L)
    // AF/pubmed flags imply check_existing (Config.pm rule)
    assert(oj.checkExistingOn && !oj.afOn && !oj.afGnomadeOn && !oj.maxAfOn)
    assert(VepOptions.Default.everything == false &&
      !VepOptions.Default.checkExistingOn)
    assert(VepOptions.Everything.checkExistingOn)
    // 74-field default layout + transcript-source splices
    val dflt = Annotate.csqFieldNamesForMode(everything = false)
    assert(dflt.length == 74 && dflt.head == "Allele" && dflt.last == "PUBMED" &&
      dflt.contains("SOURCE") && !dflt.contains("MANE") && !dflt.contains("SIFT"))
    assert(Annotate.csqFieldNamesForMode(refseq = true, everything = false).length == 78)
    assert(Annotate.csqFieldNamesForMode(merged = true, everything = false).length == 79)
    // default profile (all flags off): 74-field entries, NO colocated
    // lookup — Existing_variation renders empty, variation_name null
    val defRow = Annotate.annotate(vcf, cache, tx, ex, sift, pp, reg, mot,
      VepOptions.Default).where($"id" === 1L).collect().head
    val defEntries = defRow.getString(defRow.fieldIndex("csq"))
      .split(",").map(_.split("\\|", -1))
    assert(defEntries.forall(_.length == 74))
    val defT1 = defEntries.find(_(6) == "T1").get
    assert(defT1(17) == "")  // Existing_variation: check_existing off
    assert(defT1(10) == "" && defT1(11) == "")  // HGVSc/HGVSp: hgvs off
    assert(defRow.isNullAt(defRow.fieldIndex("variation_name")))
    assert(defRow.isNullAt(defRow.fieldIndex("max_af")))
    // hgvsc alone turns on only the coding form
    val hOpt = VepOptions.fromJson("""{"hgvsc": true}""")
    assert(hOpt.hgvscOn && !hOpt.hgvspOn && !hOpt.checkExistingOn)
    assert(VepOptions.fromJson("""{"hgvs": true}""").hgvspOn)
    // transcript-source selection: Ensembl default mode is a
    // pass-through; the sub-flags demand a RefSeq-bearing mode
    // (the reference errors identically, annotate_provider.rs:1277)
    assert(Annotate.selectTranscripts(tx, VepOptions.Everything).count() == 1)
    intercept[IllegalArgumentException] {
      Annotate.selectTranscripts(tx,
        VepOptions.fromJson("""{"all_refseq": true}"""))
    }
    intercept[IllegalArgumentException] {
      Annotate.selectTranscripts(tx,
        VepOptions.fromJson("""{"exclude_predicted": true}"""))
    }
    // refseq mode: curated NM_ passes, predicted XM_ passes only via
    // all_refseq, Ensembl/unlabeled ids drop
    val mixTx = tx.selectExpr("'chr1' AS chrom", "explode(array('NM_7.1', 'XM_9.2', 'ENST0001', 'T77')) AS transcript_id")
    def sel(js: String): Set[String] =
      Annotate.selectTranscripts(mixTx, VepOptions.fromJson(js))
        .collect().map(_.getString(1)).toSet
    assert(sel("""{"refseq": true}""") == Set("NM_7.1", "XM_9.2"))
    assert(sel("""{"refseq": true, "exclude_predicted": true}""") == Set("NM_7.1"))
    assert(sel("""{"merged": true, "exclude_predicted": true}""") == Set("NM_7.1", "ENST0001"))
    // gencode set flags: optional boolean attribute columns; the
    // reference's mutual exclusions apply
    intercept[IllegalArgumentException] {
      Annotate.selectTranscripts(mixTx,
        VepOptions.fromJson("""{"refseq": true, "gencode_basic": true}"""))
    }
    intercept[IllegalArgumentException] {
      Annotate.selectTranscripts(mixTx,
        VepOptions.fromJson("""{"gencode_basic": true, "gencode_primary": true}"""))
    }
    val gtx = mixTx.withColumn("is_gencode_basic",
      org.apache.spark.sql.functions.expr("transcript_id IN ('NM_7.1', 'T77')"))
    assert(Annotate.selectTranscripts(gtx,
        VepOptions.fromJson("""{"gencode_basic": true}"""))
      .collect().map(_.getString(1)).toSet == Set("NM_7.1", "T77"))
    // absent attribute column = nothing is in the GENCODE set
    assert(Annotate.selectTranscripts(mixTx,
      VepOptions.fromJson("""{"gencode_basic": true}""")).count() == 0)
    // flag-gated colocated family: af_1kg on, gnomAD off
    val gatedRow = Annotate.annotate(vcf, cache, tx, ex, sift, pp, reg, mot,
      oj).where($"id" === 1L).collect().head
    val gT1 = gatedRow.getString(gatedRow.fieldIndex("csq"))
      .split(",").map(_.split("\\|", -1)).find(_(6) == "T1").get
    // 74-layout AF block starts at index 41: AF(gated off), AFR..SAS on
    assert(gT1(41) == "" && gT1(42) == "0.2000" && gT1(46) == "0.6000" &&
      gT1(47) == "")  // gnomADe_AF slot off
    assert(gatedRow.isNullAt(gatedRow.fieldIndex("af")) &&
      gatedRow.getDouble(gatedRow.fieldIndex("af_afr")) == 0.2 &&
      gatedRow.isNullAt(gatedRow.fieldIndex("af_gnomad")) &&
      gatedRow.isNullAt(gatedRow.fieldIndex("max_af")))

    // motif_rich (library extension): one Feature row per overlapped
    // motif with populated MOTIF_* slots, real-VEP style
    val richOpts = VepOptions.fromJson(
      """{"everything": true, "motif_rich": true}""")
    assert(richOpts.motifRich && !VepOptions.Everything.motifRich)
    val richRow = Annotate.annotate(vcf, cache, tx, ex, sift, pp, reg, mot,
      richOpts).where($"id" === 1L).collect().head
    val richE = richRow.getString(richRow.fieldIndex("csq"))
      .split(",").map(_.split("\\|", -1))
    assert(richE.map(_(FEATURE)).toSet == Set("T1", "R1", "M1"))
    val richM = richE.find(_(FEATURE) == "M1").get
    assert(richM(FTYPE) == "MotifFeature" && richM(MOTIF_NAME) == "CTCF")
    assert(richM(MOTIF_SCORE) == "-0.25" && richM(TFS) == "CTCF")
    val richFull = Annotate.annotateTypedFull(vcf, cache, tx, ex, sift, pp,
      reg, mot, richOpts).where($"id" === 1L).collect().head
    assert(richFull.getString(richFull.fieldIndex("MOTIF_NAME")) == "CTCF")
    assert(richFull.getSeq[Double](
      richFull.fieldIndex("MOTIF_SCORE_CHANGE")) == Seq(-0.25))

    // partition invariance: the entry sort (placeholder form) and the
    // per-variant substitution must be deterministic under different
    // shuffle layouts
    val base = Annotate.annotate(vcf, cache, tx, ex, sift, pp, reg, mot)
      .orderBy("id").collect().map(_.toSeq).toSeq
    // multi-entry colocated ordering must also be layout-independent:
    // a satellite entry at the same coordinates ties on the somatic
    // key and resolves through the prefix-rank/payload tie-break
    val cache2 = cache.unionByName(cache
      .withColumn("variation_name", org.apache.spark.sql.functions.lit("COSM77"))
      .withColumn("somatic", org.apache.spark.sql.functions.lit("0"))
      .withColumn("af_afr", org.apache.spark.sql.functions.lit(0.9)))
    val exBase = Annotate.existingVariants(vcf, cache2)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(exBase.nonEmpty &&
      exBase.head(1) == "COSM77&rs1") // somatic '0' sorts before '1'
    val p0 = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (p <- Seq("1", "7")) {
        spark.conf.set("spark.sql.shuffle.partitions", p)
        val got = Annotate.annotate(vcf, cache, tx, ex, sift, pp, reg, mot)
          .orderBy("id").collect().map(_.toSeq).toSeq
        assert(got == base, s"annotate not invariant at partitions=$p")
        val gotEx = Annotate.existingVariants(vcf, cache2)
          .orderBy("id").collect().map(_.toSeq).toSeq
        assert(gotEx == exBase, s"existingVariants not invariant at partitions=$p")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", p0)
  }

  test("colocated fidelity: empty names skipped, tied-max pops repeat; option parsing is structural") {
    import graft.vep.VepOptions
    val vcf = Seq(("chr1", 100L, 100L, 1L, "A", "C"))
      .toDF("chrom", "start", "end", "id", "ref", "alt")
    val afCols = Annotate.afCsq.map(_._2)
    def mk(name: String, sas: String): org.apache.spark.sql.DataFrame =
      Seq(("1", 100L, 100L, name, "A/C"))
        .toDF("chrom", "start", "end", "variation_name", "allele_string")
        .selectExpr(Seq("*") ++ afCols.map {
          case "af_sas" => s"CAST($sas AS DOUBLE) AS af_sas"
          case c => s"CAST(NULL AS DOUBLE) AS $c"
        } ++ Seq("'0' AS somatic", "'0' AS pheno",
          "CAST(NULL AS STRING) AS pubmed", "CAST(NULL AS STRING) AS clin_sig"): _*)
    // two entries tie at the global max on SAS: per-entry dedup only
    // (push_unique_value), so the pop name repeats across entries
    val tied = mk("rs1", "0.6").unionByName(mk("rs2", "0.6"))
    val tr = Annotate.existingVariants(vcf, tied).collect().head
    assert(tr.getString(tr.fieldIndex("existing_variation")) == "rs1&rs2")
    assert(tr.getDouble(tr.fieldIndex("max_af")) == 0.6)
    assert(tr.getString(tr.fieldIndex("max_af_pops")) == "SAS&SAS")
    // an empty-named cache entry is skipped ENTIRELY (the reference's
    // build_colocated_map_from_sink) — its higher AF must not leak
    // into the family, the max, or the pops
    val withEmpty = tied.unionByName(mk("", "0.9"))
    val er = Annotate.existingVariants(vcf, withEmpty).collect().head
    assert(er.getString(er.fieldIndex("existing_variation")) == "rs1&rs2")
    assert(er.getDouble(er.fieldIndex("max_af")) == 0.6)
    assert(er.getString(er.fieldIndex("max_af_pops")) == "SAS&SAS")

    // --refseq and --merged are mutually exclusive
    val tx1 = Seq(("chr1", "NM_7.1")).toDF("chrom", "transcript_id")
    intercept[IllegalArgumentException] {
      Annotate.selectTranscripts(tx1,
        VepOptions.fromJson("""{"refseq": true, "merged": true}"""))
    }

    // fromJson is structural: a flag name inside a string value or a
    // nested object must NOT set the flag
    val sneaky = VepOptions.fromJson(
      """{"note": "enable \"everything\": true later",
        | "nested": {"hgvs": true}, "refseq": false}""".stripMargin)
    assert(!sneaky.everything && !sneaky.hgvs && !sneaky.refseq)
    // non-numeric distance is ignored, non-boolean flag value too
    val typed = VepOptions.fromJson(
      """{"distance": "3000", "pubmed": "true", "hgvsc": true}""")
    assert(typed.distance == 5000L && !typed.pubmed && typed.hgvsc)
    // shift_hgvs: default on; only an explicit boolean false disables
    assert(VepOptions.fromJson("""{"hgvs": true}""").shiftHgvs)
    assert(!VepOptions.fromJson("""{"hgvs": true, "shift_hgvs": false}""").shiftHgvs)
    assert(VepOptions.fromJson("""{"shift_hgvs": "false"}""").shiftHgvs)
  }

  test("boundary insertions: VEP transcript candidacy gates every family") {
    // Variant 1: insertion anchored at 999 — its VEP insertion point
    // P = 1000 sits exactly ON the transcript start of T1
    // [1000, 1999]. VEP's insertion candidacy requires BOTH flanks
    // inside the transcript (P in (tx_start, tx_end]), so T1 is not
    // evaluated at all: no geometry, no HGVS, and — since the
    // candidacy gate covers the splice family too — no splice terms
    // (the pre-rework norm-reach arm emitted splice_region_variant
    // here, a behavior the reference never produces). The variant is
    // 1 bp upstream, so the updown layer contributes the ONLY entry.
    // Variant 2 is far upstream: updown only.
    val vcf = Seq(
      ("chr1", 999L, 999L, 1L, "A", "AG"),
      ("chr1", 900L, 900L, 2L, "A", "AG"),
    ).toDF("chrom", "start", "end", "id", "ref", "alt")
    val afCols = Annotate.afCsq.map(_._2)
    val cache = Seq.empty[(String, Long, Long, String, String)]
      .toDF("chrom", "start", "end", "variation_name", "allele_string")
      .selectExpr(Seq("*") ++ afCols.map(c => s"CAST(NULL AS DOUBLE) AS $c") ++
        Seq("'0' AS somatic", "'0' AS pheno",
          "CAST(NULL AS STRING) AS pubmed", "CAST(NULL AS STRING) AS clin_sig"): _*)
    val tx = Seq(
      ("chr1", 1000L, 1999L, "T1", 1, "protein_coding", 1200L, 1900L,
        "G1", "SYM1", "YES", ""),
    ).toDF("chrom", "start", "end", "transcript_id", "strand", "biotype",
      "cds_start", "cds_end", "gene_id", "symbol", "canonical", "flags")
      .selectExpr("*",
        "'' AS mane_select", "'' AS mane_plus_clinical", "1 AS tsl",
        "'' AS appris", "'' AS ccds", "'' AS swissprot", "'' AS trembl",
        "'' AS uniparc", "'' AS uniprot_isoform", "'0' AS gene_pheno",
        "'' AS domains", "'' AS mirna")
    val ex = Seq(("T1", 1000L, 1000L), ("T1", 1100L, 1999L))
      .toDF("transcript_id", "start", "end")
    val sift = Seq.empty[(String, Long, String, Double)]
      .toDF("transcript_id", "protein_pos", "aa", "sift_score")
    val pp = Seq.empty[(String, Long, String, Double)]
      .toDF("transcript_id", "protein_pos", "aa", "polyphen_score")
    val reg = Seq.empty[(String, Long, Long, String)]
      .toDF("chrom", "start", "end", "feature_id")
    val mot = Seq.empty[(String, Long, Long, String, String, Double)]
      .toDF("chrom", "start", "end", "motif_id", "tf_name", "score_change")

    val out = Annotate.annotate(vcf, cache, tx, ex, sift, pp, reg, mot)
      .collect().map(r => r.getLong(r.fieldIndex("id")) -> r).toMap
    def entries(id: Long): Array[Array[String]] = {
      val csq = out(id).getString(out(id).fieldIndex("csq"))
      if (csq.isEmpty) Array.empty else csq.split(",").map(_.split("\\|", -1))
    }
    val DIST = 18
    val e1 = entries(1L)
    assert(e1.length == 1, e1.map(_(CONSEQUENCE)).mkString(";"))
    assert(e1.head(CONSEQUENCE) == "upstream_gene_variant")
    assert(e1.head(DIST) == "1")
    assert(out(1L).getString(out(1L).fieldIndex("most_severe_consequence")) ==
      "upstream_gene_variant")
    val e2 = entries(2L)
    assert(e2.length == 1 && e2.head(CONSEQUENCE) == "upstream_gene_variant")
    assert(e2.head(DIST) == "100")
  }

  test("miRNA CSQ field probes the full cDNA span of a multi-base indel") {
    // the reference parses the "N-M" cDNA_position RANGE into
    // mirna_structure_field (annotate_provider.rs:4404-4421); a
    // deletion spanning stem -> loop -> stem must emit all three
    // structure terms, not just the start position's
    val vcf = Seq(
      // anchor at 1000, deleting 1001..1005 -> cDNA span 2..6 of the
      // single exon starting at 1000 (cdna(p) = p - 1000 + 1)
      ("chr1", 1000L, 1005L, 1L, "TAAAAA", "T"),
      // SNV control at 1003 -> cDNA 4, a loop position
      ("chr1", 1003L, 1003L, 2L, "A", "G"),
    ).toDF("chrom", "start", "end", "id", "ref", "alt")
    val afCols = Annotate.afCsq.map(_._2)
    val cache = Seq.empty[(String, Long, Long, String, String)]
      .toDF("chrom", "start", "end", "variation_name", "allele_string")
      .selectExpr(Seq("*") ++ afCols.map(c => s"CAST(NULL AS DOUBLE) AS $c") ++
        Seq("'0' AS somatic", "'0' AS pheno",
          "CAST(NULL AS STRING) AS pubmed", "CAST(NULL AS STRING) AS clin_sig"): _*)
    // dot-bracket "((...))": stems at cDNA 1-2 and 6-7, loop at 3-5
    val tx = Seq(
      ("chr1", 1000L, 1099L, "T1", 1, "miRNA", 0L, 0L, "G1", "MIR1", "YES", ""),
    ).toDF("chrom", "start", "end", "transcript_id", "strand", "biotype",
      "cds_start", "cds_end", "gene_id", "symbol", "canonical", "flags")
      .selectExpr("*",
        "'' AS mane_select", "'' AS mane_plus_clinical", "1 AS tsl",
        "'' AS appris", "'' AS ccds", "'' AS swissprot", "'' AS trembl",
        "'' AS uniparc", "'' AS uniprot_isoform", "'0' AS gene_pheno",
        "'' AS domains", "'(2.3)2' AS mirna")
    val ex = Seq(("T1", 1000L, 1099L)).toDF("transcript_id", "start", "end")
    val sift = Seq.empty[(String, Long, String, Double)]
      .toDF("transcript_id", "protein_pos", "aa", "sift_score")
    val pp = Seq.empty[(String, Long, String, Double)]
      .toDF("transcript_id", "protein_pos", "aa", "polyphen_score")
    val reg = Seq.empty[(String, Long, Long, String)]
      .toDF("chrom", "start", "end", "feature_id")
    val mot = Seq.empty[(String, Long, Long, String, String, Double)]
      .toDF("chrom", "start", "end", "motif_id", "tf_name", "score_change")

    val out = Annotate.annotate(vcf, cache, tx, ex, sift, pp, reg, mot)
      .collect().map(r => r.getLong(r.fieldIndex("id")) -> r).toMap
    def entries(id: Long): Array[Array[String]] = {
      val csq = out(id).getString(out(id).fieldIndex("csq"))
      if (csq.isEmpty) Array.empty else csq.split(",").map(_.split("\\|", -1))
    }
    val MIRNA = 40
    val t1 = entries(1L).find(_(FEATURE) == "T1").get
    // span 2..6 of "((...))" touches '(' (open), '.' (loop), ')' (close)
    assert(t1(MIRNA) == "miRNA_loop&miRNA_stem&miRNA_stem", t1(MIRNA))
    val t2 = entries(2L).find(_(FEATURE) == "T1").get
    assert(t2(MIRNA) == "miRNA_loop", t2(MIRNA))
  }

  test("duplicate regulatory cache rows yield ONE entry per stable id") {
    // transcript_consequence.rs:1369-1371 + its
    // prepared_context_deduplicates_duplicate_regulatory_stable_ids /
    // annotate_table_function.rs test_annotate_vep_deduplicates_...:
    // VEP emits one CSQ entry per RegulatoryFeature stable id, and the
    // reference dedups its context rows to preserve that — a cache
    // with the same ENSR row twice must not double the entry
    val vcf = Seq(("chr1", 155L, 155L, 1L, "A", "G"))
      .toDF("chrom", "start", "end", "id", "ref", "alt")
    val afCols2 = Annotate.afCsq.map(_._2)
    val cache = Seq.empty[(String, Long, Long, String, String)]
      .toDF("chrom", "start", "end", "variation_name", "allele_string")
      .selectExpr(Seq("*") ++ afCols2.map(c => s"CAST(NULL AS DOUBLE) AS $c") ++
        Seq("'0' AS somatic", "'0' AS pheno",
          "CAST(NULL AS STRING) AS pubmed", "CAST(NULL AS STRING) AS clin_sig"): _*)
    val tx = Seq.empty[(String, Long, Long, String, Int, String, Long, Long)]
      .toDF("chrom", "start", "end", "transcript_id", "strand", "biotype",
        "cds_start", "cds_end")
      .selectExpr("*", "'' AS gene_id", "'' AS symbol", "'' AS canonical",
        "'' AS flags", "'' AS mane_select", "'' AS mane_plus_clinical",
        "1 AS tsl", "'' AS appris", "'' AS ccds", "'' AS swissprot",
        "'' AS trembl", "'' AS uniparc", "'' AS uniprot_isoform",
        "'0' AS gene_pheno", "'' AS domains", "'' AS mirna")
    val ex = Seq.empty[(String, Long, Long)].toDF("transcript_id", "start", "end")
    val sift = Seq.empty[(String, Long, String, Double)]
      .toDF("transcript_id", "protein_pos", "aa", "sift_score")
    val pp = Seq.empty[(String, Long, String, Double)]
      .toDF("transcript_id", "protein_pos", "aa", "polyphen_score")
    val reg = Seq(
      ("chr1", 150L, 160L, "ENSR_DUP", "promoter"),
      ("chr1", 150L, 160L, "ENSR_DUP", "promoter"))
      .toDF("chrom", "start", "end", "feature_id", "feature_type")
    val mot = Seq.empty[(String, Long, Long, String, String, Double)]
      .toDF("chrom", "start", "end", "motif_id", "tf_name", "score_change")
    val out = Annotate.annotate(vcf, cache, tx, ex, sift, pp, reg, mot).collect()
    assert(out.length == 1)
    val csq = out.head.getString(out.head.fieldIndex("csq"))
    val regEntries = csq.split(",").filter(_.contains("RegulatoryFeature"))
    assert(regEntries.length == 1, s"expected one regulatory entry, csq=$csq")
    assert(regEntries.head.split("\\|", -1)(5) == "RegulatoryFeature")
    assert(regEntries.head.split("\\|", -1)(6) == "ENSR_DUP")
  }

  test("xrefs: least allele-matched tuple wins; ';'/',' lists split, empty renders NULL") {
    // variant 1 matches TWO cache rows on its allele (rs1, rs2) plus a
    // same-site row on another allele (rs0, A/T); variant 2 matches one
    // row whose xref strings are all empty
    val vcf = Seq(
      ("chr1", 1205L, 1205L, 1L, "A", "C"),
      ("chr1", 1305L, 1305L, 2L, "A", "G"),
    ).toDF("chrom", "start", "end", "id", "ref", "alt")
    val cache = Seq(
      ("1", 1205L, "rs2", "A/C", "C:benign", "low", "C", 0.4, "RCV2", "COSV2", "rs2"),
      ("1", 1205L, "rs1", "A/C", "C:pathogenic;C:likely_pathogenic", "", "C", 0.2,
        "RCV1, RCV3", "", "rs1"),
      ("1", 1205L, "rs0", "A/T", "T:benign", "high", "T", 0.1, "RCV0", "COSV0", "rs0"),
      ("1", 1305L, "rs5", "A/G", "", "", "", Double.NaN, "", "", ""),
    ).toDF("chrom", "start", "variation_name", "allele_string", "clin_sig_allele",
      "clinical_impact", "minor_allele", "minor_allele_freq", "clinvar_id",
      "cosmic_id", "dbsnp_id")
      .selectExpr(Seq("chrom", "start", "start AS `end`", "variation_name", "allele_string") ++
        Annotate.afCsq.map(c => s"CAST(NULL AS DOUBLE) AS ${c._2}") ++
        Seq("'0' AS somatic", "'0' AS pheno", "CAST(NULL AS STRING) AS pubmed",
          "CAST(NULL AS STRING) AS clin_sig", "clin_sig_allele", "clinical_impact",
          "minor_allele", "nanvl(minor_allele_freq, NULL) AS minor_allele_freq",
          "clinvar_id", "cosmic_id", "dbsnp_id"): _*)
    val tx = Seq(("chr1", 1000L, 1999L, "T1", 1, "protein_coding", 1100L, 1900L))
      .toDF("chrom", "start", "end", "transcript_id", "strand", "biotype",
        "cds_start", "cds_end")
      .selectExpr("*", "'G1' AS gene_id", "'SYM1' AS symbol", "'YES' AS canonical",
        "'' AS flags", "'' AS mane_select", "'' AS mane_plus_clinical",
        "1 AS tsl", "'' AS appris", "'' AS ccds", "'' AS swissprot",
        "'' AS trembl", "'' AS uniparc", "'' AS uniprot_isoform",
        "'0' AS gene_pheno", "'' AS domains", "'' AS mirna")
    val ex = Seq(("T1", 1000L, 1999L)).toDF("transcript_id", "start", "end")
    val sift = Seq.empty[(String, Long, String, Double)]
      .toDF("transcript_id", "protein_pos", "aa", "sift_score")
    val pp = Seq.empty[(String, Long, String, Double)]
      .toDF("transcript_id", "protein_pos", "aa", "polyphen_score")
    val reg = Seq.empty[(String, Long, Long, String, String)]
      .toDF("chrom", "start", "end", "feature_id", "feature_type")
    val mot = Seq.empty[(String, Long, Long, String, String, Double)]
      .toDF("chrom", "start", "end", "motif_id", "tf_name", "score_change")
    val xrefCols = Seq("clin_sig_allele", "clinical_impact", "minor_allele",
      "minor_allele_freq", "clinvar_ids", "cosmic_ids", "dbsnp_ids")
    def byId(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Any]] =
      df.select(("id" +: xrefCols).map(org.apache.spark.sql.functions.col): _*)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val folded = byId(Annotate.annotateTypedFull(vcf, cache, tx, ex, sift, pp, reg, mot))
    // (variation_name, clin_sig_allele, ...) is compared as a tuple:
    // rs1 < rs2 decides, though rs1's clin_sig_allele sorts later; the
    // A/T row (rs0) never matches the C allele. ';' splits
    // clin_sig_allele, ',' the id lists (elements trimmed); empty
    // strings render NULL, not empty lists
    assert(folded(1L) == Seq(Seq("C:pathogenic", "C:likely_pathogenic"), null, "C", 0.2,
      Seq("RCV1", "RCV3"), null, Seq("rs1")))
    assert(folded(2L) == Seq(null, null, null, null, null, null, null))
    // the standalone lookup renders the same columns identically
    assert(byId(Annotate.existingXrefs(vcf, cache)) == folded)
  }

  test("TermPost: two term columns in one projection compile without codegen fallback") {
    import org.apache.spark.sql.{Column, GraftColumnBridge}
    import org.apache.spark.sql.functions.{array, col, lit, when}
    // rank-prefixed vocabulary, the shape annotate's entry streams use
    val conf = graft.plans.TermPostConf(
      Seq("12missense_variant"), Seq("02splice_donor_variant"), Seq("03stop_gained"),
      "22coding_sequence_variant", "13protein_altering_variant",
      "16splice_donor_region_variant", "15splice_region_variant",
      "18incomplete_terminal_codon_variant", "14splice_donor_5th_base_variant")
    def post(c: Column): Column = GraftColumnBridge.column(
      graft.plans.TermPost(GraftColumnBridge.expression(c), conf))
    // a Range source keeps the projection in whole-stage codegen (a
    // local relation would be folded at optimization time); array(...)
    // is non-nullable, so neither expression wraps its code in a
    // null-check block and both land in one generated method
    val df = spark.range(2).select(
      when(col("id") === 0, lit("12missense_variant"))
        .otherwise(lit("15splice_region_variant")).as("a"),
      when(col("id") === 0, lit("22coding_sequence_variant"))
        .otherwise(lit("02splice_donor_variant")).as("b"), col("id"))
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val got = df.orderBy("id").select(
          post(array(col("a"), col("b"))).getField("ts"),
          post(array(col("b"))).getField("ts"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      // parents strip beside their specific children
      assert(got == Seq(("missense_variant", "coding_sequence_variant"),
        ("splice_donor_variant", "splice_donor_variant")), got.mkString(";"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
