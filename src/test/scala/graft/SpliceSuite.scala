package graft

import graft.vep.Splice

/** Hand-computed expectations for the intron-aware cDNA/HGVS layer
  * (Splice.cdnaAnnotate). Transcript layout (1-based closed):
  *
  *   T+ (strand +1, protein_coding): exons [100,199], [300,399],
  *      [500,599]; CDS genomic [150, 549].
  *   T- (strand -1, protein_coding): same exons; CDS genomic the same
  *      span, read right-to-left.
  *
  * cDNA lengths: each exon 100 bases, total 300.
  */
class SpliceSuite extends SparkSpec {
  import spark.implicits._

  private val transcripts = Seq(
    ("c1", 100L, 599L, "T+", 1, "protein_coding", 150L, 549L),
    ("c1", 100L, 599L, "T-", -1, "protein_coding", 150L, 549L))
    .toDF("chrom", "start", "end", "transcript_id", "strand", "biotype", "cds_start", "cds_end")

  private val exons = Seq(
    ("T+", 100L, 199L), ("T+", 300L, 399L), ("T+", 500L, 599L),
    ("T-", 100L, 199L), ("T-", 300L, 399L), ("T-", 500L, 599L))
    .toDF("transcript_id", "start", "end")

  private def vcf(pos: Long, ref: String, alt: String) =
    Seq(("c1", pos, pos, 1L, ref, alt)).toDF("chrom", "start", "end", "id", "ref", "alt")

  private def annotate(pos: Long, ref: String = "A", alt: String = "G") =
    Splice.cdnaAnnotate(vcf(pos, ref, alt), transcripts, exons)
      .collect().map(r => r.getString(1) ->
        (r.getString(2), Option(r.get(3)), Option(r.get(4)), Option(r.get(5)), r.getString(6)))
      .toMap

  test("cdna mapping: exonic positions accumulate spliced exon lengths") {
    // pos 350 = exon2 base 51 -> cdna 100 + 51 = 151 (+ strand);
    // ccs = cdna(150) = 51, so cds_pos = 151-51+1 = 101, protein 34
    val m = annotate(350)
    assert(m("T+") == (("exonic", Some(151L), Some(101L), Some(34L), "T+:c.101A>G")))
    // cds on '-' runs from genomic 549 leftward: ccs anchor=549 ->
    // cdna(549)=51, cds_pos = 150-51+1 = 100; protein (100-1)/3+1 = 34
    assert(m("T-") == (("exonic", Some(150L), Some(100L), Some(34L), "T-:c.100T>C")))
  }

  test("cds numbering: 5'/3' UTR render - and * forms") {
    // pos 120: cdna 21; + strand CDS starts at genomic 150 -> cdna 51,
    // so 120 is 5' UTR: c.-(51-21) = c.-30
    val m = annotate(120)
    assert(m("T+")._5 == "T+:c.-30A>G")
    // on '-' the same genomic pos is 3' UTR: cdna(120)=100+100+(199-120+1)=280,
    // cce=cdna(150)=100+100+50=250 -> c.*30
    assert(m("T-")._5 == "T-:c.*30T>C")
  }

  test("intronic positions get anchor+offset HGVS, nearer exon wins") {
    // pos 210: prev exon end 199 (d+=11), next exon start 300 (d-=90)
    // + strand: anchor cdna(199)=100 -> cds 100-51+1=50 -> c.50+11
    val m = annotate(210)
    assert(m("T+") == (("intronic", None, None, None, "T+:c.50+11A>G")))
    // - strand: d+ = 300-210 = 90, d- = 210-199 = 11 -> minus side;
    // anchor cdna index 201 (first base of downstream-in-transcript
    // exon [100,199]); cds: 201-51+1 = 151 -> c.151-11, complemented
    assert(m("T-")._5 == "T-:c.151-11T>C")
  }

  test("protein position walks codons across exon boundaries") {
    // pos 505 (+): cdna = 200 + 6 = 206, cds = 206-51+1 = 156,
    // protein = (156-1)/3 + 1 = 52
    val m = annotate(505)
    assert(m("T+")._4 == Some(52L))
  }

  // ---- splice-window boundaries (Splice.spliceTerms) ----
  // Intron 1 of both transcripts spans [200, 299]. '+' strand reads
  // donor at the intron start, acceptor at the end; '-' mirrors.

  private def spliceAt(pos: Long, ref: String = "A", alt: String = "G") =
    Splice.spliceTerms(vcf(pos, ref, alt), transcripts, exons)
      .collect().map(r => (r.getString(1), r.getString(2)))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSet }

  test("splice windows: donor/acceptor SNV at intron start, per strand") {
    val m = spliceAt(200)
    assert(m("T+") == Set("splice_donor_variant"))
    assert(m("T-") == Set("splice_acceptor_variant"))
  }

  test("splice windows: 5th base / donor region / PPT at is+4") {
    val m = spliceAt(204)
    assert(m("T+") == Set("splice_donor_5th_base_variant",
      "splice_donor_region_variant", "splice_region_variant"))
    // '-' strand: 204 sits in the acceptor-side polypyrimidine tract
    // [is+2, is+16] and the strand-independent splice region [is+2, is+7]
    assert(m("T-") == Set("splice_polypyrimidine_tract_variant",
      "splice_region_variant"))
  }

  test("splice windows: exonic splice region at the last exon base") {
    val m = spliceAt(199)
    assert(m("T+") == Set("splice_region_variant"))
    assert(m("T-") == Set("splice_region_variant"))
  }

  test("frameshift intron: body variants get no splice terms, boundaries keep theirs") {
    // Tf has a 10 bp intron [200, 209] (ie - is = 9 <= 12): VEP skips
    // ALL splice windows for variants overlapping its body, but a
    // purely-exonic boundary variant still runs the window checks
    val tf = Seq(("c1", 100L, 400L, "Tf", 1, "protein_coding", 120L, 380L))
      .toDF("chrom", "start", "end", "transcript_id", "strand", "biotype",
        "cds_start", "cds_end")
    val exf = Seq(("Tf", 100L, 199L), ("Tf", 210L, 400L))
      .toDF("transcript_id", "start", "end")
    def at(pos: Long, ref: String = "A", alt: String = "G") =
      Splice.spliceTerms(vcf(pos, ref, alt), tf, exf)
        .collect().map(_.getString(2)).toSet
    // donor-site SNV overlaps the intron body -> skipped entirely
    assert(at(200).isEmpty)
    // mid-body SNV -> skipped (and never intron_variant either)
    assert(at(205).isEmpty)
    // exonic last-exon-base SNV does NOT overlap the body -> the
    // exonic splice-region window still fires
    assert(at(199) == Set("splice_region_variant"))
    // PPT include gate: with a frameshift intron on the transcript the
    // 12 bp exon stretch suppresses PPT near exons on the LONG introns
    // of the same transcript too — here the only intron is short, so
    // just pin that no PPT leaks from the skipped intron
    assert(at(203, "A", "AG").isEmpty)
  }

  test("splice windows: insertion-point model at P = is+1") {
    // VCF A>AG at 200 is a VEP insertion with insertion point P = 201
    val m = spliceAt(200, "A", "AG")
    assert(m("T+") == Set("splice_donor_variant"))
    assert(m("T-") == Set("splice_acceptor_variant"))
  }

  test("splice windows: deletion reaching the acceptor dinucleotide") {
    // VCF AC>A at 297 deletes genomic base 298 = acceptor window [298,299]
    val m = spliceAt(297, "AC", "A")
    assert(m("T+") == Set("splice_acceptor_variant"))
  }

  test("nested exons: introns are the gaps between sorted exon starts and ends") {
    // [100,300] contains [200,250]; the one intron is [301,399].
    // Pairing exons by start would open [251,399] inside the first exon
    // and read 255 as its donor 5th base.
    val tn = Seq(("c1", 100L, 500L, "Tn", 1, "protein_coding", 120L, 480L))
      .toDF("chrom", "start", "end", "transcript_id", "strand", "biotype",
        "cds_start", "cds_end")
    val exn = Seq(("Tn", 100L, 300L), ("Tn", 200L, 250L), ("Tn", 400L, 500L))
      .toDF("transcript_id", "start", "end")
    def at(pos: Long) =
      Splice.spliceTerms(vcf(pos, "A", "G"), tn, exn).collect().map(_.getString(2)).toSet
    assert(at(255).isEmpty)
    assert(at(258).isEmpty)
    // exonic splice region [is-3, is-1] of the intron [301,399]
    assert(at(299) == Set("splice_region_variant"))
  }

  test("layer operators render the HGVS strings annotate renders") {
    import graft.vep.Annotate
    // SNVs: 5' UTR, CDS ends, exon edges, intron, 3' UTR; indels: del,
    // ins, delins inside exon 2 (cDNA 101-200 on '+')
    val v = Seq(
      (120L, "A", "G"), (150L, "A", "G"), (199L, "A", "G"), (210L, "A", "G"),
      (300L, "A", "G"), (350L, "A", "G"), (505L, "A", "G"), (549L, "A", "G"),
      (580L, "A", "G"), (350L, "AC", "A"), (360L, "A", "AG"), (370L, "AC", "GT"))
      .zipWithIndex.map { case ((p, r, a), i) => ("c1", p, p + r.length - 1, i + 1L, r, a) }
      .toDF("chrom", "start", "end", "id", "ref", "alt")
    val cache = Seq.empty[(String, Long, Long, String, String)]
      .toDF("chrom", "start", "end", "variation_name", "allele_string")
      .selectExpr(Seq("*") ++ Annotate.afCsq.map(c => s"CAST(NULL AS DOUBLE) AS ${c._2}") ++
        Seq("'0' AS somatic", "'0' AS pheno",
          "CAST(NULL AS STRING) AS pubmed", "CAST(NULL AS STRING) AS clin_sig"): _*)
    val tx = transcripts.selectExpr("*", "'G1' AS gene_id", "'SYM1' AS symbol",
      "'YES' AS canonical", "'' AS flags", "'' AS mane_select",
      "'' AS mane_plus_clinical", "1 AS tsl", "'' AS appris", "'' AS ccds",
      "'' AS swissprot", "'' AS trembl", "'' AS uniparc", "'' AS uniprot_isoform",
      "'0' AS gene_pheno", "'' AS domains", "'' AS mirna")
    val sift = Seq.empty[(String, Long, String, Double)]
      .toDF("transcript_id", "protein_pos", "aa", "sift_score")
    val pp = Seq.empty[(String, Long, String, Double)]
      .toDF("transcript_id", "protein_pos", "aa", "polyphen_score")
    val reg = Seq.empty[(String, Long, Long, String)]
      .toDF("chrom", "start", "end", "feature_id")
    val mot = Seq.empty[(String, Long, Long, String, String, Double)]
      .toDF("chrom", "start", "end", "motif_id", "tf_name", "score_change")
    def opt(s: String) = Option(s).filter(_.nonEmpty)
    // (id, transcript) -> (HGVSc, HGVSp) of annotate's transcript entries
    val ann = Annotate.annotateTyped(v, cache, tx, exons, sift, pp, reg, mot)
      .collect().flatMap { r =>
        val id = r.getLong(r.fieldIndex("id"))
        val t = r.getSeq[String](r.fieldIndex("transcript_ids"))
        val c = r.getSeq[String](r.fieldIndex("hgvs_c"))
        val p = r.getSeq[String](r.fieldIndex("hgvs_p"))
        t.indices.map(i => (id, t(i)) -> (opt(c(i)), opt(p(i))))
      }.toMap
    def layer(df: org.apache.spark.sql.DataFrame, field: String) =
      df.collect().map(r => (r.getLong(0), r.getString(1)) ->
        opt(r.getString(r.fieldIndex(field)))).toMap
    val cdna = layer(Splice.cdnaAnnotate(v, transcripts, exons), "hgvs_c")
    val indel = layer(Splice.indelHgvs(v, transcripts, exons), "hgvs_c")
    val codon = layer(Splice.splicedCodon(v, transcripts, exons), "hgvs_p")
    assert(cdna.size == 18 && indel.size == 6 && codon.size == 12,
      s"${cdna.size} / ${indel.size} / ${codon.size}")
    for ((k, c) <- cdna ++ indel) assert(ann.get(k).map(_._1) == Some(c), s"hgvs_c $k")
    for ((k, p) <- codon) assert(ann.get(k).map(_._2) == Some(p), s"hgvs_p $k")
  }

  // ---- dup-vs-ins detection (Splice.indelHgvs) ----

  private def indel(pos: Long, ref: String, alt: String) =
    Splice.indelHgvs(
      Seq(("c1", pos, pos, 1L, ref, alt)).toDF("chrom", "start", "end", "id", "ref", "alt"),
      transcripts, exons)
      .collect().map(r => r.getString(1) ->
        (r.getAs[String]("kind"), r.getAs[String]("hgvs_c"))).toMap

  private def indelOffsets(pos: Long, ref: String, alt: String) =
    Splice.indelHgvs(
      Seq(("c1", pos, pos, 1L, ref, alt)).toDF("chrom", "start", "end", "id", "ref", "alt"),
      transcripts, exons)
      .collect().map { r =>
        val i = r.fieldIndex("hgvs_offset")
        r.getString(1) -> (if (r.isNullAt(i)) None else Some(r.getLong(i)))
      }.toMap

  test("indel kinds: insertion equal to its 5' context is a dup") {
    import graft.vep.CodonLogic.baseAt
    // p chosen so the derived genome breaks the repeat right after the
    // insertion point: baseAt(p) != baseAt(p+1) -> no 3'-shift, and an
    // inserted allele equal to baseAt(p) duplicates its 5' context
    val p = (150L to 190L).find(q => baseAt("c1", q) != baseAt("c1", q + 1)).get
    val x = baseAt("c1", p).toString
    val m = indel(p, "A", "A" + x)
    assert(m("T+")._1 == "dup", s"expected dup at $p ins $x: $m")
    assert(m("T+")._2.endsWith("dup") && !m("T+")._2.contains("ins"))
  }

  test("indel kinds: insertion not matching its context stays ins") {
    import graft.vep.CodonLogic.baseAt
    val p = (150L to 190L).find(q => baseAt("c1", q) != baseAt("c1", q + 1)).get
    // allele differing from both flanking bases: no shift, no dup
    val x = "ACGT".find(c => c != baseAt("c1", p) && c != baseAt("c1", p + 1)).get.toString
    val m = indel(p, "A", "A" + x)
    assert(m("T+")._1 == "ins", s"expected ins at $p ins $x: $m")
    assert(m("T+")._2.contains("ins" + x) || m("T+")._2.contains("ins"))
  }

  test("indel kinds: 3'-shift carries the dup context with it") {
    import graft.vep.CodonLogic.baseAt
    // insertion point repeats the allele once then breaks: the allele
    // shifts right one base and the dup check reads the SHIFTED context
    val pOpt = (150L to 190L).find { q =>
      baseAt("c1", q + 1) == baseAt("c1", q) && baseAt("c1", q + 2) != baseAt("c1", q)
    }
    assume(pOpt.nonEmpty)
    val p = pOpt.get
    val x = baseAt("c1", p).toString // == baseAt(p+1)
    val m = indel(p, "A", "A" + x)
    // after shifting past the repeat at p+1, 5' context = baseAt(p+1) = x
    assert(m("T+")._1 == "dup", s"expected shifted dup at $p ins $x: $m")

    // HGVS_OFFSET = the applied shift, signed transcript-ward: +1 on
    // the '+' transcript, -1 on the '-' transcript over the same span
    val off = indelOffsets(p, "A", "A" + x)
    assert(off("T+") == Some(1L) && off("T-") == Some(-1L), s"offsets: $off")
  }

  test("indel without a shift emits no HGVS_OFFSET") {
    import graft.vep.CodonLogic.baseAt
    val p = (150L to 190L).find(q => baseAt("c1", q) != baseAt("c1", q + 1)).get
    val x = baseAt("c1", p).toString
    val off = indelOffsets(p, "A", "A" + x)
    assert(off("T+").isEmpty && off("T-").isEmpty, s"offsets: $off")
  }
}
