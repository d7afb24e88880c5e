package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.vep.Splice

/** Driver-gate entries for the intron-aware cDNA/HGVS layer
  * ([[graft.vep.Splice]], SURVEY.md §2.6 stage 5). The oracle mirrors
  * every branch of the Spark expressions in DuckDB SQL over the same
  * derived fixtures ([[Oracle]]).
  */
object VepSpliceQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "f11_cdna_hgvs" -> ((s, d) =>
      Splice.cdnaAnnotate(Tables.vcf(s, d), Tables.transcripts(s, d), Tables.exons(s, d))),
    "f11_spliced_codon" -> ((s, d) =>
      Splice.splicedCodon(Tables.vcf(s, d), Tables.transcripts(s, d), Tables.exons(s, d))),
    "f11_shift3" -> ((s, d) => graft.vep.Vep.shift3(Tables.vcf(s, d))),
    "f11_csq" -> ((s, d) =>
      Splice.csqAssemble(Tables.vcf(s, d), Tables.transcripts(s, d), Tables.exons(s, d))),
    "f11_indel_hgvs" -> ((s, d) =>
      Splice.indelHgvs(Tables.vcf(s, d), Tables.transcripts(s, d), Tables.exons(s, d))),
    // HGVS probe fixture: multi-base del/ins, delins (MNV), and a
    // constructed duplication — every notation branch fires
    "f11_indel_probes" -> ((s, d) =>
      Splice.indelHgvs(Tables.termProbes(s, d), Tables.transcripts(s, d), Tables.exons(s, d))),
    "f11_regulatory" -> ((s, d) =>
      graft.vep.Vep.annotateRegulatory(Tables.vcf(s, d), Tables.regulatory(s, d))),
    // runtime HGNC propagation (annotate_provider.rs:7477-7548 —
    // deliberately NOT in the cache build, rs:2445-2467): derive a
    // partial-metadata transcript set from the gene family structure
    // (donor member k%30=0 carries the native id; k%30=10 members of
    // even genes carry a cache-promoted effective id, odd genes none;
    // k%30=20 members lack symbol/source entirely) and fill it
    "f11_hgnc_propagation" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val k = expr("CAST(substring(transcript_id, 2) AS BIGINT)")
      val gene = k - (k % 30)
      val tx = Tables.transcripts(s, d).select(
        col("chrom"), col("start"), col("transcript_id"),
        col("gene_id").as("gene_stable_id"),
        when(k % 30 === 20, lit(null: String)).otherwise(col("symbol"))
          .as("gene_symbol"),
        when(k % 30 === 20, lit(null: String))
          .otherwise(when(k % 30 === 0, lit("HGNC")).otherwise(lit("EntrezGene")))
          .as("gene_symbol_source"),
        when(k % 30 === 0, concat(lit("HGNC:"), gene.cast("string")))
          .as("gene_hgnc_id_native"),
        when(k % 30 === 10 && gene % 60 === 0, concat(lit("HGNC:P"), k.cast("string")))
          .as("gene_hgnc_id"))
      graft.vep.HgncPropagation.propagateHgnc(tx)
        .select(col("chrom"), col("transcript_id"), col("gene_symbol"),
          col("gene_symbol_source"), col("gene_hgnc_id"))
        .orderBy(col("transcript_id"))
    }),
    // gap=50 rather than the 1 Mb-analog default: the derived misses
    // are dense enough that a large reach degenerates to one interval
    // per chrom, which would gate nothing
    "f11_miss_worklist" -> ((s, d) =>
      graft.vep.Vep.missWorklist(Tables.vcf(s, d), Tables.vepCache(s, d), gap = 50L)),
    // SIFT score lookup (stage 5): the spliced-codon output joins the
    // derived translation_sift context on (transcript, protein pos,
    // alternate residue); deleterious below the 0.05 threshold.
    "f11_sift" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val codon = Splice.splicedCodon(
        Tables.vcf(s, d), Tables.transcripts(s, d), Tables.exons(s, d))
      val ctx = Tables.siftContext(s, d).select(
        col("transcript_id").as("_s_tid"), col("protein_pos").as("_s_pp"),
        col("aa"), col("sift_score"))
      codon.join(broadcast(ctx),
          codon("transcript_id") === col("_s_tid") &&
          codon("protein_pos") === col("_s_pp") &&
          codon("aa_alt") === col("aa"))
        .select(codon("id"), codon("transcript_id"), codon("protein_pos"),
          codon("aa_alt"), col("sift_score"),
          when(col("sift_score") < 0.05, lit("deleterious"))
            .otherwise(lit("tolerated")).as("sift_prediction"))
    }),
    // codon-layer probes at CDS anchors: start_lost / start_retained /
    // incomplete_terminal_codon_variant fire by construction
    "f11_codon_probes" -> ((s, d) =>
      Splice.splicedCodon(Tables.termProbes(s, d), Tables.transcripts(s, d), Tables.exons(s, d))),
    // Splice-site terms (transcript_consequence.rs:2670-2955): all six
    // splice SO terms over derived introns, both strands, range-overlap
    // and insertion-point models.
    "f11_splice_site" -> ((s, d) =>
      Splice.spliceTerms(Tables.vcf(s, d), Tables.transcripts(s, d), Tables.exons(s, d))),
    // same operator over the dense exon-boundary probe fixture — every
    // splice window fires on both strands in both coordinate models
    "f11_splice_probes" -> ((s, d) =>
      Splice.spliceTerms(Tables.spliceProbes(s, d), Tables.transcripts(s, d), Tables.exons(s, d))),
    // The integrated end-to-end operator (annotate_table_function.rs
    // role): lookup + cDNA/codon + indel + splice (fused into CSQ and
    // most_severe ranking) + up/downstream + SIFT + MAX_AF in one call.
    "f11_annotate_e2e" -> ((s, d) =>
      graft.vep.Annotate.annotate(Tables.vcf(s, d), Tables.vepCache(s, d),
        Tables.transcripts(s, d), Tables.exons(s, d), Tables.siftContext(s, d),
        Tables.polyphenContext(s, d), Tables.regulatory(s, d), Tables.motifs(s, d))),
    // Typed per-transcript List<T> output columns beside the CSQ
    // string (annotate_provider.rs:2282-2296, arrow_roundtrip_golden).
    // Gate projection: each array column is '|'-serialized so the
    // driver's pandas/DuckDB hash compare can sort the cells (it
    // cannot hash ndarray cells) — the arrays themselves stay the
    // library API ([[graft.vep.Annotate.annotateTyped]]); AnnotateSuite
    // cross-checks them element-wise against the CSQ entry fields, so
    // a delimiter collision in this projection cannot mask an
    // element-boundary difference.
    "f11_typed_columns" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val t = graft.vep.Annotate.annotateTyped(Tables.vcf(s, d), Tables.vepCache(s, d),
        Tables.transcripts(s, d), Tables.exons(s, d), Tables.siftContext(s, d),
        Tables.polyphenContext(s, d), Tables.regulatory(s, d), Tables.motifs(s, d))
      val arrays = Seq("transcript_ids", "consequences", "hgvs_c", "hgvs_p",
        "sift", "polyphen", "impact")
      t.select(t.columns.map(c =>
        if (arrays.contains(c)) array_join(col(c), "|").as(c) else col(c)): _*)
    }),
    // PolyPhen lookup beside SIFT (partitioned_cache.rs carries both
    // translation tables symmetrically); VEP's two-threshold
    // prediction bands.
    "f11_polyphen" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val codon = Splice.splicedCodon(
        Tables.vcf(s, d), Tables.transcripts(s, d), Tables.exons(s, d))
      val ctx = Tables.polyphenContext(s, d).select(
        col("transcript_id").as("_p_tid"), col("protein_pos").as("_p_pp"),
        col("aa"), col("polyphen_score"))
      codon.join(broadcast(ctx),
          codon("transcript_id") === col("_p_tid") &&
          codon("protein_pos") === col("_p_pp") &&
          codon("aa_alt") === col("aa"))
        .select(codon("id"), codon("transcript_id"), codon("protein_pos"),
          codon("aa_alt"), col("polyphen_score"),
          when(col("polyphen_score") > 0.908, lit("probably_damaging"))
            .when(col("polyphen_score") > 0.446, lit("possibly_damaging"))
            .otherwise(lit("benign")).as("polyphen_prediction"))
    }),
    // TF motif context: TF_binding_site_variant emission with VEP's
    // motif position / high-information fields.
    "f11_motif" -> ((s, d) =>
      graft.vep.Vep.annotateMotif(Tables.vcf(s, d), Tables.motifs(s, d))),
    // SV symbolic-allele consequences: the ablation/amplification/
    // truncation/elongation family over transcripts, TF motifs and
    // regulatory features — completes the 41-term vocabulary emission.
    "f11_sv_consequence" -> ((s, d) =>
      graft.vep.Vep.annotateSv(Tables.svProbes(s, d), Tables.transcripts(s, d),
        Tables.motifs(s, d), Tables.regulatory(s, d))),
    // Protein-level indel HGVS (hgvs.rs protein arm): frameshift
    // fsTer{N}, stop-extension extTer{N}, and codon-aligned protein
    // del/ins/dup over the dedicated alignment probe fixture, both
    // strands by construction.
    "f11_hgvsp_indel" -> ((s, d) =>
      graft.vep.Hgvsp.hgvspIndel(Tables.hgvspProbes(s, d), Tables.transcripts(s, d), Tables.exons(s, d))),
    // Colocated-variant side output (variant_lookup_exec.rs:519-537
    // ColocatedSink): cache entries at the variant's normalized
    // position whose alleles do NOT match — the fixture's
    // swapped-allele noise rows land here by construction.
    "f11_colocated" -> ((s, d) =>
      graft.vep.Annotate.colocated(Tables.vcf(s, d), Tables.vepCache(s, d))),
    // MAX_AF assembly (stage 6, annotate_provider.rs:795-1000 role):
    // population AFs read from the matched cache row's --af_* column
    // family, max + argmax. MAX_AF spans POPULATION columns only — the
    // reference's AF_COLUMNS has max_af_pop=None for the global "AF"
    // (round-6 ADVICE parity fix).
    "f11_maxaf" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.vep.Annotate
      val looked = graft.vep.Vep.lookupVariants(Tables.vcf(s, d), Tables.vepCache(s, d))
        .where(col("cache_variation_name").isNotNull)
      val mx = greatest(Annotate.maxAfPopCols.map { case (_, c) => col(s"cache_$c") }: _*)
      looked.select((col("id") +:
        Annotate.afCsq.map { case (_, c) => col(s"cache_$c").as(c) }) ++
        Seq(mx.as("max_af"),
          concat_ws("&", Annotate.maxAfPopCols.map { case (n, c) =>
            when(col(s"cache_$c") === mx, lit(n))
          }: _*).as("max_af_pops")): _*)
    }),
    // the same AF family computed over a CacheBuilder-rebuilt
    // variation directory (the f11 half of the cache_builder
    // round-trip gate: hashes must match f11_maxaf's oracle exactly)
    "c_cachebuild_maxaf" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.vep.{Annotate, CacheBuilder}
      val out = CacheBuilder.roundTripDir(d, "maxaf")
      // overwrite = true: gate rebuilds every execution (see the
      // c_cachebuild_lookup note)
      CacheBuilder.buildAll(Map("variation" -> Tables.vepCache(s, d)), out,
        overwrite = true)
      val looked = graft.vep.Vep.lookupVariants(Tables.vcf(s, d),
          CacheBuilder.openEntity(s, out, "variation"))
        .where(col("cache_variation_name").isNotNull)
      val mx = greatest(Annotate.maxAfPopCols.map { case (_, c) => col(s"cache_$c") }: _*)
      looked.select((col("id") +:
        Annotate.afCsq.map { case (_, c) => col(s"cache_$c").as(c) }) ++
        Seq(mx.as("max_af"),
          concat_ws("&", Annotate.maxAfPopCols.map { case (n, c) =>
            when(col(s"cache_$c") === mx, lit(n))
          }: _*).as("max_af_pops")): _*)
    }),
    // Multi-entry colocated semantics (annotate_provider.rs:1600-1860
    // over >1 matched cache entry per variant): a satellite cache copy
    // shares every variant's matched coordinates + allele string under
    // a COSMIC-style name, somatic-flagged, with one AF column
    // diverging, an allele-scoped clin_sig_allele, and comma-list
    // PUBMED ids. Exercises: entry ordering (somatic flag then prefix
    // rank), per-column AF dedup (equal columns collapse, the
    // diverging column '&'-joins and nulls the variant-level value),
    // SOMATIC/PHENO any=='1' gating, clin_sig_allele preference with
    // the before-first-csa clin_sig fallback, pubmed ','-splitting,
    // and the entry-major MAX_AF/MAX_AF_POPS fold.
    "f11_existing_multi" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val cache = Tables.vepCache(s, d)
      val sat = cache
        .withColumn("pubmed",
          concat(lit("3"), substring(col("variation_name"), 3, 30), lit(",4"),
            substring(col("variation_name"), 3, 30)))
        .withColumn("clin_sig_allele",
          when(col("clin_sig_allele").isNotNull,
            concat(split(col("allele_string"), "/").getItem(1),
              lit(":likely_pathogenic"))))
        .withColumn("af_afr", lit(1.0) - col("af_afr"))
        .withColumn("clin_sig", lit("likely_benign"))
        .withColumn("somatic", lit("1"))
        .withColumn("variation_name",
          concat(lit("COSM"), substring(col("variation_name"), 3, 30)))
      graft.vep.Annotate.existingVariants(
        Tables.vcf(s, d), cache.unionByName(sat))
    }),
    // The reference's non-everything profile through its options_json
    // surface (annotate_provider.rs:1110-1205 VepFlags + HgvsFlags):
    // 74-field CSQ layout, 1000G AF + PUBMED flag groups only (gnomAD
    // slots render empty, variant-level gnomAD columns null), HGVSc
    // on but HGVSp off, distance=3000 shrinking the up/downstream
    // candidate window.
    "f11_annotate_default" -> ((s, d) =>
      graft.vep.Annotate.annotate(Tables.vcf(s, d), Tables.vepCache(s, d),
        Tables.transcripts(s, d), Tables.exons(s, d), Tables.siftContext(s, d),
        Tables.polyphenContext(s, d), Tables.regulatory(s, d), Tables.motifs(s, d),
        graft.vep.VepOptions.fromJson(defaultModeJson))),
    // shift_hgvs=false (annotate_provider.rs HgvsFlags): indel anchors
    // stay unshifted, the peptide-level 3'-shift is off, HGVS_OFFSET
    // never emits — the rest of the --everything surface unchanged.
    "f11_annotate_noshift" -> ((s, d) =>
      graft.vep.Annotate.annotate(Tables.vcf(s, d), Tables.vepCache(s, d),
        Tables.transcripts(s, d), Tables.exons(s, d), Tables.siftContext(s, d),
        Tables.polyphenContext(s, d), Tables.regulatory(s, d), Tables.motifs(s, d),
        graft.vep.VepOptions.fromJson(noShiftJson))),
    // reference-parity motif shape IS the default: one anonymous
    // MotifFeature entry per motif-overlapping variant, five empty
    // motif slots (annotate_provider.rs:3319-3366) — this gate pins
    // byte-level reference comparability of the DEFAULT output
    "f11_motif_parity" -> ((s, d) =>
      graft.vep.Annotate.annotate(Tables.vcf(s, d), Tables.vepCache(s, d),
        Tables.transcripts(s, d), Tables.exons(s, d), Tables.siftContext(s, d),
        Tables.polyphenContext(s, d), Tables.regulatory(s, d), Tables.motifs(s, d),
        graft.vep.VepOptions.fromJson(motifParityJson))),
    // richer per-motif rendering (library-extension `motif_rich`):
    // one Feature row per overlapped motif, populated MOTIF_* slots
    "f11_motif_rich" -> ((s, d) =>
      graft.vep.Annotate.annotate(Tables.vcf(s, d), Tables.vepCache(s, d),
        Tables.transcripts(s, d), Tables.exons(s, d), Tables.siftContext(s, d),
        Tables.polyphenContext(s, d), Tables.regulatory(s, d), Tables.motifs(s, d),
        graft.vep.VepOptions.fromJson(motifRichJson))),
    // Full annotate over the dense exon-boundary probe sweep (one
    // variant at every offset in [-18, 18] around every exon
    // boundary, cycling SNV/ins/del): pins the parent-term strips
    // (splice_region under its four specific splice terms, the
    // donor-region term under the 5th base) and the inner-intron-body
    // intron_variant gate through the oracle on both strands and all
    // transcript classes — the random vcf fixture rarely lands in a
    // splice window, this sweep hits every one.
    "f11_annotate_probes" -> ((s, d) =>
      graft.vep.Annotate.annotate(probeVcf(s, d), Tables.vepCache(s, d),
        Tables.transcripts(s, d), Tables.exons(s, d), Tables.siftContext(s, d),
        Tables.polyphenContext(s, d), Tables.regulatory(s, d), Tables.motifs(s, d))),
    // Same sweep over the frameshift-intron exon layout (a 10 bp
    // midpoint intron): inside its body NO splice terms fire, an
    // in-CDS position yields coding_sequence_variant (the mapper gaps
    // out so no specific coding predicate can), intron_variant never
    // (the body predicate excludes <= 13 bp introns).
    "f11_annotate_fsintron" -> ((s, d) =>
      graft.vep.Annotate.annotate(probeVcfOver(Tables.exonsFs(s, d)),
        Tables.vepCache(s, d),
        Tables.transcripts(s, d), Tables.exonsFs(s, d), Tables.siftContext(s, d),
        Tables.polyphenContext(s, d), Tables.regulatory(s, d), Tables.motifs(s, d))),
    // The reference's PRIMARY output shape: the full typed annotation
    // frame (annotation_column_defs — per-CSQ-field List columns).
    // Gate projection serializes every List to a '~'-joined string so
    // the driver's hash compare can sort the cells; float lists
    // serialize through fixed DECIMAL forms matching the oracle's raw
    // CSQ slot strings.
    "f11_typed_full" -> ((s, d) =>
      serializeTypedFull(graft.vep.Annotate.annotateTypedFull(
        Tables.vcf(s, d), Tables.vepCache(s, d),
        Tables.transcripts(s, d), Tables.exons(s, d), Tables.siftContext(s, d),
        Tables.polyphenContext(s, d), Tables.regulatory(s, d), Tables.motifs(s, d)))),
    // The reference AnnotateProvider's PRIMARY output shape
    // (annotate_provider.rs:2270-2296): every input VCF column passes
    // through, then CSQ + most_severe_consequence, then the full
    // typed annotation block — the vcf_passthrough contract.
    "f11_provider_frame" -> ((s, d) =>
      serializeTypedFull(graft.vep.Annotate.annotateProviderFrame(
        Tables.vcf(s, d), Tables.vepCache(s, d),
        Tables.transcripts(s, d), Tables.exons(s, d), Tables.siftContext(s, d),
        Tables.polyphenContext(s, d), Tables.regulatory(s, d), Tables.motifs(s, d)))),
    // Transcript-source selection (annotate_provider.rs:5642-5784):
    // the fixture's T* ids are remapped to a mix of curated RefSeq
    // (NM_), predicted RefSeq (XM_), Ensembl (ENST) and unlabeled
    // ids; merged mode with exclude_predicted keeps NM_ and ENST,
    // drops XM_ and unlabeled.
    "f11_transcript_selection" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val tx = Tables.transcripts(s, d).withColumn("transcript_id",
        expr(txSelectRemap("transcript_id")))
      graft.vep.Annotate.selectTranscripts(tx,
          graft.vep.VepOptions.fromJson(
            """{"merged": true, "exclude_predicted": true}"""))
        .select(col("transcript_id"), col("chrom"), col("strand"))
    }),
    // Streaming transcript-context probe through the batch gate
    // (IntervalStreams.annotateTranscripts): variants stream from the
    // parquet file source and explode against the broadcast
    // transcript index into overlap/upstream/downstream relations —
    // stateless map-only, AvailableNow. The oracle is the batch
    // window-join classification.
    "s9_stream_annotate_tx" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val schema = Tables.load(s, d, "part").schema
      val vcfStream = s.readStream.schema(schema)
        .option("pathGlobFilter", "part.parquet").parquet(d)
        .selectExpr(
          "concat('chr', CAST(p_partkey % 2 AS STRING)) AS chrom",
          "CAST((p_partkey * 9176) % 100000 + 1 AS BIGINT) AS start",
          "CAST((p_partkey * 9176) % 100000 + 1 + CASE WHEN p_partkey % 3 = 2 THEN 1 ELSE 0 END AS BIGINT) AS `end`",
          "CAST(p_partkey AS BIGINT) AS id")
      val out = graft.streaming.IntervalStreams.annotateTranscripts(
          vcfStream, Tables.transcripts(s, d),
          graft.core.IntervalCols("chrom", "start", "end"))
        .select(col("id"), col("transcript_id"), col("relation"), col("distance"))
      // foreachBatch sink (round 18): batch outputs stay distributed
      // instead of a driver-collected memory-sink copy per pass
      graft.streaming.StreamSink.runAvailableNow(out)
    }),
  )

  /** Shared Spark/DuckDB remap of fixture transcript ids to the four
    * source classes (suppkey is always a multiple of 10). */
  private def txSelectRemap(tid: String): String =
    s"""CASE WHEN CAST(substring($tid, 2) AS BIGINT) % 40 = 0
       | THEN concat('XM_', substring($tid, 2))
       |WHEN CAST(substring($tid, 2) AS BIGINT) % 20 = 0
       | THEN concat('NM_', substring($tid, 2))
       |WHEN CAST(substring($tid, 2) AS BIGINT) % 30 = 0
       | THEN concat('ENST00', substring($tid, 2))
       |ELSE $tid END""".stripMargin.replace("\n", " ")

  /** Per-exon cDNA contribution of position `pos` (Splice.contribution
    * mirrored; `e` = exon alias, `strand` in scope). */
  private def contrib(pos: String): String =
    s"""CASE WHEN strand = 1 THEN
       |  CASE WHEN e."end" < $pos THEN e."end" - e.start + 1
       |       WHEN $pos BETWEEN e.start AND e."end" THEN $pos - e.start + 1
       |       ELSE 0 END
       | ELSE
       |  CASE WHEN e.start > $pos THEN e."end" - e.start + 1
       |       WHEN $pos BETWEEN e.start AND e."end" THEN e."end" - $pos + 1
       |       ELSE 0 END END""".stripMargin.replace("\n", " ")

  private lazy val cdnaHgvsSql: String = cdnaHgvsSqlFor(Oracle.vcf)

  private def cdnaHgvsSqlFor(vcfCte: String,
      exCte: String = Oracle.exons): String = {
    import Oracle.{transcripts => tCte}
    val anchor1 = "(CASE WHEN strand = 1 THEN cds_start ELSE cds_end END)"
    val anchor2 = "(CASE WHEN strand = 1 THEN cds_end ELSE cds_start END)"
    // cds-relative rendering of a cDNA index x (fmtC in Splice)
    def fmtC(x: String): String =
      s"""CASE WHEN biotype NOT IN ('protein_coding', 'nonsense_mediated_decay') THEN CAST($x AS VARCHAR)
         | WHEN $x < ccs THEN concat('-', CAST(ccs - $x AS VARCHAR))
         | WHEN $x > cce THEN concat('*', CAST($x - cce AS VARCHAR))
         | ELSE CAST($x - ccs + 1 AS VARCHAR) END""".stripMargin.replace("\n", " ")
    s"""WITH $tCte, $exCte, $vcfCte,
       |snv AS (SELECT * FROM v WHERE length(ref) = 1 AND length(alt) = 1),
       |cand AS (SELECT s.id, s.start AS vp, s.ref, s.alt,
       |   t.transcript_id AS tid, t.strand, t.biotype
       |  FROM snv s JOIN t ON s.chrom = t.chrom AND s.start BETWEEN t.start AND t."end"),
       |agg AS (SELECT c.id, c.tid, c.strand, c.biotype, c.ref, c.alt, c.vp,
       |   MAX(CASE WHEN c.vp BETWEEN e.start AND e."end" THEN 1 ELSE 0 END) AS in_exon,
       |   CAST(SUM(${contrib("c.vp")}) AS BIGINT) AS cdna,
       |   MAX(CASE WHEN e."end" < c.vp THEN e."end" END) AS prev_ee,
       |   MIN(CASE WHEN e.start > c.vp THEN e.start END) AS next_es,
       |   CAST(SUM(CASE WHEN e."end" < c.vp THEN 1 ELSE 0 END) AS BIGINT) AS nprev,
       |   CAST(COUNT(*) AS BIGINT) AS nex
       |  FROM cand c JOIN ex e ON c.tid = e.transcript_id
       |  GROUP BY c.id, c.tid, c.strand, c.biotype, c.ref, c.alt, c.vp),
       |cb AS (SELECT t.transcript_id AS tid,
       |   CAST(SUM(${contrib(anchor1)})
       |     + (CASE WHEN MAX(CASE WHEN $anchor1 BETWEEN e.start AND e."end" THEN 1 ELSE 0 END) = 0
       |        THEN 1 ELSE 0 END) AS BIGINT) AS ccs,
       |   CAST(SUM(${contrib(anchor2)}) AS BIGINT) AS cce
       |  FROM t JOIN ex e ON t.transcript_id = e.transcript_id
       |  GROUP BY t.transcript_id),
       |x AS (SELECT agg.*, cb.ccs, cb.cce,
       |   CASE WHEN strand = 1 THEN vp - prev_ee ELSE next_es - vp END AS dplus,
       |   CASE WHEN strand = 1 THEN next_es - vp ELSE vp - prev_ee END AS dminus,
       |   CASE WHEN strand = 1 THEN ref ELSE translate(ref, 'ACGT', 'TGCA') END AS refadj,
       |   CASE WHEN strand = 1 THEN alt ELSE translate(alt, 'ACGT', 'TGCA') END AS altadj,
       |   (in_exon = 1 AND biotype IN ('protein_coding', 'nonsense_mediated_decay')
       |     AND cdna >= cb.ccs AND cdna <= cb.cce) AS incds
       |  FROM agg JOIN cb ON agg.tid = cb.tid),
       |y AS (SELECT x.*,
       |   concat(tid, ':', CASE WHEN biotype IN ('protein_coding', 'nonsense_mediated_decay') THEN 'c.' ELSE 'n.' END) AS pfx,
       |   concat(refadj, '>', altadj) AS chg,
       |   (next_es IS NULL OR (prev_ee IS NOT NULL AND dplus <= dminus)) AS useplus,
       |   CASE WHEN incds THEN cdna - ccs + 1 END AS cds_pos
       |  FROM x)
       |SELECT id, tid AS transcript_id,
       | CASE WHEN in_exon = 1 THEN 'exonic' ELSE 'intronic' END AS region,
       | CASE WHEN in_exon = 1 THEN cdna END AS cdna_pos,
       | cds_pos,
       | CASE WHEN incds THEN CAST((cds_pos - 1) // 3 + 1 AS BIGINT) END AS protein_pos,
       | CASE WHEN in_exon = 1 THEN concat(pfx, ${fmtC("cdna")}, chg)
       |  WHEN useplus AND dplus IS NOT NULL
       |   THEN concat(pfx, ${fmtC("cdna")}, '+', CAST(dplus AS VARCHAR), chg)
       |  WHEN NOT useplus AND dminus IS NOT NULL
       |   THEN concat(pfx, ${fmtC("(cdna + 1)")}, '-', CAST(dminus AS VARCHAR), chg)
       | END AS hgvs_c,
       | $exonRankSql, $intronRankSql
       |FROM y ORDER BY id, transcript_id""".stripMargin.replace("\n", " ")
  }

  /** DuckDB mirrors of Splice.exonRank / Splice.intronRank over an
    * in-scope row with (in_exon, strand, nprev, nex). */
  private def exonRankSql: String =
    """CASE WHEN in_exon = 1 THEN concat(
      | CAST(CASE WHEN strand = 1 THEN nprev + 1 ELSE nex - nprev END AS VARCHAR),
      | '/', CAST(nex AS VARCHAR)) END AS exon""".stripMargin.replace("\n", " ")
  private def intronRankSql: String =
    """CASE WHEN in_exon = 0 THEN concat(
      | CAST(CASE WHEN strand = 1 THEN nprev ELSE nex - nprev END AS VARCHAR),
      | '/', CAST(nex - 1 AS VARCHAR)) END AS intron""".stripMargin.replace("\n", " ")

  /** Spliced-codon oracle: same CTE skeleton as cdnaHgvsSql plus the
    * exon cDNA-range window, three per-base range joins, and the
    * shared derived-sequence/translation fragments (CodonLogic DuckD
    * dialect — identical md5 arithmetic on both engines). */
  private def splicedCodonSqlFor(variantCte: String, variantName: String,
      exCte: String = Oracle.exons): String = {
    import Oracle.{transcripts => tCte}
    import graft.vep.{CodonLogic, Splice}
    val D = CodonLogic.DuckD
    def seqAdj(g: String): String =
      s"CASE WHEN strand = 1 THEN ${CodonLogic.seq(D, "chrom", g)} " +
      s"ELSE translate(${CodonLogic.seq(D, "chrom", g)}, 'ACGT', 'TGCA') END"
    val anchor1 = "(CASE WHEN strand = 1 THEN cds_start ELSE cds_end END)"
    val anchor2 = "(CASE WHEN strand = 1 THEN cds_end ELSE cds_start END)"
    s"""WITH $tCte, $exCte, $variantCte,
       |snv AS (SELECT * FROM $variantName WHERE length(ref) = 1 AND length(alt) = 1),
       |cand AS (SELECT s.id, s.chrom, s.start AS vp, s.ref, s.alt,
       |   t.transcript_id AS tid, t.strand, t.biotype
       |  FROM snv s JOIN t ON s.chrom = t.chrom AND s.start BETWEEN t.start AND t."end"),
       |agg AS (SELECT c.id, c.chrom, c.tid, c.strand, c.biotype, c.alt, c.vp,
       |   MAX(CASE WHEN c.vp BETWEEN e.start AND e."end" THEN 1 ELSE 0 END) AS in_exon,
       |   CAST(SUM(${contrib("c.vp")}) AS BIGINT) AS cdna
       |  FROM cand c JOIN ex e ON c.tid = e.transcript_id
       |  GROUP BY c.id, c.chrom, c.tid, c.strand, c.biotype, c.alt, c.vp),
       |cb AS (SELECT t.transcript_id AS tid,
       |   CAST(SUM(${contrib(anchor1)})
       |     + (CASE WHEN MAX(CASE WHEN $anchor1 BETWEEN e.start AND e."end" THEN 1 ELSE 0 END) = 0
       |        THEN 1 ELSE 0 END) AS BIGINT) AS ccs,
       |   CAST(SUM(${contrib(anchor2)}) AS BIGINT) AS cce
       |  FROM t JOIN ex e ON t.transcript_id = e.transcript_id
       |  GROUP BY t.transcript_id),
       |codingall AS (SELECT agg.*, cb.ccs, cb.cce,
       |   cdna - ccs + 1 AS cds_pos,
       |   ccs + ((cdna - ccs) // 3) * 3 AS codon0,
       |   CAST((cdna - ccs) % 3 AS INT) AS coff
       |  FROM agg JOIN cb ON agg.tid = cb.tid
       |  WHERE in_exon = 1 AND biotype IN ('protein_coding', 'nonsense_mediated_decay')
       |    AND cdna BETWEEN ccs AND cce),
       |coding AS (SELECT * FROM codingall WHERE codon0 + 2 <= cce),
       |rng AS (SELECT e.transcript_id AS rtid, e.start AS res, e."end" AS ree, t.strand AS rstrand,
       |   CAST(COALESCE(SUM(e."end" - e.start + 1) OVER (PARTITION BY e.transcript_id
       |     ORDER BY CASE WHEN t.strand = 1 THEN e.start ELSE -e.start END
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS BIGINT) AS rcs,
       |   CAST(COALESCE(SUM(e."end" - e.start + 1) OVER (PARTITION BY e.transcript_id
       |     ORDER BY CASE WHEN t.strand = 1 THEN e.start ELSE -e.start END
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + (e."end" - e.start + 1) AS BIGINT) AS rce
       |  FROM ex e JOIN t ON e.transcript_id = t.transcript_id),
       |mapped AS (SELECT coding.*,
       |   CASE WHEN r0.rstrand = 1 THEN r0.res + (codon0 - r0.rcs) ELSE r0.ree - (codon0 - r0.rcs) END AS g0,
       |   CASE WHEN r1.rstrand = 1 THEN r1.res + (codon0 + 1 - r1.rcs) ELSE r1.ree - (codon0 + 1 - r1.rcs) END AS g1,
       |   CASE WHEN r2.rstrand = 1 THEN r2.res + (codon0 + 2 - r2.rcs) ELSE r2.ree - (codon0 + 2 - r2.rcs) END AS g2
       |  FROM coding
       |  JOIN rng r0 ON coding.tid = r0.rtid AND codon0 BETWEEN r0.rcs AND r0.rce
       |  JOIN rng r1 ON coding.tid = r1.rtid AND codon0 + 1 BETWEEN r1.rcs AND r1.rce
       |  JOIN rng r2 ON coding.tid = r2.rtid AND codon0 + 2 BETWEEN r2.rcs AND r2.rce),
       |based AS (SELECT mapped.*,
       |   ${seqAdj("g0")} AS b0, ${seqAdj("g1")} AS b1, ${seqAdj("g2")} AS b2,
       |   CASE WHEN strand = 1 THEN alt ELSE translate(alt, 'ACGT', 'TGCA') END AS altadj
       |  FROM mapped),
       |codons AS (SELECT based.*, concat(b0, b1, b2) AS ref_codon,
       |   concat(CASE WHEN coff = 0 THEN altadj ELSE b0 END,
       |          CASE WHEN coff = 1 THEN altadj ELSE b1 END,
       |          CASE WHEN coff = 2 THEN altadj ELSE b2 END) AS alt_codon,
       |   CAST((cds_pos - 1) // 3 + 1 AS BIGINT) AS protein_pos
       |  FROM based),
       |aas AS (SELECT codons.*,
       |   ${CodonLogic.aa(D, "ref_codon")} AS aa_ref,
       |   ${CodonLogic.aa(D, "alt_codon")} AS aa_alt
       |  FROM codons)
       |SELECT id, tid AS transcript_id, cds_pos, protein_pos, ref_codon, alt_codon,
       | aa_ref, aa_alt,
       | CASE WHEN aa_alt = '*' AND aa_ref <> '*' THEN 'stop_gained'
       |  WHEN aa_ref = '*' AND aa_alt <> '*' THEN 'stop_lost'
       |  WHEN aa_ref = '*' AND aa_alt = '*' THEN 'stop_retained_variant'
       |  WHEN protein_pos = 1 AND aa_ref <> aa_alt THEN 'start_lost'
       |  WHEN protein_pos = 1 THEN 'start_retained_variant'
       |  WHEN aa_ref = aa_alt THEN 'synonymous_variant'
       |  ELSE 'missense_variant' END AS consequence,
       | concat(tid, ':p.', ${Splice.aa3Sql(D, "aa_ref")}, CAST(protein_pos AS VARCHAR),
       |   CASE WHEN aa_ref = aa_alt THEN '=' ELSE ${Splice.aa3Sql(D, "aa_alt")} END) AS hgvs_p
       |FROM aas
       |UNION ALL
       |SELECT id, tid AS transcript_id, cds_pos,
       | CAST((cds_pos - 1) // 3 + 1 AS BIGINT) AS protein_pos,
       | CAST(NULL AS VARCHAR) AS ref_codon, CAST(NULL AS VARCHAR) AS alt_codon,
       | CAST(NULL AS VARCHAR) AS aa_ref, CAST(NULL AS VARCHAR) AS aa_alt,
       | 'incomplete_terminal_codon_variant' AS consequence,
       | CAST(NULL AS VARCHAR) AS hgvs_p
       |FROM codingall WHERE codon0 + 2 > cce
       |ORDER BY id, transcript_id""".stripMargin.replace("\n", " ")
  }

  private val splicedCodonSql: String = splicedCodonSqlFor(Oracle.vcf, "v")

  /** 3'-shift oracle: the Oracle.vcf CTE precomputes norm_start /
    * vep_ref / vep_alt; the scan fragment is shared via
    * Splice.shiftScanSql. */
  private val shift3Sql: String = {
    import graft.vep.Splice
    val scan = Splice.shiftScanSql("chrom", "anchor", "allele", 16)
    s"""WITH ${Oracle.vcf},
       |ind AS (SELECT id, chrom, norm_start,
       |   CASE WHEN vep_ref = '-' THEN 'ins' ELSE 'del' END AS kind,
       |   CASE WHEN vep_ref = '-' THEN vep_alt ELSE vep_ref END AS allele,
       |   CASE WHEN vep_ref = '-' THEN norm_start ELSE norm_start + 1 END AS anchor
       |  FROM v WHERE length(ref) <> length(alt)),
       |scanned AS (SELECT ind.*, $scan AS p0 FROM ind)
       |SELECT id, chrom, norm_start, kind, allele,
       | CAST(CASE WHEN p0 = 0 THEN 16 ELSE p0 - 1 END AS BIGINT) AS shift3,
       | CAST(norm_start + (CASE WHEN p0 = 0 THEN 16 ELSE p0 - 1 END) AS BIGINT) AS shifted_start
       |FROM scanned ORDER BY id""".stripMargin.replace("\n", " ")
  }

  /** CSQ-assembly oracle: composes the two layer oracles as nested-WITH
    * subqueries (DuckDB allows WITH inside a derived table) and mirrors
    * Splice.csqAssemble's term/rank/entry logic. */
  private val csqSql: String = {
    import graft.vep.Vep
    val rankCase = "CASE term " + Vep.soRank.map { case (n, r) => s"WHEN '$n' THEN $r" }
      .mkString(" ") + " ELSE 39 END"
    val nameCase = "CASE MIN(rank) " + Vep.soRank.map { case (n, r) => s"WHEN $r THEN '$n'" }
      .mkString(" ") + " ELSE 'intergenic_variant' END"
    s"""WITH cdna AS (SELECT * FROM ($cdnaHgvsSql) AS c1),
       |codon AS (SELECT id, transcript_id, consequence, hgvs_p FROM ($splicedCodonSql) AS c2),
       |j AS (SELECT cdna.id, cdna.transcript_id, cdna.region, cdna.cdna_pos,
       |   cdna.cds_pos, cdna.protein_pos, cdna.hgvs_c, codon.consequence, codon.hgvs_p
       |  FROM cdna LEFT JOIN codon
       |   ON cdna.id = codon.id AND cdna.transcript_id = codon.transcript_id),
       |terms AS (SELECT j.*, CASE
       |   WHEN region = 'intronic' THEN 'intron_variant'
       |   WHEN strpos(hgvs_c, ':n.') > 0 THEN 'non_coding_transcript_exon_variant'
       |   WHEN strpos(hgvs_c, ':c.-') > 0 THEN '5_prime_UTR_variant'
       |   WHEN strpos(hgvs_c, ':c.*') > 0 THEN '3_prime_UTR_variant'
       |   ELSE COALESCE(consequence, 'coding_sequence_variant') END AS term FROM j),
       |entries AS (SELECT id, term, $rankCase AS rank,
       |   concat(transcript_id, '|', term, '|',
       |     COALESCE(CAST(cdna_pos AS VARCHAR), ''), '|',
       |     COALESCE(CAST(cds_pos AS VARCHAR), ''), '|',
       |     COALESCE(CAST(protein_pos AS VARCHAR), ''), '|',
       |     COALESCE(hgvs_c, ''), '|', COALESCE(hgvs_p, '')) AS entry
       |  FROM terms)
       |SELECT id, CAST(COUNT(*) AS BIGINT) AS n_transcripts,
       | $nameCase AS most_severe_consequence,
       | string_agg(entry, ',' ORDER BY entry) AS csq
       |FROM entries GROUP BY id ORDER BY id""".stripMargin.replace("\n", " ")
  }

  /** Indel-HGVS oracle: mirrors the rewritten Splice.indelHgvs
    * (del/ins/delins/dup forms, 3'-shift feed, derived-genome dup
    * context) over the given variant view. */
  private def indelHgvsSqlFor(variantCte: String, variantName: String,
      shift: Boolean = true, exCte: String = Oracle.exons): String = {
    import Oracle.{transcripts => tCte}
    import graft.vep.CodonLogic
    val D = CodonLogic.DuckD
    val anchor1 = "(CASE WHEN strand = 1 THEN cds_start ELSE cds_end END)"
    val anchor2 = "(CASE WHEN strand = 1 THEN cds_end ELSE cds_start END)"
    def fmtC(x: String): String =
      s"""CASE WHEN biotype NOT IN ('protein_coding', 'nonsense_mediated_decay') THEN CAST($x AS VARCHAR)
         | WHEN $x < ccs THEN concat('-', CAST(ccs - $x AS VARCHAR))
         | WHEN $x > cce THEN concat('*', CAST($x - cce AS VARCHAR))
         | ELSE CAST($x - ccs + 1 AS VARCHAR) END""".stripMargin.replace("\n", " ")
    val scan = Splice.shiftScanSql("chrom", "anchor", "allele", 16)
    val ctxBase = CodonLogic.seq(D, "chrom", "j")
    val coords = s"""CASE WHEN lo = hi THEN ${fmtC("lo")}
       ELSE concat(${fmtC("lo")}, '_', ${fmtC("hi")}) END"""
    s"""WITH $tCte, $exCte, $variantCte,
       |ind0 AS (SELECT id, chrom, vep_ref, vep_alt,
       |   norm_start AS ns, norm_end AS ne,
       |   CASE WHEN vep_ref = '-' THEN vep_alt ELSE vep_ref END AS allele,
       |   CASE WHEN vep_ref = '-' THEN norm_start ELSE norm_start + 1 END AS anchor
       |  FROM $variantName WHERE NOT (length(ref) = 1 AND length(alt) = 1)),
       |ind1 AS (SELECT ind0.*,
       |   ${if (shift)
             s"CASE WHEN (vep_ref = '-' OR vep_alt = '-') AND length(allele) = 1 " +
               s"THEN $scan ELSE 1 END"
           else "1"} AS scan FROM ind0),
       |ind2 AS (SELECT ind1.*,
       |   CAST(CASE WHEN scan = 0 THEN 16 ELSE scan - 1 END AS BIGINT) AS sh,
       |   CAST(length(vep_alt) AS BIGINT) AS k FROM ind1),
       |ind3 AS (SELECT ind2.*, ns + sh AS nss, ne + sh AS nse,
       |   array_to_string(list_transform(generate_series(ns + sh - k, ns + sh - 1),
       |     j -> $ctxBase), '') AS ctx FROM ind2),
       |ind AS (SELECT id, chrom, vep_alt AS va, sh,
       |   CASE WHEN vep_ref = '-' AND ctx = vep_alt THEN 'dup'
       |    WHEN vep_ref = '-' THEN 'ins'
       |    WHEN vep_alt = '-' THEN 'del' ELSE 'delins' END AS kind,
       |   CASE WHEN vep_ref = '-' AND ctx = vep_alt THEN nss - k
       |    WHEN vep_ref = '-' THEN nss - 1
       |    WHEN vep_alt = '-' THEN nss ELSE ns END AS p0,
       |   CASE WHEN vep_ref = '-' AND ctx = vep_alt THEN nss - 1
       |    WHEN vep_ref = '-' THEN nss
       |    WHEN vep_alt = '-' THEN nse ELSE ne END AS p1
       |  FROM ind3),
       |cand AS (SELECT i.*, t.transcript_id AS tid, t.strand, t.biotype
       |  FROM ind i JOIN t ON i.chrom = t.chrom
       |   AND i.p0 BETWEEN t.start AND t."end" AND i.p1 BETWEEN t.start AND t."end"),
       |agg AS (SELECT c.id, c.tid, c.strand, c.biotype, c.kind, c.va, c.p0, c.p1, c.sh,
       |   MAX(CASE WHEN c.p0 BETWEEN e.start AND e."end" THEN 1 ELSE 0 END) AS in0,
       |   MAX(CASE WHEN c.p1 BETWEEN e.start AND e."end" THEN 1 ELSE 0 END) AS in1,
       |   CAST(SUM(${contrib("c.p0")}) AS BIGINT) AS cdna0,
       |   CAST(SUM(${contrib("c.p1")}) AS BIGINT) AS cdna1
       |  FROM cand c JOIN ex e ON c.tid = e.transcript_id
       |  GROUP BY c.id, c.tid, c.strand, c.biotype, c.kind, c.va, c.p0, c.p1, c.sh),
       |cb AS (SELECT t.transcript_id AS tid,
       |   CAST(SUM(${contrib(anchor1)})
       |     + (CASE WHEN MAX(CASE WHEN $anchor1 BETWEEN e.start AND e."end" THEN 1 ELSE 0 END) = 0
       |        THEN 1 ELSE 0 END) AS BIGINT) AS ccs,
       |   CAST(SUM(${contrib(anchor2)}) AS BIGINT) AS cce
       |  FROM t JOIN ex e ON t.transcript_id = e.transcript_id
       |  GROUP BY t.transcript_id),
       |x AS (SELECT agg.*, cb.ccs, cb.cce,
       |   LEAST(cdna0, cdna1) AS lo, GREATEST(cdna0, cdna1) AS hi,
       |   CASE WHEN strand = 1 THEN va ELSE reverse(translate(va, 'ACGT', 'TGCA')) END AS altadj,
       |   concat(agg.tid, ':', CASE WHEN biotype IN ('protein_coding', 'nonsense_mediated_decay') THEN 'c.' ELSE 'n.' END) AS pfx
       |  FROM agg JOIN cb ON agg.tid = cb.tid WHERE in0 = 1 AND in1 = 1)
       |SELECT id, tid AS transcript_id, kind, lo AS cdna_pos, hi AS cdna_end,
       | CASE WHEN kind IN ('del', 'dup') THEN concat(pfx, $coords, kind)
       |  ELSE concat(pfx, $coords, kind, altadj) END AS hgvs_c,
       | CASE WHEN sh > 0 THEN (CASE WHEN strand = -1 THEN -sh ELSE sh END) END AS hgvs_offset
       |FROM x ORDER BY id, transcript_id""".stripMargin.replace("\n", " ")
  }

  /** Splice-term oracle: mirrors Splice.spliceTerms window-for-window
    * (ov = range-overlap model, ip = insertion-point model; strand CASE
    * swaps donor/acceptor ends exactly as the Spark expressions do).
    * `variantCte`/`variantName` select which derived variant view
    * probes (the real vcf or the dense exon-boundary probe fixture). */
  private def spliceTermsSql(variantCte: String, variantName: String,
      exCte: String = Oracle.exons): String = {
    import Oracle.{transcripts => tCte}
    def ov(x: String, y: String) = s"(NOT isins AND vs <= $y AND ve >= $x)"
    def ip(x: String, y: String) = s"(isins AND vs BETWEEN $x AND $y)"
    val within = "(NOT isins AND vs >= ist AND ve <= ien)"
    val donor = s"""CASE WHEN strand = 1
      THEN ${ov("ist", "ist + 1")} OR ${ip("ist + 1", "ist + 1")}
      ELSE ${ov("ien - 1", "ien")} OR ${ip("ien", "ien")} END"""
    val donor5 = s"""CASE WHEN strand = 1 THEN ${ov("ist + 4", "ist + 4")}
      ELSE ${ov("ien - 4", "ien - 4")} END"""
    val dregion = s"""CASE WHEN strand = 1
      THEN ${ov("ist + 2", "ist + 5")} OR ${ip("ist + 3", "ist + 5")}
      ELSE ${ov("ien - 5", "ien - 2")} OR ${ip("ien - 4", "ien - 2")} END"""
    val acceptor = s"""CASE WHEN strand = 1
      THEN ${ov("ien - 1", "ien")} OR ${ip("ien", "ien")}
      ELSE ${ov("ist", "ist + 1")} OR ${ip("ist + 1", "ist + 1")} END"""
    // PPT include gate (intron yes / exon no) + the frameshift-intron
    // 12 bp exon stretch — mirrors graft.plans.SpliceScan
    val insIn = "(vs > ist AND vs <= ien)"
    val deep = """(CASE WHEN isins THEN vs > ist + 11 AND vs < ien - 10
      ELSE vs > ist + 11 AND ve < ien - 11 END)"""
    val ppt = s"""(CASE WHEN strand = 1
      THEN ($within AND ${ov("ien - 16", "ien - 2")})
        OR (${ip("ien - 16", "ien - 1")} AND $insIn)
      ELSE ($within AND ${ov("ist + 2", "ist + 16")})
        OR (${ip("ist + 2", "ist + 17")} AND $insIn) END)
      AND (NOT hasfs OR $deep)"""
    val sregion = Seq(
      ov("ist + 2", "ist + 7"), ov("ien - 7", "ien - 2"),
      ov("ist - 3", "ist - 1"), ov("ien + 1", "ien + 3"),
      ip("ist + 3", "ist + 7"), ip("ien - 6", "ien - 2"),
      ip("ist - 2", "ist - 1"), ip("ien + 2", "ien + 3"),
      "(isins AND (vs = ist OR vs = ien + 1 OR vs = ist + 2 OR vs = ien - 1))")
      .mkString(" OR ")
    val unions = Seq(
      "splice_acceptor_variant" -> acceptor,
      "splice_donor_variant" -> donor,
      "splice_donor_5th_base_variant" -> donor5,
      "splice_region_variant" -> sregion,
      "splice_donor_region_variant" -> dregion,
      "splice_polypyrimidine_tract_variant" -> ppt)
      .map { case (n, c) => s"SELECT id, tid, '$n' AS consequence FROM j WHERE $c" }
      .mkString(" UNION ALL ")
    s"""WITH $tCte, $exCte, $variantCte,
       |iv AS (SELECT id, chrom, norm_start AS vs, norm_end AS ve,
       |   (vep_ref = '-') AS isins,
       |   LEAST(norm_start, norm_end) AS lo, GREATEST(norm_start, norm_end) AS hi FROM $variantName),
       |i0 AS (SELECT transcript_id AS itid, "end" + 1 AS ist,
       |   LEAD(start) OVER (PARTITION BY transcript_id ORDER BY start) - 1 AS ien FROM ex),
       |intr AS (SELECT itid, ist, ien FROM i0 WHERE ien IS NOT NULL AND ien >= ist),
       |cand AS (SELECT iv.id, iv.vs, iv.ve, iv.isins, iv.lo, iv.hi,
       |   t.transcript_id AS tid, t.strand
       |  FROM iv JOIN t ON iv.chrom = t.chrom AND t.start <= iv.hi AND t."end" >= iv.lo
       |   AND (CASE WHEN iv.isins THEN iv.vs > t.start AND iv.vs <= t."end"
       |    ELSE iv.vs <= t."end" AND iv.ve >= t.start END)),
       |j AS (SELECT cand.*, intr.ist, intr.ien,
       |  EXISTS (SELECT 1 FROM intr x WHERE x.itid = cand.tid
       |   AND x.ien - x.ist <= 12) AS hasfs
       |  FROM cand JOIN intr ON cand.tid = intr.itid
       |  AND cand.lo <= intr.ien + 3 AND cand.hi >= intr.ist - 3
       |  AND NOT (intr.ien - intr.ist <= 12 AND
       |   (CASE WHEN cand.isins THEN cand.vs > intr.ist AND cand.vs <= intr.ien
       |    ELSE cand.vs <= intr.ien AND cand.ve >= intr.ist END)))
       |SELECT DISTINCT id, tid AS transcript_id, consequence FROM ($unions) u
       |ORDER BY id, transcript_id, consequence""".stripMargin.replace("\n", " ")
  }

  private val regulatorySql: String =
    s"""WITH ${Oracle.vcf}, ${Oracle.regulatory}
       |SELECT v.id, rg.feature_id, rg.feature_type,
       | 'regulatory_region_variant' AS consequence
       |FROM v JOIN rg ON v.chrom = rg.chrom
       | AND v.start <= rg."end" AND v."end" >= rg.start
       |ORDER BY v.id, rg.feature_id""".stripMargin.replace("\n", " ")

  /** Miss worklist: anti-join on the exact lookup condition (mirrors
    * f10_lookup_variants) then the merge sweep with a 1000bp reach. */
  private val missWorklistSql: String =
    s"""WITH ${Oracle.vcf}, ${Oracle.vepCache},
       |miss AS (SELECT v.chrom AS contig, v.norm_start AS pos_start,
       |   v.norm_start AS pos_end FROM v WHERE NOT EXISTS
       |  (SELECT 1 FROM c WHERE v.bare_chrom = c.chrom
       |    AND v.norm_start = c.start AND v.norm_end = c."end"
       |    AND (split_part(c.allele_string, '/', 1) = v.vep_ref
       |         OR split_part(c.allele_string, '/', 1) = v.ref)
       |    AND split_part(c.allele_string, '/', 2) = v.vep_alt)),
       |${Oracle.mergedCte("miss", "mw", 50L)}
       |SELECT contig, pos_start, pos_end, n_intervals FROM mw
       |ORDER BY contig, pos_start""".stripMargin.replace("\n", " ")

  private val siftSql: String =
    s"""WITH ${Oracle.transcripts}, ${Oracle.siftCtx},
       |codon AS (SELECT id, transcript_id, protein_pos, aa_alt FROM ($splicedCodonSql) q)
       |SELECT codon.id, codon.transcript_id, codon.protein_pos, codon.aa_alt,
       | sift.sift_score,
       | CASE WHEN sift.sift_score < 0.05 THEN 'deleterious' ELSE 'tolerated' END AS sift_prediction
       |FROM codon JOIN sift ON codon.transcript_id = sift.transcript_id
       | AND codon.protein_pos = sift.protein_pos AND codon.aa_alt = sift.aa
       |ORDER BY codon.id, codon.transcript_id""".stripMargin.replace("\n", " ")

  /** Colocated oracle: the lookup equi-join with the allele-match
    * predicate negated (same matcher mirror as missWorklistSql). */
  private val colocatedSql: String =
    s"""WITH ${Oracle.vcf}, ${Oracle.vepCache}
       |SELECT v.id, c.variation_name AS colocated_name,
       | c.allele_string AS colocated_allele_string, c.af AS colocated_af
       |FROM v JOIN c ON v.bare_chrom = c.chrom
       | AND v.norm_start = c.start AND v.norm_end = c."end"
       | AND NOT ((split_part(c.allele_string, '/', 1) = v.vep_ref
       |           OR split_part(c.allele_string, '/', 1) = v.ref)
       |          AND split_part(c.allele_string, '/', 2) = v.vep_alt)
       |ORDER BY v.id, colocated_name""".stripMargin.replace("\n", " ")

  private val maxAfSql: String = {
    import graft.vep.Annotate
    val g = s"GREATEST(${Annotate.maxAfPopCols.map(_._2).mkString(", ")})"
    s"""WITH ${Oracle.vcf}, ${Oracle.vepCache},
       |x AS (SELECT v.id, ${Annotate.afCsq.map { case (_, c) => s"c.$c" }.mkString(", ")}
       |  FROM v JOIN c ON v.bare_chrom = c.chrom
       |   AND v.norm_start = c.start AND v.norm_end = c."end"
       |   AND (split_part(c.allele_string, '/', 1) = v.vep_ref
       |        OR split_part(c.allele_string, '/', 1) = v.ref)
       |   AND split_part(c.allele_string, '/', 2) = v.vep_alt)
       |SELECT id, ${Annotate.afCsq.map(_._2).mkString(", ")},
       | $g AS max_af,
       | concat_ws('&', ${Annotate.maxAfPopCols.map { case (n, c) =>
           s"CASE WHEN $c = $g THEN '$n' END"
         }.mkString(", ")}) AS max_af_pops
       |FROM x ORDER BY id""".stripMargin.replace("\n", " ")
  }

  /** End-to-end oracle: composes the layer oracles (cDNA, spliced
    * codon, indel HGVS, splice terms — each a nested subquery with its
    * own WITH scope) plus DuckDB mirrors of the Annotate-only logic:
    * indel region terms, up/downstream candidates, NMD/non-coding
    * companions, '&'-fusion in SO severity order (the shared
    * Annotate.termStrSql/bestRankSql fragments), lookup + MAX_AF. */
  /** Shared CTE chain of the e2e oracles — everything through the
    * per-entry rendering (`ent`) and the lookup (`lk`); the two gated
    * queries differ only in the per-variant aggregation tail. */
  /** DuckDB mirror of the Spark side's csq_escape
    * (annotate_provider.rs:1931-1961): lone '-' empties, ','/'|' ->
    * '&', ';' -> '%3B', \s -> '_'. */
  private def duckEsc(s: String): String =
    s"CASE WHEN $s = '-' THEN '' ELSE regexp_replace(replace(replace(replace(" +
      s"$s, ',', '&'), '|', '&'), ';', '%3B'), '\\s', '_', 'g') END"

  /** DuckDB mirror of [[graft.vep.Annotate]]'s existingVar — the
    * colocated-family aggregation chain (exv0..exv), parameterized by
    * the cache CTE name so multi-entry fixtures can feed a widened
    * cache union. Entry order is the reference's partial key (somatic
    * flag, then variation-name prefix rank,
    * annotate_provider.rs:1600-1608) followed by Spark's FULL struct
    * sort key as the deterministic tie-break. Every nullable key is
    * pinned NULLS FIRST: Spark's struct comparison orders null fields
    * first while DuckDB defaults to NULLS LAST (round-7 ADVICE). */
  private def exvCtes(cc: String,
      opts: graft.vep.VepOptions = graft.vep.VepOptions.Everything): String = {
    import graft.vep.Annotate
    val exvPr = s"CASE WHEN lower(substr($cc.variation_name, 1, 2)) = 'rs' THEN 1 " +
      s"WHEN lower(substr($cc.variation_name, 1, 2)) IN ('cm', 'ci', 'cd') THEN 2 " +
      s"WHEN lower(substr($cc.variation_name, 1, 2)) = 'co' THEN 3 ELSE 100 END"
    val exvOrd = (Seq(s"CASE WHEN $cc.somatic = '1' THEN 1 ELSE 0 END", exvPr) ++
      ((s"$cc.variation_name" +: Annotate.afCsq.map { case (_, c) => s"$cc.$c" }) ++
        Seq(s"$cc.somatic", s"$cc.pheno", s"$cc.pubmed", s"$cc.clin_sig",
          s"$cc.clin_sig_allele")).map(k => s"$k NULLS FIRST")).mkString(", ")
    s"""exv0 AS (SELECT v.id, any_value(v.vep_alt) AS va,
       |   list(struct_pack(vn := $cc.variation_name,
       |     ${Annotate.afCsq.map { case (_, c) => s"$c := $cc.$c" }.mkString(", ")},
       |     somatic := $cc.somatic, pheno := $cc.pheno, pubmed := $cc.pubmed,
       |     cs := $cc.clin_sig, csa := $cc.clin_sig_allele)
       |    ORDER BY $exvOrd) AS ents
       |  FROM v JOIN $cc ON v.bare_chrom = $cc.chrom
       |   AND $cc.variation_name IS NOT NULL AND $cc.variation_name <> ''
       |   AND v.norm_start = $cc.start AND v.norm_end = $cc."end"
       |   AND (split_part($cc.allele_string, '/', 1) = v.vep_ref
       |        OR split_part($cc.allele_string, '/', 1) = v.ref)
       |   AND split_part($cc.allele_string, '/', 2) = v.vep_alt
       |  GROUP BY v.id),
       |exv1 AS (SELECT id, va, ents,
       |   CAST(list_aggregate(list_transform(ents, x -> GREATEST(${Annotate.maxAfPopCols.map { case (_, c) => s"CAST(x.$c AS DECIMAL(5,4))" }.mkString(", ")})), 'max') AS DECIMAL(5,4)) AS exm,
       |   ${Annotate.afCsq.map { case (_, c) =>
             s"list_transform(list_filter(ents, x -> x.$c IS NOT NULL), x -> CAST(CAST(x.$c AS DECIMAL(5,4)) AS VARCHAR)) AS afr_$c"
           }.mkString(", ")},
       |   list_position(list_transform(ents, x -> x.csa IS NOT NULL), true) AS csapos
       |  FROM exv0),
       |exv2 AS (SELECT id, va, ents, exm,
       |   ${Annotate.afCsq.map { case (_, c) =>
             s"list_filter(afr_$c, (x, i) -> list_position(afr_$c, x) = i) AS afl_$c"
           }.mkString(", ")},
       |   flatten(list_transform(ents, x -> list_filter([${Annotate.maxAfPopCols.map { case (n, c) =>
             s"CASE WHEN CAST(x.$c AS DECIMAL(5,4)) = exm THEN '$n' END"
           }.mkString(", ")}], p -> p IS NOT NULL))) AS pops0,
       |   list_transform(list_filter(ents, x -> x.csa IS NOT NULL
       |     AND len(list_filter(string_split(x.csa, ';'), ch -> strpos(ch, ':') > 0
       |       AND substr(ch, 1, strpos(ch, ':') - 1) = va)) > 0),
       |     x -> array_to_string(list_transform(list_filter(string_split(x.csa, ';'),
       |       ch -> strpos(ch, ':') > 0 AND substr(ch, 1, strpos(ch, ':') - 1) = va),
       |       ch -> substr(ch, strpos(ch, ':') + 1)), ',')) AS csav0,
       |   CASE WHEN csapos IS NULL OR csapos = 0 THEN len(ents) ELSE csapos - 1 END AS nfb
       |  FROM exv1),
       |exv3 AS (SELECT id, ents, exm,
       |   ${Annotate.afCsq.map { case (_, c) => s"afl_$c" }.mkString(", ")},
       |   pops0 AS pops,
       |   list_filter(csav0, (x, i) -> list_position(csav0, x) = i) AS csav,
       |   flatten(list_transform(list_filter(array_slice(ents, 1, nfb), x -> x.cs IS NOT NULL),
       |     x -> list_filter(string_split(x.cs, ','), v -> v <> ''))) AS fbv,
       |   flatten(list_transform(ents,
       |     x -> list_filter(string_split(COALESCE(x.pubmed, ''), ','), v -> v <> ''))) AS pbv
       |  FROM exv2),
       |exv AS (SELECT id,
       |   array_to_string(list_transform(list_filter(ents, x -> x.vn <> ''), x -> x.vn), '&') AS exvar,
       |   concat_ws('|',
       |    ${Annotate.afCsq.map { case (_, c) =>
             if (opts.groupOn(c)) s"array_to_string(afl_$c, '&')" else "''"
           }.mkString(", ")},
       |    ${if (opts.maxAfOn) "COALESCE(CAST(exm AS VARCHAR), '')" else "''"},
       |    ${if (opts.maxAfOn) "array_to_string(pops, '&')" else "''"},
       |    CASE WHEN len(csav) > 0 THEN ${duckEsc("array_to_string(csav, ';')")}
       |     WHEN len(fbv) > 0 THEN ${duckEsc("array_to_string(fbv, '&')")} ELSE '' END,
       |    CASE WHEN list_contains(list_transform(ents, x -> x.somatic), '1')
       |     THEN array_to_string(list_transform(ents,
       |       x -> CASE WHEN x.somatic = '1' THEN '1' ELSE '0' END), '&') ELSE '' END,
       |    CASE WHEN list_contains(list_transform(ents, x -> x.pheno), '1')
       |     THEN array_to_string(list_transform(ents,
       |       x -> CASE WHEN x.pheno = '1' THEN '1' ELSE '0' END), '&') ELSE '' END,
       |    ${if (opts.pubmedOn)
             s"CASE WHEN len(pbv) > 0 THEN ${duckEsc("array_to_string(pbv, '&')")} ELSE '' END"
           else "''"}) AS exsuffix,
       |   array_to_string(list_transform(list_filter(ents, x -> x.vn <> ''), x -> x.vn), '&') AS variation_name,
       |   ${Annotate.afCsq.map { case (_, c) =>
             if (opts.groupOn(c))
               s"CASE WHEN len(afl_$c) = 1 THEN CAST(afl_$c[1] AS DOUBLE) END AS $c"
             else s"CAST(NULL AS DOUBLE) AS $c"
           }.mkString(", ")},
       |   ${if (opts.maxAfOn) "CAST(exm AS DOUBLE)" else "CAST(NULL AS DOUBLE)"} AS max_af,
       |   ${if (opts.maxAfOn) "CASE WHEN len(pops) > 0 THEN array_to_string(pops, '&') END"
          else "CAST(NULL AS VARCHAR)"} AS max_af_pops
       |  FROM exv3)""".stripMargin.replace("\n", " ")
  }

  /** DuckDB fragment per CSQ field name over the e2e oracle's
    * rend/t/v/exv aliases — mirror of the Spark-side fieldCol map in
    * Annotate.entriesDf. Names absent from the map (SOURCE, the
    * RefSeq block) render ''. */
  private lazy val entFieldSql: Map[String, String] = Map(
    "Allele" -> "COALESCE(v.vep_alt, '')",
    "Consequence" -> "rend.termstr",
    "IMPACT" -> graft.vep.Annotate.impactSql("rend.best"),
    "SYMBOL" -> "COALESCE(t.symbol, '')",
    "Gene" -> "COALESCE(t.gene_id, '')",
    "Feature_type" -> "rend.ftype",
    "Feature" -> "rend.transcript_id",
    "BIOTYPE" -> "COALESCE(rend.fbt, t.biotype, '')",
    "EXON" -> "COALESCE(rend.exon, '')",
    "INTRON" -> "COALESCE(rend.intron, '')",
    "HGVSc" -> "COALESCE(rend.hgvs_c, '')",
    "HGVSp" -> "COALESCE(rend.hgvs_p, '')",
    "cDNA_position" -> "COALESCE(CAST(rend.cdna_pos AS VARCHAR), '')",
    "CDS_position" -> "COALESCE(CAST(rend.cds_pos AS VARCHAR), '')",
    "Protein_position" -> "COALESCE(CAST(rend.protein_pos AS VARCHAR), '')",
    "Amino_acids" -> "COALESCE(rend.aas, '')",
    "Codons" -> "COALESCE(rend.cod, '')",
    "Existing_variation" -> "COALESCE(exv.exvar, '')",
    "DISTANCE" -> "COALESCE(CAST(rend.dist AS VARCHAR), '')",
    "STRAND" -> "COALESCE(CAST(t.strand AS VARCHAR), '')",
    "FLAGS" -> "COALESCE(t.flags, '')",
    "VARIANT_CLASS" -> ("CASE WHEN length(v.ref) = 1 AND length(v.alt) = 1 THEN 'SNV' " +
      "WHEN length(v.ref) = length(v.alt) THEN 'substitution' " +
      "WHEN length(v.alt) > length(v.ref) THEN 'insertion' ELSE 'deletion' END"),
    "SYMBOL_SOURCE" -> "CASE WHEN length(t.symbol) > 0 THEN 'HGNC' ELSE '' END",
    "HGNC_ID" -> ("CASE WHEN length(t.symbol) > 0 " +
      "THEN concat('HGNC:', substr(t.symbol, 4)) ELSE '' END"),
    "CANONICAL" -> "COALESCE(t.canonical, '')",
    "MANE" -> ("CASE WHEN t.mane_select <> '' THEN 'MANE_Select' " +
      "WHEN t.mane_plus_clinical <> '' THEN 'MANE_Plus_Clinical' ELSE '' END"),
    "MANE_SELECT" -> "COALESCE(t.mane_select, '')",
    "MANE_PLUS_CLINICAL" -> "COALESCE(t.mane_plus_clinical, '')",
    "TSL" -> "COALESCE(CAST(t.tsl AS VARCHAR), '')",
    "APPRIS" -> "COALESCE(replace(replace(t.appris, 'principal', 'P'), 'alternative', 'A'), '')",
    "CCDS" -> "COALESCE(t.ccds, '')",
    "ENSP" -> ("CASE WHEN t.biotype IN ('protein_coding', 'nonsense_mediated_decay') " +
      "THEN concat('P', substr(rend.transcript_id, 2)) ELSE '' END"),
    "SWISSPROT" -> "COALESCE(t.swissprot, '')",
    "TREMBL" -> "COALESCE(t.trembl, '')",
    "UNIPARC" -> "COALESCE(t.uniparc, '')",
    "UNIPROT_ISOFORM" -> "COALESCE(t.uniprot_isoform, '')",
    "GENE_PHENO" -> "COALESCE(t.gene_pheno, '')",
    "SIFT" -> "COALESCE(rend.sift_pred, '')",
    "PolyPhen" -> "COALESCE(rend.polyphen_pred, '')",
    "DOMAINS" -> "COALESCE(translate(t.domains, ' ;=', '___'), '')",
    // mirna_structure_field over the fixture's "start:end structure"
    // attribute: RLE-expand the dot-bracket, slice the entry's FULL
    // cDNA span [cdna_pos, cdna_end] (the reference parses the "N-M"
    // cDNA_position range, annotate_provider.rs:4404-4421), map
    // (/) -> miRNA_stem (once PER SIDE) and . -> miRNA_loop, and
    // emit the sorted '&'-join (loop sorts before stem, so the fixed
    // concat order below IS the sorted order)
    "miRNA" -> {
      val off = "CAST(split_part(t.mirna, ':', 1) AS BIGINT)"
      val ce = "COALESCE(rend.cdna_end, rend.cdna_pos)"
      val seg = "substr(array_to_string(list_transform(" +
        "regexp_extract_all(split_part(t.mirna, ' ', 2), '[().][0-9]*'), " +
        "x -> repeat(x[1], COALESCE(TRY_CAST(x[2:] AS INT), 1))), ''), " +
        s"CAST(GREATEST(rend.cdna_pos, $off) - $off + 1 AS INT), " +
        s"CAST($ce - GREATEST(rend.cdna_pos, $off) + 1 AS INT))"
      "CASE WHEN t.biotype = 'miRNA' AND COALESCE(t.mirna, '') <> '' " +
        s"AND rend.cdna_pos IS NOT NULL AND $ce >= $off THEN " +
        "concat_ws('&', " +
        s"CASE WHEN contains($seg, '.') THEN 'miRNA_loop' END, " +
        s"CASE WHEN contains($seg, '(') THEN 'miRNA_stem' END, " +
        s"CASE WHEN contains($seg, ')') THEN 'miRNA_stem' END) " +
        "ELSE '' END"
    },
    "HGVS_OFFSET" -> "COALESCE(CAST(rend.hgvs_offset AS VARCHAR), '')",
    "MOTIF_NAME" -> "COALESCE(rend.mname, '')",
    "MOTIF_POS" -> "COALESCE(CAST(rend.mpos AS VARCHAR), '')",
    "HIGH_INF_POS" -> "COALESCE(rend.minf, '')",
    "MOTIF_SCORE_CHANGE" -> "COALESCE(CAST(CAST(rend.mscore AS DECIMAL(3,2)) AS VARCHAR), '')",
    "TRANSCRIPTION_FACTORS" -> "COALESCE(rend.mname, '')")

  /** The full CSQ entry concat for a mode's field list — the 33-field
    * colocated block renders as exv.exsuffix (empty-slot fallback for
    * unmatched variants), mirroring the Spark side's per-variant
    * suffix placeholder. */
  private def entConcatSql(opts: graft.vep.VepOptions): String = {
    val names = graft.vep.Annotate.csqFieldNamesForMode(
      opts.refseq, opts.merged, opts.everything)
    val afStart = names.indexOf("AF")
    def frag(n: String): String = n match {
      case "HGVSc" | "HGVS_OFFSET" if !opts.hgvscOn => "''"
      case "HGVSp" if !opts.hgvspOn => "''"
      case _ => entFieldSql.getOrElse(n, "''")
    }
    val parts: Seq[String] =
      names.take(afStart).map(frag) ++
        Seq(s"COALESCE(exv.exsuffix, '${"|" * 32}')") ++
        names.drop(afStart + 33).map(frag)
    parts.mkString("concat(", ", '|', ", ")")
  }

  private lazy val e2eCtes: String = e2eCtesFor(graft.vep.VepOptions.Everything)

  private def e2eCtesFor(opts: graft.vep.VepOptions,
      vcfCte: String = Oracle.vcf,
      exCte: String = Oracle.exons): String = {
    import graft.vep.{Annotate, CodonLogic}
    val D = CodonLogic.DuckD
    val coding = "biotype IN ('protein_coding', 'nonsense_mediated_decay')"
    // VEP insertion/trimmed-event predicates over igeo columns
    // (mirrors Annotate's Spark chain 1:1 — see that file's citations)
    val iCdsOv = "(CASE WHEN isins THEN nvs > tcs AND nvs <= tce " +
      "ELSE nvs <= tce AND nve >= tcs END)"
    val iLeftFlank = "(isins AND nvs - 1 BETWEEN tcs AND tce " +
      "AND NOT (strand = -1 AND nvs - 1 = tce))"
    val iCbGate = s"($coding AND (inex = 1 OR (bend = 1 AND $iLeftFlank) " +
      s"OR (bstart = 1 AND $iCdsOv)) AND ($iCdsOv OR $iLeftFlank))"
    val iComplex = "(NOT isins AND inex = 1 AND EXISTS (SELECT 1 FROM intr i " +
      "WHERE i.transcript_id = tid AND i.iend - i.istart > 12 " +
      "AND nvs <= i.iend AND nve >= i.istart))"
    val iUtrExt5 = "(NOT isins AND nvs < tcs)"
    val iUtrExt3 = "(NOT isins AND nve > tce)"
    val iFs = "EXISTS (SELECT 1 FROM intr i WHERE i.transcript_id = tid " +
      "AND i.iend - i.istart <= 12 " +
      "AND (CASE WHEN isins THEN nvs > i.istart AND nvs <= i.iend " +
      "ELSE nvs <= i.iend AND nve >= i.istart END))"
    val iGeomOk = "(CASE WHEN isins THEN nvs > ts AND nvs <= te " +
      "ELSE nvs <= te AND nve >= ts END)"
    def utr5(s: String = "strand") =
      s"(CASE WHEN $s = 1 THEN '5_prime_UTR_variant' ELSE '3_prime_UTR_variant' END)"
    def utr3(s: String = "strand") =
      s"(CASE WHEN $s = 1 THEN '3_prime_UTR_variant' ELSE '5_prime_UTR_variant' END)"
    s"""WITH ${Oracle.transcripts}, $exCte, $vcfCte, ${Oracle.vepCache}, ${Oracle.siftCtx}, ${Oracle.polyphenCtx}, ${Oracle.regulatory}, ${Oracle.motifs},
       |intr AS (SELECT transcript_id, istart, iend FROM (
       |   SELECT transcript_id, "end" + 1 AS istart,
       |    LEAD(start) OVER (PARTITION BY transcript_id ORDER BY start) - 1 AS iend
       |   FROM ex) q WHERE iend IS NOT NULL AND iend >= istart),
       |cdna AS (SELECT * FROM (${cdnaHgvsSqlFor(vcfCte, exCte)}) q1),
       |codon AS (SELECT id, transcript_id, consequence, protein_pos,
       |   aa_ref, aa_alt, ref_codon, alt_codon, hgvs_p
       |  FROM (${splicedCodonSqlFor(vcfCte, "v", exCte)}) q2),
       |csx AS (SELECT codon.id, codon.transcript_id, codon.consequence, codon.hgvs_p,
       |   CASE WHEN codon.aa_ref IS NULL OR codon.aa_alt IS NULL THEN NULL
       |    WHEN codon.aa_ref = codon.aa_alt THEN codon.aa_ref
       |    ELSE concat(codon.aa_ref, '/', codon.aa_alt) END AS aas,
       |   CASE WHEN codon.ref_codon IS NULL OR codon.alt_codon IS NULL THEN NULL
       |    ELSE concat(codon.ref_codon, '/', codon.alt_codon) END AS cod,
       |   CASE WHEN s.sift_score IS NULL THEN NULL
       |    ELSE concat(CASE WHEN s.sift_score < 0.05 THEN 'deleterious' ELSE 'tolerated' END,
       |     '(', CAST(CAST(s.sift_score AS DECIMAL(4,3)) AS VARCHAR), ')') END AS sift_pred,
       |   CASE WHEN q.polyphen_score IS NULL THEN NULL
       |    ELSE concat(CASE WHEN q.polyphen_score > 0.908 THEN 'probably_damaging'
       |     WHEN q.polyphen_score > 0.446 THEN 'possibly_damaging' ELSE 'benign' END,
       |     '(', CAST(CAST(q.polyphen_score AS DECIMAL(4,3)) AS VARCHAR), ')') END AS polyphen_pred
       |  FROM codon LEFT JOIN sift s ON codon.transcript_id = s.transcript_id
       |   AND codon.protein_pos = s.protein_pos AND codon.aa_alt = s.aa
       |   LEFT JOIN pp q ON codon.transcript_id = q.transcript_id
       |   AND codon.protein_pos = q.protein_pos AND codon.aa_alt = q.aa),
       |snv AS (SELECT cdna.id, cdna.transcript_id,
       |   CASE WHEN cdna.region = 'intronic' THEN
       |    (CASE WHEN t.biotype IN ('protein_coding', 'nonsense_mediated_decay')
       |      AND v.start BETWEEN t.cds_start AND t.cds_end
       |      AND EXISTS (SELECT 1 FROM intr i
       |       WHERE i.transcript_id = cdna.transcript_id
       |        AND i.iend - i.istart <= 12
       |        AND v.start BETWEEN i.istart AND i.iend)
       |      THEN 'coding_sequence_variant' END)
       |    WHEN strpos(cdna.hgvs_c, ':n.') > 0 AND t.biotype = 'miRNA'
       |      AND v.start <= t.start + (t."end" - t.start) // 2
       |      AND v.start >= t.start + (t."end" - t.start) // 3 THEN 'mature_miRNA_variant'
       |    WHEN strpos(cdna.hgvs_c, ':n.') > 0 THEN 'non_coding_transcript_exon_variant'
       |    WHEN strpos(cdna.hgvs_c, ':c.-') > 0 THEN '5_prime_UTR_variant'
       |    WHEN strpos(cdna.hgvs_c, ':c.*') > 0 THEN '3_prime_UTR_variant'
       |    ELSE COALESCE(csx.consequence, 'coding_sequence_variant') END AS term,
       |   (t.biotype = 'nonsense_mediated_decay') AS nmd,
       |   (cdna.region = 'intronic' AND strpos(cdna.hgvs_c, ':n.') > 0) AS nc,
       |   EXISTS (SELECT 1 FROM intr i WHERE i.transcript_id = cdna.transcript_id
       |     AND i.iend - i.istart > 12
       |     AND v.start >= i.istart + 2 AND v.start <= i.iend - 2) AS ibody,
       |   CAST(NULL AS VARCHAR) AS ut5, CAST(NULL AS VARCHAR) AS ut3,
       |   FALSE AS itc,
       |   cdna.cdna_pos, cdna.cdna_pos AS cdna_end, cdna.cds_pos, cdna.protein_pos, cdna.hgvs_c, csx.hgvs_p,
       |   csx.sift_pred, csx.polyphen_pred, csx.aas, csx.cod,
       |   CAST(NULL AS BIGINT) AS dist, cdna.exon, cdna.intron,
       |   CAST(NULL AS BIGINT) AS hgvs_offset
       |  FROM cdna LEFT JOIN csx ON cdna.id = csx.id AND cdna.transcript_id = csx.transcript_id
       |   JOIN t ON cdna.transcript_id = t.transcript_id
       |   JOIN v ON cdna.id = v.id),
       |iv AS (SELECT * FROM v WHERE NOT (length(ref) = 1 AND length(alt) = 1)),
       |icand AS (SELECT iv.id, iv.start AS vs, iv."end" AS ve,
       |   iv.norm_start AS nvs, iv.norm_end AS nve, (iv.vep_ref = '-') AS isins,
       |   CAST(length(iv.alt) - length(iv.ref) AS BIGINT) AS ld,
       |   t.transcript_id AS tid, t.strand, t.biotype, t.cds_start AS tcs, t.cds_end AS tce,
       |   t.start AS ts, t."end" AS te
       |  FROM iv JOIN t ON iv.chrom = t.chrom AND t.start <= iv."end" AND t."end" >= iv.start),
       |igeo AS (SELECT id, vs, ve, nvs, nve, isins, ld, tid, strand, biotype, tcs, tce, ts, te,
       |   MAX(CASE WHEN (CASE WHEN isins THEN nvs > e.start AND nvs <= e."end"
       |     ELSE nvs <= e."end" AND nve >= e.start END) THEN 1 ELSE 0 END) AS inex,
       |   MAX(CASE WHEN isins AND nvs = e."end" + 1 THEN 1 ELSE 0 END) AS bend,
       |   MAX(CASE WHEN isins AND nvs = e.start THEN 1 ELSE 0 END) AS bstart,
       |   CAST(SUM(CASE WHEN e."end" < nvs THEN 1 ELSE 0 END) AS BIGINT) AS nprev,
       |   CAST(COUNT(*) AS BIGINT) AS nex,
       |   MAX(CASE WHEN LEAST(nvs, nve) BETWEEN e.start AND e."end"
       |     THEN 1 ELSE 0 END) AS nloex,
       |   CAST(SUM(${contrib("LEAST(nvs, nve)")}) AS BIGINT) AS cdnalo
       |  FROM icand JOIN ex e ON icand.tid = e.transcript_id
       |  GROUP BY id, vs, ve, nvs, nve, isins, ld, tid, strand, biotype, tcs, tce, ts, te),
       |cbx AS (SELECT t.transcript_id AS cbtid,
       |   CAST(SUM(${contrib("(CASE WHEN strand = 1 THEN cds_start ELSE cds_end END)")})
       |     + (CASE WHEN MAX(CASE WHEN (CASE WHEN strand = 1 THEN cds_start ELSE cds_end END)
       |        BETWEEN e.start AND e."end" THEN 1 ELSE 0 END) = 0
       |       THEN 1 ELSE 0 END) AS BIGINT) AS ccs,
       |   CAST(SUM(${contrib("(CASE WHEN strand = 1 THEN cds_end ELSE cds_start END)")}) AS BIGINT) AS cce
       |  FROM t JOIN ex e ON t.transcript_id = e.transcript_id
       |  GROUP BY t.transcript_id),
       |iterm AS (SELECT id, tid AS transcript_id,
       |   CASE WHEN NOT $iGeomOk THEN CAST(NULL AS VARCHAR)
       |    WHEN $iCbGate THEN (CASE
       |     WHEN $iComplex OR (($iUtrExt5 OR $iUtrExt3) AND ld < 0)
       |      THEN 'coding_sequence_variant'
       |     WHEN ld % 3 <> 0 THEN 'frameshift_variant'
       |     WHEN ld > 0 THEN 'inframe_insertion'
       |     WHEN ld < 0 THEN 'inframe_deletion'
       |     ELSE 'protein_altering_variant' END)
       |    WHEN inex = 1 AND biotype = 'miRNA' AND (CASE WHEN isins
       |      THEN nvs > ts + (te - ts) // 3 AND nvs <= ts + (te - ts) // 2
       |      ELSE nvs <= ts + (te - ts) // 2 AND nve >= ts + (te - ts) // 3 END)
       |     THEN 'mature_miRNA_variant'
       |    WHEN inex = 1 AND NOT $coding THEN 'non_coding_transcript_exon_variant'
       |    WHEN inex = 1 AND $coding THEN (CASE
       |     WHEN isins AND nvs <= tcs THEN ${utr5()}
       |     WHEN isins AND nvs >= tce THEN ${utr3()}
       |     WHEN NOT isins AND nve < tcs THEN ${utr5()}
       |     WHEN NOT isins AND nvs > tce THEN ${utr3()} END)
       |    WHEN isins AND $coding AND inex = 0
       |      AND NOT (bend = 1 AND $iLeftFlank) AND NOT (bstart = 1 AND $iCdsOv)
       |      AND (bend = 1 OR bstart = 1) THEN (CASE
       |     WHEN strand = 1 AND nvs > tce THEN '3_prime_UTR_variant'
       |     WHEN strand = 1 AND nvs <= tcs THEN '5_prime_UTR_variant'
       |     WHEN strand = -1 AND nvs < tcs THEN '3_prime_UTR_variant'
       |     WHEN strand = -1 AND nvs > tce THEN '5_prime_UTR_variant' END)
       |    WHEN inex = 0 AND $coding AND $iFs AND $iCdsOv
       |     THEN 'coding_sequence_variant'
       |    END AS term,
       |   CASE WHEN $iGeomOk AND $iCbGate AND $iUtrExt5 THEN ${utr5()} END AS ut5,
       |   CASE WHEN $iGeomOk AND $iCbGate AND $iUtrExt3 THEN ${utr3()} END AS ut3,
       |   ($iGeomOk AND $iCbGate AND nloex = 1
       |     AND cdnalo BETWEEN ccs AND cce
       |     AND (cce - ccs + 1) - ((cdnalo - ccs) - ((cdnalo - ccs) % 3))
       |      BETWEEN 1 AND 2) AS itc,
       |   ($iGeomOk AND EXISTS (SELECT 1 FROM intr i WHERE i.transcript_id = tid
       |     AND i.iend - i.istart > 12
       |     AND (CASE WHEN isins THEN nvs >= i.istart + 2 AND nvs <= i.iend - 1
       |      ELSE nvs <= i.iend - 2 AND nve >= i.istart + 2 END))) AS ibody,
       |   ($iGeomOk AND biotype = 'nonsense_mediated_decay') AS nmd,
       |   ($iGeomOk AND NOT $coding AND inex = 0) AS nc,
       |   CASE WHEN $iGeomOk AND inex = 1 THEN concat(
       |     CAST(CASE WHEN strand = 1 THEN nprev + 1 ELSE nex - nprev END AS VARCHAR),
       |     '/', CAST(nex AS VARCHAR)) END AS exon,
       |   CASE WHEN $iGeomOk AND inex = 0 THEN concat(
       |     CAST(CASE WHEN strand = 1 THEN nprev ELSE nex - nprev END AS VARCHAR),
       |     '/', CAST(nex - 1 AS VARCHAR)) END AS intron
       |  FROM igeo LEFT JOIN cbx ON igeo.tid = cbx.cbtid),
       |ihx AS (SELECT id, transcript_id, cdna_pos, cdna_end, hgvs_c, hgvs_offset
       |  FROM (${indelHgvsSqlFor(vcfCte, "v", opts.shiftHgvs, exCte)}) q3),
       |ihp AS (SELECT id, transcript_id, hgvs_p AS hp9
       |  FROM (${graft.vep.Hgvsp.oracleSql(s"${Oracle.transcripts}, $vcfCte", "v", opts.shiftHgvs, exCte)}) q9),
       |ind AS (SELECT iterm.id, iterm.transcript_id, iterm.term, iterm.nmd, iterm.nc,
       |   iterm.ibody, iterm.ut5, iterm.ut3, iterm.itc,
       |   ihx.cdna_pos, ihx.cdna_end, CAST(NULL AS BIGINT) AS cds_pos, CAST(NULL AS BIGINT) AS protein_pos,
       |   ihx.hgvs_c, ihp.hp9 AS hgvs_p, CAST(NULL AS VARCHAR) AS sift_pred,
       |   CAST(NULL AS VARCHAR) AS polyphen_pred,
       |   CAST(NULL AS VARCHAR) AS aas, CAST(NULL AS VARCHAR) AS cod,
       |   CAST(NULL AS BIGINT) AS dist, iterm.exon, iterm.intron,
       |   ihx.hgvs_offset
       |  FROM iterm LEFT JOIN ihx ON iterm.id = ihx.id
       |   AND iterm.transcript_id = ihx.transcript_id
       |   LEFT JOIN ihp ON iterm.id = ihp.id
       |   AND iterm.transcript_id = ihp.transcript_id),
       |bse AS (SELECT * FROM snv UNION ALL SELECT * FROM ind),
       |sp AS (SELECT id, transcript_id, list(DISTINCT consequence) AS sterms
       |  FROM (${spliceTermsSql(vcfCte, "v", exCte)}) q4 GROUP BY id, transcript_id),
       |fused AS (SELECT COALESCE(b.id, s.id) AS id,
       |   COALESCE(b.transcript_id, s.transcript_id) AS transcript_id,
       |   list_concat(list_filter([b.term, b.ut5, b.ut3,
       |     CASE WHEN b.term = 'incomplete_terminal_codon_variant'
       |      THEN 'coding_sequence_variant' END,
       |     CASE WHEN b.itc THEN 'incomplete_terminal_codon_variant' END,
       |     CASE WHEN b.ibody THEN 'intron_variant' END,
       |     CASE WHEN b.nmd THEN 'NMD_transcript_variant' END,
       |     CASE WHEN b.nc THEN 'non_coding_transcript_variant' END], x -> x IS NOT NULL),
       |    COALESCE(s.sterms, CAST([] AS VARCHAR[]))) AS terms,
       |   b.cdna_pos, b.cdna_end, b.cds_pos, b.protein_pos, b.hgvs_c, b.hgvs_p, b.sift_pred,
       |   b.polyphen_pred, b.aas, b.cod, b.dist, b.exon, b.intron, b.hgvs_offset,
       |   'Transcript' AS ftype, CAST(NULL AS VARCHAR) AS mname,
       |   CAST(NULL AS BIGINT) AS mpos, CAST(NULL AS VARCHAR) AS minf,
       |   CAST(NULL AS DOUBLE) AS mscore, CAST(NULL AS VARCHAR) AS fbt
       |  FROM bse b FULL OUTER JOIN sp s
       |   ON b.id = s.id AND b.transcript_id = s.transcript_id),
       |ud AS (SELECT v.id, t.transcript_id,
       |   [CASE WHEN (t.strand = 1 AND v."end" < t.start) OR (t.strand = -1 AND v.start > t."end")
       |     THEN 'upstream_gene_variant' ELSE 'downstream_gene_variant' END] AS terms,
       |   CAST(NULL AS BIGINT) AS cdna_pos, CAST(NULL AS BIGINT) AS cdna_end, CAST(NULL AS BIGINT) AS cds_pos,
       |   CAST(NULL AS BIGINT) AS protein_pos, CAST(NULL AS VARCHAR) AS hgvs_c,
       |   CAST(NULL AS VARCHAR) AS hgvs_p, CAST(NULL AS VARCHAR) AS sift_pred,
       |   CAST(NULL AS VARCHAR) AS polyphen_pred,
       |   CAST(NULL AS VARCHAR) AS aas, CAST(NULL AS VARCHAR) AS cod,
       |   GREATEST(t.start - v."end", v.start - t."end") AS dist,
       |   CAST(NULL AS VARCHAR) AS exon, CAST(NULL AS VARCHAR) AS intron,
       |   CAST(NULL AS BIGINT) AS hgvs_offset,
       |   'Transcript' AS ftype, CAST(NULL AS VARCHAR) AS mname,
       |   CAST(NULL AS BIGINT) AS mpos, CAST(NULL AS VARCHAR) AS minf,
       |   CAST(NULL AS DOUBLE) AS mscore, CAST(NULL AS VARCHAR) AS fbt
       |  FROM v JOIN t ON v.chrom = t.chrom
       |   AND t.start - ${opts.distance} <= v."end" AND t."end" + ${opts.distance} >= v.start
       |   AND NOT (v.start <= t."end" AND v."end" >= t.start)),
       |rge AS (SELECT v.id, rg.feature_id AS transcript_id,
       |   list_filter([CASE WHEN length(v.alt) < length(v.ref)
       |      AND v.norm_start <= rg.start AND v.norm_end >= rg."end"
       |      THEN 'regulatory_region_ablation' END,
       |     'regulatory_region_variant'], x -> x IS NOT NULL) AS terms,
       |   CAST(NULL AS BIGINT) AS cdna_pos, CAST(NULL AS BIGINT) AS cdna_end, CAST(NULL AS BIGINT) AS cds_pos,
       |   CAST(NULL AS BIGINT) AS protein_pos, CAST(NULL AS VARCHAR) AS hgvs_c,
       |   CAST(NULL AS VARCHAR) AS hgvs_p, CAST(NULL AS VARCHAR) AS sift_pred,
       |   CAST(NULL AS VARCHAR) AS polyphen_pred,
       |   CAST(NULL AS VARCHAR) AS aas, CAST(NULL AS VARCHAR) AS cod,
       |   CAST(NULL AS BIGINT) AS dist,
       |   CAST(NULL AS VARCHAR) AS exon, CAST(NULL AS VARCHAR) AS intron,
       |   CAST(NULL AS BIGINT) AS hgvs_offset,
       |   'RegulatoryFeature' AS ftype, CAST(NULL AS VARCHAR) AS mname,
       |   CAST(NULL AS BIGINT) AS mpos, CAST(NULL AS VARCHAR) AS minf,
       |   CAST(NULL AS DOUBLE) AS mscore, rg.feature_type AS fbt
       |  FROM v JOIN rg ON v.chrom = rg.chrom
       |   AND rg.start <= v."end" AND rg."end" >= v.start),
       |mte AS (${
        if (!opts.motifRich)
          // reference DEFAULT: ONE anonymous MotifFeature entry per
          // variant overlapping any motif; five motif slots empty
          """SELECT v.id, '' AS transcript_id,
            |   ['TF_binding_site_variant'] AS terms,
            |   CAST(NULL AS BIGINT) AS cdna_pos, CAST(NULL AS BIGINT) AS cdna_end, CAST(NULL AS BIGINT) AS cds_pos,
            |   CAST(NULL AS BIGINT) AS protein_pos, CAST(NULL AS VARCHAR) AS hgvs_c,
            |   CAST(NULL AS VARCHAR) AS hgvs_p, CAST(NULL AS VARCHAR) AS sift_pred,
            |   CAST(NULL AS VARCHAR) AS polyphen_pred,
            |   CAST(NULL AS VARCHAR) AS aas, CAST(NULL AS VARCHAR) AS cod,
            |   CAST(NULL AS BIGINT) AS dist,
            |   CAST(NULL AS VARCHAR) AS exon, CAST(NULL AS VARCHAR) AS intron,
            |   CAST(NULL AS BIGINT) AS hgvs_offset,
            |   'MotifFeature' AS ftype, CAST(NULL AS VARCHAR) AS mname,
            |   CAST(NULL AS BIGINT) AS mpos, CAST(NULL AS VARCHAR) AS minf,
            |   CAST(NULL AS DOUBLE) AS mscore, CAST(NULL AS VARCHAR) AS fbt
            |  FROM v WHERE EXISTS (SELECT 1 FROM mt WHERE v.chrom = mt.chrom
            |   AND mt.start <= v."end" AND mt."end" >= v.start)""".stripMargin
        else
          """SELECT v.id, mt.motif_id AS transcript_id,
            |   ['TF_binding_site_variant'] AS terms,
            |   CAST(NULL AS BIGINT) AS cdna_pos, CAST(NULL AS BIGINT) AS cdna_end, CAST(NULL AS BIGINT) AS cds_pos,
            |   CAST(NULL AS BIGINT) AS protein_pos, CAST(NULL AS VARCHAR) AS hgvs_c,
            |   CAST(NULL AS VARCHAR) AS hgvs_p, CAST(NULL AS VARCHAR) AS sift_pred,
            |   CAST(NULL AS VARCHAR) AS polyphen_pred,
            |   CAST(NULL AS VARCHAR) AS aas, CAST(NULL AS VARCHAR) AS cod,
            |   CAST(NULL AS BIGINT) AS dist,
            |   CAST(NULL AS VARCHAR) AS exon, CAST(NULL AS VARCHAR) AS intron,
            |   CAST(NULL AS BIGINT) AS hgvs_offset,
            |   'MotifFeature' AS ftype, mt.tf_name AS mname,
            |   GREATEST(v.start, mt.start) - mt.start + 1 AS mpos,
            |   CASE WHEN GREATEST(v.start, mt.start) - mt.start + 1 <= 3
            |    THEN 'Y' ELSE 'N' END AS minf,
            |   mt.score_change AS mscore, CAST(NULL AS VARCHAR) AS fbt
            |  FROM v JOIN mt ON v.chrom = mt.chrom
            |   AND mt.start <= v."end" AND mt."end" >= v.start""".stripMargin
      }),
       |itg AS (SELECT v.id, '' AS transcript_id,
       |   ['intergenic_variant'] AS terms,
       |   CAST(NULL AS BIGINT) AS cdna_pos, CAST(NULL AS BIGINT) AS cdna_end, CAST(NULL AS BIGINT) AS cds_pos,
       |   CAST(NULL AS BIGINT) AS protein_pos, CAST(NULL AS VARCHAR) AS hgvs_c,
       |   CAST(NULL AS VARCHAR) AS hgvs_p, CAST(NULL AS VARCHAR) AS sift_pred,
       |   CAST(NULL AS VARCHAR) AS polyphen_pred,
       |   CAST(NULL AS VARCHAR) AS aas, CAST(NULL AS VARCHAR) AS cod,
       |   CAST(NULL AS BIGINT) AS dist,
       |   CAST(NULL AS VARCHAR) AS exon, CAST(NULL AS VARCHAR) AS intron,
       |   CAST(NULL AS BIGINT) AS hgvs_offset,
       |   '' AS ftype, CAST(NULL AS VARCHAR) AS mname,
       |   CAST(NULL AS BIGINT) AS mpos, CAST(NULL AS VARCHAR) AS minf,
       |   CAST(NULL AS DOUBLE) AS mscore, CAST(NULL AS VARCHAR) AS fbt
       |  FROM v),
       |allent AS (SELECT * FROM fused UNION ALL SELECT * FROM ud
       |  UNION ALL SELECT * FROM rge UNION ALL SELECT * FROM mte
       |  UNION ALL SELECT * FROM itg WHERE NOT EXISTS (
       |   SELECT 1 FROM (SELECT id FROM fused WHERE len(terms) > 0
       |     UNION ALL SELECT id FROM ud WHERE len(terms) > 0) txe
       |   WHERE txe.id = itg.id)),
       |${exvCtes("c", opts)},
       |rend0 AS (SELECT *,
       |   ${Annotate.stripParentsSql(D, "terms", prefixed = false)} AS terms2
       |  FROM allent WHERE len(terms) > 0),
       |rend AS (SELECT id, transcript_id, cdna_pos, cdna_end, cds_pos, protein_pos,
       |   hgvs_c, hgvs_p, sift_pred, polyphen_pred, aas, cod, dist,
       |   exon, intron, hgvs_offset, ftype, mname, mpos, minf, mscore, fbt, terms2,
       |   list_contains(terms, 'mature_miRNA_variant') AS has_mirna,
       |   ${Annotate.termStrSql(D, "terms2")} AS termstr,
       |   ${Annotate.bestRankSql(D, "terms2")} AS best FROM rend0),
       |ent AS (SELECT rend.id, rend.best, rend.terms2, rend.transcript_id, rend.termstr,
       |   rend.hgvs_c, rend.hgvs_p, rend.sift_pred, rend.polyphen_pred,
       |   CASE rend.ftype WHEN 'Transcript' THEN 0 WHEN 'RegulatoryFeature' THEN 1
       |    WHEN 'MotifFeature' THEN 2 ELSE 3 END AS ftrank,
       |   ${graft.vep.Annotate.impactSql("rend.best")} AS impact,
       |   ${entConcatSql(opts)} AS entry
       |  FROM rend LEFT JOIN t ON rend.transcript_id = t.transcript_id
       |   JOIN v ON rend.id = v.id
       |   LEFT JOIN exv ON rend.id = exv.id),
       |lk AS (SELECT v.id, exv.variation_name,
       |   ${Annotate.afCsq.map { case (_, c) => s"exv.$c" }.mkString(", ")},
       |   exv.max_af, exv.max_af_pops
       |  FROM v LEFT JOIN exv ON v.id = exv.id)""".stripMargin.replace("\n", " ")
  }

  /** Transcript-selection oracle: the remapped ids through the
    * merged + exclude_predicted predicate (the fixture carries no
    * source/display_xref_id columns and no mitochondrial contigs, so
    * those arms resolve false on both engines). */
  private val transcriptSelectionSql: String =
    s"""WITH ${Oracle.transcripts},
       |tr AS (SELECT ${txSelectRemap("transcript_id")} AS transcript_id,
       |   chrom, strand FROM t)
       |SELECT transcript_id, chrom, strand FROM tr
       |WHERE length(transcript_id) > 0
       | AND NOT (substring(transcript_id, 1, 3) = 'XM_'
       |       OR substring(transcript_id, 1, 3) = 'XR_')
       | AND (CASE WHEN substring(transcript_id, 1, 2) IN ('NM', 'NR', 'XM', 'XR')
       |   THEN regexp_matches(transcript_id, '^[A-Z]{2}_[0-9]')
       |   ELSE substring(transcript_id, 1, 4) = 'ENST' END)
       |ORDER BY transcript_id""".stripMargin.replace("\n", " ")

  /** Multi-entry colocated oracle: the satellite cache union mirrored
    * in SQL, fed through the shared [[exvCtes]] chain. */
  private val existingMultiSql: String = {
    import graft.vep.Annotate
    s"""WITH ${Oracle.vcf}, ${Oracle.vepCache},
       |cs AS (SELECT * REPLACE (
       |   concat('3', substr(variation_name, 3, 30), ',4',
       |     substr(variation_name, 3, 30)) AS pubmed,
       |   CASE WHEN clin_sig_allele IS NOT NULL
       |    THEN concat(split_part(allele_string, '/', 2), ':likely_pathogenic')
       |   END AS clin_sig_allele,
       |   1.0 - af_afr AS af_afr,
       |   'likely_benign' AS clin_sig,
       |   '1' AS somatic,
       |   concat('COSM', substr(variation_name, 3, 30)) AS variation_name
       |  ) FROM c),
       |cu AS (SELECT * FROM c UNION ALL SELECT * FROM cs),
       |${exvCtes("cu")}
       |SELECT id, variation_name AS existing_variation, exsuffix AS csq_block,
       | ${Annotate.afCsq.map(_._2).mkString(", ")}, max_af, max_af_pops
       |FROM exv ORDER BY id""".stripMargin.replace("\n", " ")
  }

  private def e2eNameCase: String = {
    import graft.vep.Vep
    "CASE g.best " + Vep.soRank.map { case (n, r) => s"WHEN $r THEN '$n'" }
      .mkString(" ") + " ELSE 'intergenic_variant' END"
  }

  private def e2eCsqSql(ctes: String): String =
    s"""$ctes,
       |grp0 AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_transcripts,
       |   flatten(list(terms2)) AS ut,
       |   string_agg(entry, ',' ORDER BY ftrank, transcript_id, entry) AS csq FROM ent GROUP BY id),
       |grp AS (SELECT id, n_transcripts, csq,
       |   ${graft.vep.Annotate.collapsedBestSql(graft.vep.CodonLogic.DuckD, "ut", prefixed = false)} AS best
       |  FROM grp0)
       |SELECT lk.id, lk.variation_name,
       | ${graft.vep.Annotate.afCsq.map { case (_, c) => s"lk.$c" }.mkString(", ")},
       | lk.max_af, lk.max_af_pops,
       | $e2eNameCase AS most_severe_consequence,
       | COALESCE(g.n_transcripts, CAST(0 AS BIGINT)) AS n_transcripts,
       | COALESCE(g.csq, '') AS csq
       |FROM lk LEFT JOIN grp g ON lk.id = g.id ORDER BY lk.id""".stripMargin.replace("\n", " ")

  private lazy val annotateE2eSql: String = e2eCsqSql(e2eCtes)

  /** Options of the default-mode gate: the 74-field layout with the
    * 1000G AF + PUBMED flags only (which imply check_existing) and a
    * non-default distance — built from the same options_json string
    * the reference's annotate_vep 4th argument takes. */
  private[graft] val defaultModeJson: String =
    """{"af_1kg": true, "pubmed": true, "hgvsc": true, "distance": 3000}"""

  private lazy val annotateDefaultSql: String =
    e2eCsqSql(e2eCtesFor(graft.vep.VepOptions.fromJson(defaultModeJson)))

  /** Options of the shift_hgvs=false gate: full --everything with the
    * 3'-shift disabled, exactly the reference's options_json toggle. */
  private[graft] val noShiftJson: String =
    """{"everything": true, "shift_hgvs": false}"""

  private lazy val annotateNoShiftSql: String =
    e2eCsqSql(e2eCtesFor(graft.vep.VepOptions.fromJson(noShiftJson)))

  /** Options of the motif-parity gate: plain --everything — the
    * DEFAULT now renders the reference's exact motif shape (one
    * anonymous MotifFeature row per motif-overlapping variant,
    * `...|||||`), so this gate pins byte-level reference
    * comparability of the default output. */
  private[graft] val motifParityJson: String =
    """{"everything": true}"""

  private lazy val annotateMotifParitySql: String =
    e2eCsqSql(e2eCtesFor(graft.vep.VepOptions.fromJson(motifParityJson)))

  /** Options of the richer per-motif rendering (library extension
    * `motif_rich`): one Feature row per overlapped motif with
    * populated MOTIF_* slots. */
  private[graft] val motifRichJson: String =
    """{"everything": true, "motif_rich": true}"""

  private lazy val annotateMotifRichSql: String =
    e2eCsqSql(e2eCtesFor(graft.vep.VepOptions.fromJson(motifRichJson)))

  /** The splice-probe sweep as an annotate input: probe ids collide
    * across chromosomes (they encode only position and kind), so the
    * gate re-keys them with a chromosome bit and drops full-row
    * duplicates (shared exon-boundary coordinates on the same
    * chromosome produce identical probes). */
  private def probeVcf(s: SparkSession, d: String): DataFrame =
    probeVcfOver(Tables.exons(s, d))

  private def probeVcfOver(ex: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.spliceProbesOver(ex)
      .withColumn("id", col("id") * 2 +
        when(col("chrom") === "chr1", lit(1L)).otherwise(lit(0L)))
      .distinct()
  }

  /** DuckDB mirror of [[probeVcf]] as a `v`-defining CTE chain —
    * self-contained (re-derives the exon context under `spx`) so it
    * can replace `Oracle.vcf` in every nested layer oracle without
    * colliding with their own `ex` CTEs. */
  /** A `v`-defining probe CTE chain over the given exon-layout CTE
    * (named `spx`). The e2e oracle's splice-term aggregation CTE is
    * itself named `sp`, so the probe chain renames its CTE to `spv`
    * to avoid the top-level collision; ids re-key with a chromosome
    * bit and full-row duplicates drop (see [[probeVcfOver]]). */
  private def probeCteOver(exCte: String): String = {
    val probes = Oracle.spliceProbesFrom("spx").replaceFirst("sp AS ", "spv AS ")
    s"""$exCte, $probes,
       |v AS (SELECT DISTINCT spv.* REPLACE (spv.id * 2
       |  + CASE WHEN spv.chrom = 'chr1' THEN 1 ELSE 0 END AS id),
       |  regexp_replace(spv.chrom, '^chr', '') AS bare_chrom FROM spv)"""
      .stripMargin.replace("\n", " ")
  }

  private val probeVcfCte: String = probeCteOver(Oracle.exonsAs("spx"))

  private lazy val annotateProbesSql: String =
    e2eCsqSql(e2eCtesFor(graft.vep.VepOptions.Everything, probeVcfCte))

  /** Frameshift-intron gate fixtures: the same probe sweep over the
    * two-exon layout whose 10 bp midpoint intron is a VEP frameshift
    * intron ([[Tables.exonsFs]]) — pins the splice-window skip, the
    * coding_sequence_variant CDS arm, and the intron_variant body
    * exclusion through the oracle. */
  private val fsProbeVcfCte: String = probeCteOver(Oracle.exonsFsAs("spx"))

  private lazy val annotateFsIntronSql: String =
    e2eCsqSql(e2eCtesFor(graft.vep.VepOptions.Everything, fsProbeVcfCte,
      Oracle.exonsFsAs("ex")))

  /** Gate serialization of [[graft.vep.Annotate.annotateTypedFull]]:
    * List columns '~'-joined; float lists through fixed DECIMAL forms
    * that reproduce the CSQ slots' rendered strings exactly (the
    * oracle serializes the raw slot text). */
  private def serializeTypedFull(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val afNames = (graft.vep.Annotate.afCsq.map(_._1) :+ "MAX_AF").toSet
    val strArrays = (graft.vep.Annotate.typedFullListCols ++
      Seq("CLIN_SIG", "PUBMED", "TRANSCRIPTION_FACTORS",
        "clin_sig_allele", "clinvar_ids", "cosmic_ids", "dbsnp_ids")).toSet
    df.select(df.columns.toSeq.map {
      case c if afNames(c) =>
        array_join(transform(col(c), x =>
          coalesce(x.cast(DecimalType(5, 4)).cast("string"), lit(""))), "~").as(c)
      case c @ "MOTIF_SCORE_CHANGE" =>
        array_join(transform(col(c), x =>
          x.cast(DecimalType(3, 2)).cast("string")), "~").as(c)
      case c if strArrays(c) => array_join(col(c), "~").as(c)
      case c => col(c)
    }: _*)
  }

  /** DuckDB oracle of the full typed frame: the SAME derivation over
    * the e2e csq — per-entry field arrays split from the rendered
    * entries, serialized identically. */
  private lazy val typedFullSql: String = typedFullSqlFor(provider = false)
  private lazy val providerFrameSql: String = typedFullSqlFor(provider = true)

  private def typedFullSqlFor(provider: Boolean): String = {
    val names = graft.vep.Annotate.csqFieldNames
    def k(n: String): Int = {
      val i = names.indexOf(n); require(i >= 0, n); i + 1
    }
    def slotSer(n: String) =
      s"COALESCE(array_to_string(list_transform(flds, f -> f[${k(n)}]), '~'), '')"
    def scalar(n: String) =
      s"CASE WHEN len(flds) > 0 THEN flds[1][${k(n)}] END"
    def amp(n: String) =
      s"CASE WHEN len(flds) > 0 AND flds[1][${k(n)}] <> '' " +
        s"THEN array_to_string(string_split(flds[1][${k(n)}], '&'), '~') ELSE '' END"
    def joined(n: String, sep: String) =
      s"COALESCE(array_to_string(list_filter(list_transform(flds, f -> f[${k(n)}]), x -> x <> ''), '$sep'), '')"
    val (listA, listB) = graft.vep.Annotate.typedFullListCols.splitAt(20)
    val head =
      if (provider) Seq(
        "v.chrom AS chrom", "v.start AS start", "v.\"end\" AS \"end\"",
        "b.id AS id", "v.ref AS ref", "v.alt AS alt",
        "b.csq AS \"CSQ\"", "b.most_severe_consequence AS most_severe_consequence")
      else Seq("b.id AS id")
    val cols = head ++ Seq(s"""${scalar("Allele")} AS "Allele"""") ++
      listA.map(n => s"""${slotSer(n)} AS "$n"""") ++
      Seq(s"""${scalar("VARIANT_CLASS")} AS "VARIANT_CLASS"""") ++
      listB.map(n => s"""${slotSer(n)} AS "$n"""") ++
      graft.vep.Annotate.afCsq.map { case (n, _) => s"""${slotSer(n)} AS "$n"""" } ++
      Seq(s"""${slotSer("MAX_AF")} AS "MAX_AF"""",
        """b.max_af_pops AS "MAX_AF_POPS"""",
        s"""${amp("CLIN_SIG")} AS "CLIN_SIG"""",
        s"""${scalar("SOMATIC")} AS "SOMATIC"""",
        s"""${scalar("PHENO")} AS "PHENO"""",
        s"""${amp("PUBMED")} AS "PUBMED"""",
        s"""NULLIF(${joined("MOTIF_NAME", "&")}, '') AS "MOTIF_NAME"""",
        s"""NULLIF(${joined("MOTIF_POS", "&")}, '') AS "MOTIF_POS"""",
        s"""NULLIF(${joined("HIGH_INF_POS", "&")}, '') AS "HIGH_INF_POS"""",
        s"""${joined("MOTIF_SCORE_CHANGE", "~")} AS "MOTIF_SCORE_CHANGE"""",
        s"""${joined("TRANSCRIPTION_FACTORS", "~")} AS "TRANSCRIPTION_FACTORS"""")
    def xsplit(c: String, sep: String) =
      s"CASE WHEN xr.$c IS NULL OR xr.$c = '' THEN NULL " +
        s"ELSE array_to_string(list_transform(string_split(xr.$c, '$sep'), x -> trim(x)), '~') END"
    val xrefCols = Seq(
      s"""${xsplit("csa", ";")} AS "clin_sig_allele"""",
      """NULLIF(xr.ci, '') AS "clinical_impact"""",
      """NULLIF(xr.ma, '') AS "minor_allele"""",
      """xr.maf AS "minor_allele_freq"""",
      s"""${xsplit("cv", ",")} AS "clinvar_ids"""",
      s"""${xsplit("co", ",")} AS "cosmic_ids"""",
      s"""${xsplit("db", ",")} AS "dbsnp_ids"""")
    s"""WITH ${Oracle.vcf}, ${Oracle.vepCache},
       |xr0 AS (SELECT v.id, c.variation_name AS vn, c.clin_sig_allele AS csa,
       |   c.clinical_impact AS ci, c.minor_allele AS ma,
       |   c.minor_allele_freq AS maf, c.clinvar_id AS cv, c.cosmic_id AS co,
       |   c.dbsnp_id AS db,
       |   ROW_NUMBER() OVER (PARTITION BY v.id ORDER BY
       |     c.variation_name NULLS FIRST, c.clin_sig_allele NULLS FIRST,
       |     c.clinical_impact NULLS FIRST, c.minor_allele NULLS FIRST,
       |     c.minor_allele_freq NULLS FIRST, c.clinvar_id NULLS FIRST,
       |     c.cosmic_id NULLS FIRST, c.dbsnp_id NULLS FIRST) AS rn
       |  FROM v JOIN c ON v.bare_chrom = c.chrom
       |   AND v.norm_start = c.start AND v.norm_end = c."end"
       |   AND (split_part(c.allele_string, '/', 1) = v.vep_ref
       |        OR split_part(c.allele_string, '/', 1) = v.ref)
       |   AND split_part(c.allele_string, '/', 2) = v.vep_alt),
       |xr AS (SELECT * FROM xr0 WHERE rn = 1)
       |SELECT ${cols.mkString(", ")}, ${xrefCols.mkString(", ")} FROM (
       | SELECT q.*, CASE WHEN csq = '' THEN CAST([] AS VARCHAR[][])
       |  ELSE list_transform(string_split(csq, ','), e -> string_split(e, '|')) END AS flds
       | FROM ($annotateE2eSql) q) b
       |${if (provider) "JOIN v ON b.id = v.id" else ""}
       |LEFT JOIN xr ON b.id = xr.id ORDER BY b.id""".stripMargin.replace("\n", " ")
  }

  /** Typed List<T> columns variant of the e2e oracle: parallel arrays
    * in the entry-string sort order, '|'-serialized for the gate
    * (string_agg(... ORDER BY ftrank, transcript_id, entry) mirrors Spark's struct-sorted
    * collect followed by array_join). */
  private val typedColumnsSql: String =
    s"""$e2eCtes,
       |grp0 AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_transcripts,
       |   flatten(list(terms2)) AS ut,
       |   string_agg(transcript_id, '|' ORDER BY ftrank, transcript_id, entry) AS transcript_ids,
       |   string_agg(termstr, '|' ORDER BY ftrank, transcript_id, entry) AS consequences,
       |   string_agg(COALESCE(hgvs_c, ''), '|' ORDER BY ftrank, transcript_id, entry) AS hgvs_c,
       |   string_agg(COALESCE(hgvs_p, ''), '|' ORDER BY ftrank, transcript_id, entry) AS hgvs_p,
       |   string_agg(COALESCE(sift_pred, ''), '|' ORDER BY ftrank, transcript_id, entry) AS sift,
       |   string_agg(COALESCE(polyphen_pred, ''), '|' ORDER BY ftrank, transcript_id, entry) AS polyphen,
       |   string_agg(impact, '|' ORDER BY ftrank, transcript_id, entry) AS impact
       |  FROM ent GROUP BY id),
       |grp AS (SELECT * EXCLUDE (ut),
       |   ${graft.vep.Annotate.collapsedBestSql(graft.vep.CodonLogic.DuckD, "ut", prefixed = false)} AS best
       |  FROM grp0)
       |SELECT lk.id, lk.variation_name,
       | ${graft.vep.Annotate.afCsq.map { case (_, c) => s"lk.$c" }.mkString(", ")},
       | lk.max_af, lk.max_af_pops,
       | $e2eNameCase AS most_severe_consequence,
       | COALESCE(g.n_transcripts, CAST(0 AS BIGINT)) AS n_transcripts,
       | COALESCE(g.transcript_ids, '') AS transcript_ids,
       | COALESCE(g.consequences, '') AS consequences,
       | COALESCE(g.hgvs_c, '') AS hgvs_c,
       | COALESCE(g.hgvs_p, '') AS hgvs_p,
       | COALESCE(g.sift, '') AS sift,
       | COALESCE(g.polyphen, '') AS polyphen,
       | COALESCE(g.impact, '') AS impact
       |FROM lk LEFT JOIN grp g ON lk.id = g.id ORDER BY lk.id""".stripMargin.replace("\n", " ")

  private val polyphenSql: String =
    s"""WITH ${Oracle.transcripts}, ${Oracle.polyphenCtx},
       |codon AS (SELECT id, transcript_id, protein_pos, aa_alt FROM ($splicedCodonSql) q)
       |SELECT codon.id, codon.transcript_id, codon.protein_pos, codon.aa_alt,
       | pp.polyphen_score,
       | CASE WHEN pp.polyphen_score > 0.908 THEN 'probably_damaging'
       |  WHEN pp.polyphen_score > 0.446 THEN 'possibly_damaging'
       |  ELSE 'benign' END AS polyphen_prediction
       |FROM codon JOIN pp ON codon.transcript_id = pp.transcript_id
       | AND codon.protein_pos = pp.protein_pos AND codon.aa_alt = pp.aa
       |ORDER BY codon.id, codon.transcript_id""".stripMargin.replace("\n", " ")

  private val motifSql: String =
    s"""WITH ${Oracle.vcf}, ${Oracle.motifs}
       |SELECT v.id, mt.motif_id, mt.tf_name,
       | GREATEST(v.start, mt.start) - mt.start + 1 AS motif_pos,
       | CASE WHEN GREATEST(v.start, mt.start) - mt.start + 1 <= 3
       |  THEN 'Y' ELSE 'N' END AS high_inf_pos,
       | mt.score_change AS motif_score_change,
       | 'TF_binding_site_variant' AS consequence
       |FROM v JOIN mt ON v.chrom = mt.chrom
       | AND mt.start <= v."end" AND mt."end" >= v.start
       |ORDER BY v.id, mt.motif_id""".stripMargin.replace("\n", " ")

  private val svConsequenceSql: String = {
    def block(featCte: String, fidCol: String, ftype: String,
        abl: String, amp: String, delP: String, dupP: String, insT: String): String =
      s"""SELECT sv.id, f.$fidCol AS feature_id, '$ftype' AS feature_type,
         | CASE WHEN sv.alt = '<DEL>' AND sv.start <= f.start AND sv."end" >= f."end" THEN '$abl'
         |  WHEN sv.alt = '<DUP>' AND sv.start <= f.start AND sv."end" >= f."end" THEN '$amp'
         |  WHEN sv.alt = '<DEL>' THEN '$delP'
         |  WHEN sv.alt = '<DUP>' THEN '$dupP'
         |  ELSE '$insT' END AS consequence
         |FROM sv JOIN $featCte f ON sv.chrom = f.chrom
         | AND f.start <= sv."end" AND f."end" >= sv.start""".stripMargin.replace("\n", " ")
    s"""WITH ${Oracle.transcripts}, ${Oracle.motifs}, ${Oracle.regulatory}, ${Oracle.svProbes}
       |${block("t", "transcript_id", "transcript", "transcript_ablation",
         "transcript_amplification", "feature_truncation", "feature_elongation",
         "feature_elongation")}
       |UNION ALL
       |${block("mt", "motif_id", "motif", "TFBS_ablation", "TFBS_amplification",
         "TF_binding_site_variant", "TF_binding_site_variant", "TF_binding_site_variant")}
       |UNION ALL
       |${block("rg", "feature_id", "regulatory", "regulatory_region_ablation",
         "regulatory_region_amplification", "regulatory_region_variant",
         "regulatory_region_variant", "regulatory_region_variant")}
       |ORDER BY id, feature_type, feature_id""".stripMargin.replace("\n", " ")
  }

  private val hgvspIndelSql: String = {
    // Hgvsp.oracleSql opens with its own WITH for the variant view;
    // prepend the transcript CTE it requires via the variantCte slot.
    graft.vep.Hgvsp.oracleSql(s"${Oracle.transcripts}, ${Oracle.hgvspProbes}", "hp")
  }

  val oracleSql: Map[String, String] = Map(
    "f11_annotate_e2e" -> annotateE2eSql,
    "f11_typed_columns" -> typedColumnsSql,
    "f11_hgvsp_indel" -> hgvspIndelSql,
    "f11_polyphen" -> polyphenSql,
    "f11_motif" -> motifSql,
    "f11_sv_consequence" -> svConsequenceSql,
    "f11_cdna_hgvs" -> cdnaHgvsSql,
    "f11_spliced_codon" -> splicedCodonSql,
    "f11_shift3" -> shift3Sql,
    "f11_csq" -> csqSql,
    "f11_indel_hgvs" -> indelHgvsSqlFor(Oracle.vcf, "v"),
    "f11_indel_probes" -> indelHgvsSqlFor(Oracle.termProbes, "tp"),
    "f11_codon_probes" -> splicedCodonSqlFor(Oracle.termProbes, "tp"),
    "f11_splice_site" -> spliceTermsSql(Oracle.vcf, "v"),
    "f11_splice_probes" -> spliceTermsSql(Oracle.spliceProbes, "sp"),
    "f11_regulatory" -> regulatorySql,
    "f11_hgnc_propagation" ->
      s"""WITH ${Oracle.transcripts},
         |h AS (SELECT chrom, start, transcript_id, gene_id AS gene_stable_id,
         | CASE WHEN k % 30 = 20 THEN NULL ELSE symbol END AS gene_symbol,
         | CASE WHEN k % 30 = 20 THEN NULL
         |  WHEN k % 30 = 0 THEN 'HGNC' ELSE 'EntrezGene' END AS gene_symbol_source,
         | CASE WHEN k % 30 = 0
         |  THEN concat('HGNC:', CAST(k - k % 30 AS VARCHAR)) END AS gene_hgnc_id_native,
         | CASE WHEN k % 30 = 10 AND (k - k % 30) % 60 = 0
         |  THEN concat('HGNC:P', CAST(k AS VARCHAR)) END AS gene_hgnc_id
         | FROM (SELECT *, CAST(substr(transcript_id, 2) AS BIGINT) AS k FROM t)),
         |dnr AS (SELECT chrom, gene_symbol,
         | arg_min(gene_hgnc_id_native, printf('%020d|%s', start, transcript_id)) AS sym_hgnc
         | FROM h WHERE gene_hgnc_id_native IS NOT NULL AND gene_symbol IS NOT NULL
         | GROUP BY 1, 2),
         |gf AS (SELECT chrom, gene_stable_id,
         | arg_min(gene_symbol, printf('%020d|%s', start, transcript_id))
         |   FILTER (WHERE gene_symbol IS NOT NULL) AS g_sym,
         | arg_min(gene_symbol_source, printf('%020d|%s', start, transcript_id))
         |   FILTER (WHERE gene_symbol_source IS NOT NULL) AS g_src,
         | arg_min(gene_hgnc_id_native, printf('%020d|%s', start, transcript_id))
         |   FILTER (WHERE gene_hgnc_id_native IS NOT NULL) AS g_hgnc
         | FROM h GROUP BY 1, 2)
         |SELECT h.chrom, h.transcript_id,
         | COALESCE(h.gene_symbol, gf.g_sym) AS gene_symbol,
         | COALESCE(h.gene_symbol_source, gf.g_src) AS gene_symbol_source,
         | COALESCE(h.gene_hgnc_id_native, h.gene_hgnc_id, dnr.sym_hgnc, gf.g_hgnc)
         |  AS gene_hgnc_id
         |FROM h
         | LEFT JOIN dnr ON h.chrom = dnr.chrom AND h.gene_symbol = dnr.gene_symbol
         | LEFT JOIN gf ON h.chrom = gf.chrom AND h.gene_stable_id = gf.gene_stable_id
         |ORDER BY transcript_id""".stripMargin.replace("\n", " "),
    "f11_miss_worklist" -> missWorklistSql,
    "f11_sift" -> siftSql,
    "f11_maxaf" -> maxAfSql,
    "c_cachebuild_maxaf" -> maxAfSql,
    "f11_colocated" -> colocatedSql,
    "f11_existing_multi" -> existingMultiSql,
    "f11_annotate_default" -> annotateDefaultSql,
    "f11_annotate_noshift" -> annotateNoShiftSql,
    "f11_motif_parity" -> annotateMotifParitySql,
    "f11_motif_rich" -> annotateMotifRichSql,
    "f11_annotate_probes" -> annotateProbesSql,
    "f11_annotate_fsintron" -> annotateFsIntronSql,
    "f11_typed_full" -> typedFullSql,
    "f11_provider_frame" -> providerFrameSql,
    "f11_transcript_selection" -> transcriptSelectionSql,
    "s9_stream_annotate_tx" ->
      s"""WITH ${Oracle.transcripts}, ${Oracle.vcf}
         |SELECT v.id, t.transcript_id,
         | CASE WHEN v.start <= t."end" AND v."end" >= t.start THEN 'overlap'
         |  WHEN (t.strand = 1 AND v."end" < t.start)
         |    OR (t.strand = -1 AND v.start > t."end") THEN 'upstream'
         |  ELSE 'downstream' END AS relation,
         | CAST(CASE WHEN v.start <= t."end" AND v."end" >= t.start THEN 0
         |  ELSE GREATEST(t.start - v."end", v.start - t."end") END AS BIGINT) AS distance
         |FROM v JOIN t ON v.chrom = t.chrom
         | AND t.start - 5000 <= v."end" AND t."end" + 5000 >= v.start
         |ORDER BY v.id, t.transcript_id""".stripMargin.replace("\n", " "),
  )
}
