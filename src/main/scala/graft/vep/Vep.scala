package graft.vep

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** F10 `lookup_variants` — known-variant annotation
  * (bio-function-vep/src/lookup_provider.rs, variant_lookup_exec.rs),
  * re-expressed relationally (SURVEY.md §2 J6):
  *
  *   vcf LEFT JOIN cache
  *     ON chrom = cache.chrom
  *    AND vep_norm_start(pos,ref,alt) = cache.start
  *    AND vep_norm_end(pos,ref,alt)   = cache.end
  *   post-filtered by match_allele(ref, alt, cache.allele_string)
  *
  * The reference builds per-chromosome COITrees over the VCF and
  * streams the cache through them inside one custom ExecPlan; in Spark
  * the same computation is an equi-join on (chrom, norm coords) —
  * Catalyst plans a shuffled hash/sort-merge join that scales out, and
  * the allele matcher runs as a join-side predicate. Unmatched VCF rows
  * keep NULL cache columns (LEFT JOIN semantics,
  * variant_lookup_exec.rs:411-508).
  */
object Vep {

  /** The one allele-normalization UDF: each VCF record's trimmed
    * event ([[Allele.event]]) as a struct<norm_start, norm_end,
    * vep_ref, vep_alt>, staged once per site and read by field (plain
    * Scala UDF — the extension point the reference uses, allele.rs
    * create_udf). `asNonNullable`: it never returns null, and
    * advertising that matters — a nullable UDF output used in a join
    * condition makes InferFiltersFromConstraints add
    * `isnotnull(derivedCol)` probes whose pushdown SUBSTITUTES the
    * full derived expression tree (md5 shift scans, dup-context
    * windows) into a Filter below the repartition, re-evaluating it
    * per raw row in the single-partition scan stage (round-3: 8-10 s
    * single-task stages in f11_indel_hgvs / f11_csq). */
  val vepEvent = udf((pos: Long, ref: String, alt: String) =>
    Allele.event(pos, ref, alt)).asNonNullable()

  /** `df` plus its records' trimmed event (`_ev`, [[vepEvent]] at
    * `start`) and the event columns every consumer reads: `_nvs`/`_nve`
    * the normalized span and `_isins` the insertion flag. */
  private[vep] def withEvent(df: DataFrame, start: Column): DataFrame =
    df.select(col("*"), vepEvent(start, col("ref"), col("alt")).as("_ev"))
      .select(col("*"), col("_ev.norm_start").as("_nvs"), col("_ev.norm_end").as("_nve"),
        (col("_ev.vep_ref") === "-").as("_isins"))

  /** The miRNA CSQ field computed from the transcript's ncRNA
    * secondary structure and the variant's cDNA span —
    * annotate_provider.rs:1974-2095 `mirna_structure_field` (itself
    * Ensembl OutputFactory L1572-1612), unit-pinned there. Structure
    * format: optional `"start:end "` prefix, then dot-bracket with
    * RLE counts (`(19` = 19 stems, `.6` = 6 loops, bare char = 1).
    * Variant cDNA positions map to `pos - struct_start`; `(`/`)` →
    * miRNA_stem (emitted once PER SIDE — a span touching both stem
    * sides yields the term twice), `.` → miRNA_loop; sorted '&'-join.
    * Empty unless biotype is miRNA and a cDNA position is known. */
  private[graft] def mirnaStructureField(raw: String, biotype: String,
      cdnaStart: java.lang.Long, cdnaEnd: java.lang.Long): String = {
    if (biotype == null || biotype != "miRNA" || raw == null || raw.isEmpty ||
      cdnaStart == null || cdnaEnd == null) return ""
    val parts = raw.split("[\\s:]", 3)
    val (structStart, structStr) =
      if (parts.length >= 3 && parts(0).nonEmpty && parts(0).forall(_.isDigit) &&
        parts(1).nonEmpty && parts(1).forall(_.isDigit))
        (parts(0).toLong, parts(2))
      else (1L, raw)
    val expanded = new java.lang.StringBuilder
    var i = 0
    while (i < structStr.length) {
      val ch = structStr.charAt(i)
      if (ch == '(' || ch == ')' || ch == '.') {
        var count = 0
        var j = i + 1
        while (j < structStr.length && structStr.charAt(j).isDigit) {
          count = count * 10 + (structStr.charAt(j) - '0')
          j += 1
        }
        if (count == 0) count = 1
        var c = 0
        while (c < count) { expanded.append(ch); c += 1 }
        i = j
      } else i += 1
    }
    val cs = math.min(cdnaStart, cdnaEnd)
    val ce = math.max(cdnaStart, cdnaEnd)
    var open = false; var close = false; var loop = false
    var pos = cs
    while (pos <= ce) {
      if (pos >= structStart) {
        val idx = pos - structStart
        if (idx < expanded.length) expanded.charAt(idx.toInt) match {
          case '(' => open = true
          case ')' => close = true
          case '.' => loop = true
          case _ =>
        }
      }
      pos += 1
    }
    val terms = collection.mutable.ArrayBuffer[String]()
    if (open) terms += "miRNA_stem"
    if (close) terms += "miRNA_stem"
    if (loop) terms += "miRNA_loop"
    terms.sorted.mkString("&")
  }

  val mirnaStructureUdf = udf(mirnaStructureField _).asNonNullable()

  val matchAlleleUdf = udf((ref: String, alt: String, alleleString: String) =>
    Allele.matches(ref, alt, alleleString)).asNonNullable()
  val matchAlleleRelaxedUdf = udf((ref: String, alt: String, alleleString: String) =>
    Allele.matchesRelaxed(ref, alt, alleleString)).asNonNullable()

  /** S6 VCF sink: serialize an annotated variant table to VCF text
    * lines (vcf_sink.rs:1-60 role — the reference streams batches to a
    * file; here each partition renders independently, so
    * `lines.write.text(path)` scales out and a single-file export is
    * just coalesce(1)). INFO carries the annotation columns given in
    * `infoCols` as KEY=value;... pairs, '.' for NULLs. */
  def toVcfLines(df: DataFrame, infoCols: Seq[String]): DataFrame = {
    val info =
      if (infoCols.isEmpty) lit(".")
      else concat_ws(";", infoCols.map(c =>
        concat(lit(c.toUpperCase + "="), coalesce(col(c).cast("string"), lit(".")))): _*)
    df.select(concat_ws("\t",
      col("chrom"), col("start").cast("string"),
      coalesce(col("id").cast("string"), lit(".")),
      col("ref"), col("alt"), lit("."), lit("PASS"), info).as("line"))
  }

  /** Standard VCF header lines for [[toVcfLines]] output. */
  def vcfHeader(infoCols: Seq[String]): Seq[String] =
    Seq("##fileformat=VCFv4.2") ++
    infoCols.map(c => s"""##INFO=<ID=${c.toUpperCase},Number=1,Type=String,Description="$c">""") :+
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"

  /** Sharded VCF file sink with a LIVE progress callback — the last
    * piece of the reference's vcf_sink surface (vcf_sink.rs:19-20,
    * 65-69: a rows-written callback that drives tqdm in the Python
    * wrappers). Spark's distributed equivalent of that hook is a
    * LongAccumulator: every partition adds as it writes, the driver
    * polls the live value on a daemon thread and invokes `onProgress`
    * until the job completes (accumulator reads are driver-local —
    * no job, no shuffle, safe at any poll rate). Each shard carries
    * the full header, so every part-NNNNN.vcf is a valid standalone
    * VCF (the standard sharded layout, same as [[graft.sources.Bam
    * .writeShards]]). Returns total rows written. */
  def writeVcf(lines: DataFrame, path: String, header: Seq[String],
      onProgress: Long => Unit = null, pollMs: Long = 200): Long = {
    val spark = lines.sparkSession
    val acc = spark.sparkContext.longAccumulator("vcf_rows_written")
    val hconf = new graft.sources.SerializableHadoopConf(
      spark.sessionState.newHadoopConf())
    val fs0 = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path), hconf.value)
    fs0.delete(new org.apache.hadoop.fs.Path(path), true)
    fs0.mkdirs(new org.apache.hadoop.fs.Path(path))
    val poller = Option(onProgress).map { cb =>
      val t = new Thread(() => {
        try { while (true) { cb(acc.value); Thread.sleep(pollMs) } }
        catch { case _: InterruptedException => }
      })
      t.setDaemon(true); t.start(); t
    }
    try {
      val hdr = header
      lines.select(col("line")).rdd.foreachPartition { it =>
        val tc = org.apache.spark.TaskContext.get()
        val tid = tc.partitionId()
        val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path), hconf.value)
        // task-attempt commit protocol (round-13 ADVICE): write to an
        // attempt-unique temp name and rename into place only on
        // success — a speculative or zombie second attempt of this
        // partition can never interleave bytes into the final shard,
        // and a mid-write failure leaves only a .tmp file behind
        val fin = new org.apache.hadoop.fs.Path(path, f"part-$tid%05d.vcf")
        val tmp = new org.apache.hadoop.fs.Path(path,
          f".part-$tid%05d-attempt-${tc.taskAttemptId()}.vcf.tmp")
        val out = fs.create(tmp, true)
        val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(out, "UTF-8"))
        var ok = false
        try {
          hdr.foreach { h => w.write(h); w.write('\n') }
          it.foreach { r => w.write(r.getString(0)); w.write('\n'); acc.add(1) }
          ok = true
        } finally {
          w.close()
          if (ok) {
            fs.delete(fin, false) // a prior attempt's output, if any
            if (!fs.rename(tmp, fin))
              throw new java.io.IOException(s"could not commit $tmp -> $fin")
          } else fs.delete(tmp, false)
        }
      }
    } finally poller.foreach(_.interrupt())
    Option(onProgress).foreach(_(acc.value)) // final count, post-join
    acc.value
  }

  /** Annotated-VCF serialization (the reference's annotate output
    * writer): joins [[Annotate.annotate]]'s per-variant result back
    * onto the variant coordinates and renders `CSQ=` INFO lines, with
    * [[annotatedVcfHeader]] announcing the 80-field entry format.
    * Missing annotation renders `.` like any absent INFO value. */
  def toAnnotatedVcfLines(vcf: DataFrame, annotated: DataFrame): DataFrame = {
    val ann = annotated.select(col("id").as("_av_id"), col("csq").as("_av_csq"))
    val info = when(col("_av_csq").isNull || col("_av_csq") === "", lit("."))
      .otherwise(concat(lit("CSQ="), col("_av_csq")))
    vcf.join(ann, col("id") === col("_av_id"), "left")
      .select(concat_ws("\t",
        col("chrom"), col("start").cast("string"),
        coalesce(col("id").cast("string"), lit(".")),
        col("ref"), col("alt"), lit("."), lit("PASS"), info).as("line"))
  }

  /** Header for [[toAnnotatedVcfLines]]: fileformat + the CSQ INFO
    * format announcement + the column line. */
  def annotatedVcfHeader: Seq[String] =
    Seq("##fileformat=VCFv4.2", Annotate.csqInfoHeader,
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO")

  /** Register SQL-callable function names (lib.rs:91-102 equivalents). */
  def registerUdfs(spark: SparkSession): Unit = {
    spark.udf.register("vep_norm_start",
      (pos: Long, ref: String, alt: String) => Allele.event(pos, ref, alt).norm_start)
    spark.udf.register("vep_norm_end",
      (pos: Long, ref: String, alt: String) => Allele.event(pos, ref, alt).norm_end)
    spark.udf.register("vep_ref", (ref: String, alt: String) => Allele.vcfToVepAllele(ref, alt)._1)
    spark.udf.register("vep_alt", (ref: String, alt: String) => Allele.vcfToVepAllele(ref, alt)._2)
    spark.udf.register("match_allele", matchAlleleUdf)
    spark.udf.register("match_allele_relaxed", matchAlleleRelaxedUdf)
  }

  /** 3'-shifting of single-base indels over the derived reference
    * sequence (SURVEY.md §2.6 — the reference ports Ensembl's
    * shift-right-while-repeating rule into its lookup exec). An
    * insertion shifts right while the base at the insertion point
    * repeats the inserted base; a deletion while the base after the
    * deleted one repeats it. The scan is bounded by `maxShift`
    * ([[CodonLogic.shiftScan]], the JVM scan annotate's indel
    * classification runs; a multi-base allele never shifts).
    * Output: (id, chrom, norm_start, kind ins|del, allele, shift3,
    * shifted_start). */
  def shift3(vcf: DataFrame, maxShift: Int = 16): DataFrame = {
    val scan = udf((chrom: String, anchor: Long, allele: String) =>
      if (chrom == null) 0L
      else if (allele.length == 1) CodonLogic.shiftScan(chrom, anchor, allele.charAt(0), maxShift)
      else 1L)
    val v = withEvent(vcf.where(length(col("ref")) =!= length(col("alt"))),
      col("start").cast("long"))
    val staged = v
      .withColumn("_allele", when(col("_isins"), col("_ev.vep_alt")).otherwise(col("_ev.vep_ref")))
      .withColumn("_anchor", when(col("_isins"), col("_nvs")).otherwise(col("_nvs") + 1))
      .withColumn("_p0", scan(col("chrom"), col("_anchor"), col("_allele")))
    val shift = when(col("_p0") === 0, lit(maxShift.toLong)).otherwise(col("_p0") - 1)
    staged.select(col("id"), col("chrom"), col("_nvs").as("norm_start"),
      when(col("_isins"), lit("ins")).otherwise(lit("del")).as("kind"),
      col("_allele").as("allele"),
      shift.cast("long").as("shift3"),
      (col("_nvs") + shift).cast("long").as("shifted_start"))
  }

  /** Regulatory-feature overlap annotation (context table 4 of
    * partitioned_cache.rs:24-31; regulatory_region_variant at SO rank
    * 36). The feature table sits on the BUILD side of the interval
    * strategy's index probe (features, like transcripts, grow to ~10^5
    * per chromosome in a real genome — a contig-keyed hash join would
    * cross-product per contig; the index probe stays O(log n + hits)
    * per variant, the fix BASELINE.md bar #3 demands). */
  def annotateRegulatory(vcf: DataFrame, regulatory: DataFrame): DataFrame = {
    graft.plans.Graft.enable(vcf.sparkSession)
    val v = vcf.select(col("chrom").as("_vc"), col("start").cast("long").as("_vs"),
      col("end").cast("long").as("_ve"), col("id"))
    val r = regulatory.select(col("chrom").as("_rc"), col("start").cast("long").as("_rs"),
      col("end").cast("long").as("_re"), col("feature_id"), col("feature_type"))
    r.join(v,
        col("_rc") === col("_vc") && col("_rs") <= col("_ve") && col("_re") >= col("_vs"))
      .select(col("id"), col("feature_id"), col("feature_type"),
        lit("regulatory_region_variant").as("consequence"))
  }

  /** TF-motif overlap annotation (the `motif` context table of
    * partitioned_cache.rs:24-31; TF_binding_site_variant at SO rank
    * 35). Same probe shape as [[annotateRegulatory]] — motifs build
    * the broadcast index, variants probe. Adds the VEP-style motif
    * fields: MOTIF_POS (1-based offset of the variant within the
    * motif, clamped at the motif start) and HIGH_INF_POS ('Y' when the
    * variant hits the first three bases — the stand-in for the
    * position-weight-matrix high-information flag the real cache
    * carries). */
  def annotateMotif(vcf: DataFrame, motifs: DataFrame): DataFrame = {
    graft.plans.Graft.enable(vcf.sparkSession)
    val v = vcf.select(col("chrom").as("_mvc"), col("start").cast("long").as("_mvs"),
      col("end").cast("long").as("_mve"), col("id"))
    val m = motifs.select(col("chrom").as("_mc"), col("start").cast("long").as("_ms"),
      col("end").cast("long").as("_me"), col("motif_id"), col("tf_name"),
      col("score_change"))
    val motifPos = greatest(col("_mvs"), col("_ms")) - col("_ms") + 1
    m.join(v,
        col("_mc") === col("_mvc") && col("_ms") <= col("_mve") && col("_me") >= col("_mvs"))
      .select(col("id"), col("motif_id"), col("tf_name"),
        motifPos.as("motif_pos"),
        when(motifPos <= 3, lit("Y")).otherwise(lit("N")).as("high_inf_pos"),
        col("score_change").as("motif_score_change"),
        lit("TF_binding_site_variant").as("consequence"))
  }

  /** Structural-variant consequence classification for symbolic
    * alleles (<DEL>/<DUP>/<INS>) — the SV arm of the reference's
    * consequence engine that completes the 41-term vocabulary
    * ([[allSoTerms]] ranks 0/7/8/9 and 33/34/36/37, previously
    * unreachable; transcript_consequence.rs SV branches):
    *
    *   feature fully inside a <DEL>  → {transcript,TFBS,
    *     regulatory_region}_ablation
    *   feature fully inside a <DUP>  → ..._amplification
    *   partial <DEL> on a transcript → feature_truncation
    *   partial <DUP> / <INS> on a transcript → feature_elongation
    *   partial SV on a motif / regulatory feature → the plain
    *     TF_binding_site_variant / regulatory_region_variant
    *
    * Three feature classes probe one broadcast index each (features =
    * build side); output one row per (sv, overlapped feature):
    * (id, feature_id, feature_type, consequence). */
  def annotateSv(
      sv: DataFrame, transcripts: DataFrame,
      motifs: DataFrame, regulatory: DataFrame): DataFrame = {
    graft.plans.Graft.enable(sv.sparkSession)
    val v = sv.select(col("chrom").as("_sc"), col("start").cast("long").as("_ss"),
      col("end").cast("long").as("_se"), col("id"), col("alt").as("_salt"))
    def classify(features: DataFrame, fid: String, ftype: String,
        ablation: String, amplification: String,
        delPartial: String, dupPartial: String, insTerm: String): DataFrame = {
      val f = features.select(col("chrom").as("_fc"),
        col("start").cast("long").as("_fs"), col("end").cast("long").as("_fe"),
        col(fid).as("feature_id"))
      val full = col("_ss") <= col("_fs") && col("_se") >= col("_fe")
      f.join(v,
          col("_fc") === col("_sc") && col("_fs") <= col("_se") && col("_fe") >= col("_ss"))
        .select(col("id"), col("feature_id"), lit(ftype).as("feature_type"),
          when(col("_salt") === "<DEL>" && full, lit(ablation))
            .when(col("_salt") === "<DUP>" && full, lit(amplification))
            .when(col("_salt") === "<DEL>", lit(delPartial))
            .when(col("_salt") === "<DUP>", lit(dupPartial))
            .otherwise(lit(insTerm)).as("consequence"))
    }
    classify(transcripts, "transcript_id", "transcript",
        "transcript_ablation", "transcript_amplification",
        "feature_truncation", "feature_elongation", "feature_elongation")
      .unionByName(classify(motifs, "motif_id", "motif",
        "TFBS_ablation", "TFBS_amplification",
        "TF_binding_site_variant", "TF_binding_site_variant", "TF_binding_site_variant"))
      .unionByName(classify(regulatory, "feature_id", "regulatory",
        "regulatory_region_ablation", "regulatory_region_amplification",
        "regulatory_region_variant", "regulatory_region_variant", "regulatory_region_variant"))
  }

  /** Cache-miss worklist (miss_worklist.rs:8-31): variants the
    * known-variant lookup did NOT match, coalesced into per-chrom
    * intervals whenever misses sit within `gap` of each other — a
    * direct reuse of the F5 merge sweep, so the worklist computation
    * shuffles only on contig and scales like merge. Output:
    * (contig, pos_start, pos_end, n_intervals). */
  def missWorklist(vcf: DataFrame, cache: DataFrame, gap: Long = 1000L): DataFrame = {
    val looked = lookupKeyed(vcf, cache, columns = Seq("variation_name"))
    val miss = looked.where(col("cache_variation_name").isNull)
      .select(col("chrom").as("contig"), col("_ev.norm_start").as("pos_start"),
        col("_ev.norm_start").as("pos_end"))
    graft.ranges.Ranges.merge(miss, minDist = gap)
  }

  /** Pushdown predicate scoping a context load to a miss worklist
    * (miss_worklist.rs:12,67-95 interval_filter_sql): an OR of
    * per-interval (chrom AND range) clauses, each chrom in BOTH its
    * bare and chr-prefixed spelling (context tables differ in
    * convention); above `maxClauses` intervals it falls back to the
    * chrom-only IN filter — the reference avoids overflowing the
    * planner with giant OR trees, and Catalyst prunes partitions/row
    * groups with either form. An empty worklist yields `false` (no
    * misses, load nothing). Apply as `context.where(filter)`. */
  def missWorklistFilter(
      intervals: Seq[(String, Long, Long)], maxClauses: Int = 50)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    def spellings(c: String): Seq[String] = {
      val bare = c.stripPrefix("chr")
      Seq(bare, "chr" + bare).distinct
    }
    if (intervals.isEmpty) lit(false)
    else if (intervals.size > maxClauses) {
      val chroms = intervals.map(_._1).flatMap(spellings).distinct
      col("chrom").isin(chroms: _*)
    } else
      intervals.map { case (c, lo, hi) =>
        spellings(c).map(cv =>
          col("chrom") === cv && col("start") <= hi && col("end") >= lo)
          .reduce(_ || _)
      }.reduce(_ || _)
  }

  /** Default output columns: all cache columns minus the join triple
    * and `source_*` bookkeeping (vep/src/table_function.rs:82-94). */
  private def defaultCacheCols(cache: DataFrame): Seq[String] =
    cache.columns.toSeq.filterNot(c =>
      c == "chrom" || c == "start" || c == "end" || c.startsWith("source_"))

  /** The reference's complete SO consequence vocabulary in severity
    * order (so_terms.rs:58-100 ALL_SO_TERMS; index = severity rank,
    * smaller = more severe). Term strings match so_terms.rs `as_str`
    * exactly (including `5_prime_UTR_variant` / `NMD_transcript_variant`
    * capitalization). */
  val allSoTerms: Seq[String] = Seq(
    "transcript_ablation", "splice_acceptor_variant", "splice_donor_variant",
    "stop_gained", "frameshift_variant", "stop_lost", "start_lost",
    "transcript_amplification", "feature_elongation", "feature_truncation",
    "inframe_insertion", "inframe_deletion", "missense_variant",
    "protein_altering_variant", "splice_donor_5th_base_variant",
    "splice_region_variant", "splice_donor_region_variant",
    "splice_polypyrimidine_tract_variant", "incomplete_terminal_codon_variant",
    "start_retained_variant", "stop_retained_variant", "synonymous_variant",
    "coding_sequence_variant", "mature_miRNA_variant", "5_prime_UTR_variant",
    "3_prime_UTR_variant", "non_coding_transcript_exon_variant",
    "intron_variant", "NMD_transcript_variant", "non_coding_transcript_variant",
    "coding_transcript_variant", "upstream_gene_variant",
    "downstream_gene_variant", "TFBS_ablation", "TFBS_amplification",
    "TF_binding_site_variant", "regulatory_region_ablation",
    "regulatory_region_amplification", "regulatory_region_variant",
    "intergenic_variant", "sequence_variant")

  /** severity rank per term (position in [[allSoTerms]]). */
  val soRank: Map[String, Int] = allSoTerms.zipWithIndex.toMap

  /** F11 (region layer): annotate each variant with its most severe
    * region-level consequence against transcript/exon context —
    * the geometric subset of the reference's consequence engine
    * (annotate_provider.rs; upstream/downstream distance default 5000,
    * annotate_provider.rs:2399-2415):
    *
    *  - in an exon of an overlapping transcript:
    *    `coding_sequence_variant` (protein_coding) /
    *    `non_coding_transcript_exon_variant`
    *  - in an overlapping transcript but no exon: `intron_variant`
    *  - within `upstreamDistance` of a transcript, strand-aware:
    *    `upstream_gene_variant` / `downstream_gene_variant`
    *  - no transcript in range: `intergenic_variant`
    *
    * Relational shape: broadcast the (small) transcript/exon context,
    * one equi-join on chrom with a distance predicate, exon existence
    * via aggregation — every stage spills and scales; for huge
    * contexts swap the join for Ranges.overlapPartitioned.
    *
    * @param transcripts (chrom, start, end, transcript_id, strand Int
    *                    (1/-1), biotype)
    * @param exons       (transcript_id, start, end)
    * @return vcf columns + most_severe_consequence + n_transcripts */
  def annotateRegions(
      vcf: DataFrame, transcripts: DataFrame, exons: DataFrame,
      upstreamDistance: Long = 5000L): DataFrame = {
    val d = upstreamDistance
    graft.plans.Graft.enable(vcf.sparkSession)
    val v = vcf.select(col("chrom").as("_vc"), col("start").cast("long").as("_vs"),
      col("end").cast("long").as("_ve"), col("id").as("_vid"),
      col("ref").as("_vref"), col("alt").as("_valt"))
    val t = transcripts.select(col("chrom").as("_tc"), col("start").cast("long").as("_ts"),
      col("end").cast("long").as("_te"), col("transcript_id").as("_tid"),
      col("strand").as("_strand"), col("biotype").as("_bt"),
      col("cds_start").cast("long").as("_cs"), col("cds_end").cast("long").as("_ce"))
    // transcripts (small side, LEFT) become the strategy's broadcast
    // per-contig index, widened by the up/downstream reach; variants
    // probe it — never a contig-keyed hash join (= per-contig cross
    // product at genome-scale context density, BASELINE.md bar #3)
    val cand = t.join(v,
      col("_tc") === col("_vc") &&
      col("_ts") - d <= col("_ve") && col("_te") + d >= col("_vs"))
    val ex = exons.select(col("transcript_id").as("_etid"),
      col("start").cast("long").as("_es"), col("end").cast("long").as("_ee"))
    val exOverlap = col("_es") <= col("_ve") && col("_ee") >= col("_vs")
    // join widened by the 8bp splice-region reach; in-exon vs
    // near-splice distinguished in the aggregate
    val withExon = cand.join(broadcast(ex),
        col("_tid") === col("_etid") &&
        col("_es") - 8 <= col("_ve") && col("_ee") + 8 >= col("_vs"),
        "left")
      .groupBy(col("_vid"), col("_tid"), col("_vc"), col("_vs"), col("_ve"),
        col("_ts"), col("_te"), col("_strand"), col("_bt"), col("_cs"), col("_ce"),
        col("_vref"), col("_valt"))
      .agg(
        max(when(col("_etid").isNotNull && exOverlap, 1).otherwise(0)).as("_in_exon"),
        max(when(col("_etid").isNotNull && !exOverlap, 1).otherwise(0)).as("_near_splice"))
    val overlaps = col("_vs") <= col("_te") && col("_ve") >= col("_ts")
    val upstream = (col("_strand") === 1 && col("_ve") < col("_ts")) ||
      (col("_strand") === -1 && col("_vs") > col("_te"))
    val inCodingExon = overlaps && col("_in_exon") === 1 && Splice.isCodingBt(col("_bt"))
    // codon layer: SNVs inside the CDS span get protein-level terms
    // from the derived reference sequence (CodonLogic)
    val snv = Splice.isSnv(col("_vref"), col("_valt"))
    val inCds = inCodingExon && col("_vs") >= col("_cs") && col("_ve") <= col("_ce")
    val (refCodonSql, altCodonSql) = CodonLogic.codons(
      CodonLogic.SparkD, "_vc", "_vs", "_cs", "_strand", "_valt")
    // codons materialized as columns so the md5-bearing expressions are
    // evaluated once per candidate, not re-inlined into every term
    // branch (CollapseProject keeps non-cheap projections separate);
    // translation is then cheap index arithmetic that stays codegen'd
    val aaRef = col("_aaref"); val aaAlt = col("_aaalt")
    // indel classes inside the CDS need only length arithmetic
    // (so_terms.rs: frameshift rank 4, inframe ins/del 10/11)
    val lenDiff = length(col("_valt")) - length(col("_vref"))
    // mature miRNA region for biotype=miRNA: derived middle sub-span
    // [ts + span/3, ts + span/2] (stands in for the cache's
    // mature_mirna_regions attribute, annotate_provider.rs:2683)
    val mStart = expr("_ts + (_te - _ts) DIV 3")
    val mEnd = expr("_ts + (_te - _ts) DIV 2")
    val matureOv = col("_vs") <= mEnd && col("_ve") >= mStart
    val term =
      when(inCds && snv && aaAlt === "*" && aaRef =!= "*", lit("stop_gained"))
      .when(inCds && snv && aaRef === "*" && aaAlt =!= "*", lit("stop_lost"))
      .when(inCds && snv && aaRef === aaAlt, lit("synonymous_variant"))
      .when(inCds && snv, lit("missense_variant"))
      .when(inCds && lenDiff % 3 =!= 0, lit("frameshift_variant"))
      .when(inCds && lenDiff > 0, lit("inframe_insertion"))
      .when(inCds && lenDiff < 0, lit("inframe_deletion"))
      // remaining in-CDS class = length-preserving MNV — the
      // reference's protein_altering_variant catch-all
      // (transcript_consequence.rs:2030-2087)
      .when(inCds, lit("protein_altering_variant"))
      .when(inCodingExon && col("_ve") < col("_cs"),
        when(col("_strand") === 1, lit("5_prime_UTR_variant"))
          .otherwise(lit("3_prime_UTR_variant")))
      .when(inCodingExon && col("_vs") > col("_ce"),
        when(col("_strand") === 1, lit("3_prime_UTR_variant"))
          .otherwise(lit("5_prime_UTR_variant")))
      .when(inCodingExon, lit("coding_sequence_variant"))
      // miRNA exonic + in the mature region suppresses nc-exon
      // (transcript_consequence.rs:1219-1231)
      .when(overlaps && col("_in_exon") === 1 && col("_bt") === "miRNA" && matureOv,
        lit("mature_miRNA_variant"))
      .when(overlaps && col("_in_exon") === 1, lit("non_coding_transcript_exon_variant"))
      .when(overlaps && col("_near_splice") === 1, lit("splice_region_variant"))
      .when(overlaps, lit("intron_variant"))
      .when(upstream, lit("upstream_gene_variant"))
      .otherwise(lit("downstream_gene_variant"))
    val rank = soRank.foldLeft(lit(39)) { case (acc, (name, r)) =>
      when(col("_term") === name, lit(r)).otherwise(acc)
    }
    // transcript-class companion terms, '&'-joined into the entry
    // (VEP's multi-term Consequence convention):
    // NMD_transcript_variant rides on every overlap of an NMD
    // transcript (transcript_consequence.rs:1337-1339);
    // non_coding_transcript_variant when a non-coding transcript is
    // hit outside its exons (:1340-1350 — suppressed by nc-exon /
    // mature-miRNA, which require in_exon)
    val nmd = col("_bt") === "nonsense_mediated_decay" && overlaps
    val ncTranscript = !Splice.isCodingBt(col("_bt")) && overlaps &&
      col("_in_exon") === 0
    val termsStr = concat(col("_term"),
      when(nmd, lit("&NMD_transcript_variant")).otherwise(lit("")),
      when(ncTranscript, lit("&non_coding_transcript_variant")).otherwise(lit("")))
    val fullRank = least(col("_rank"),
      when(nmd, lit(soRank("NMD_transcript_variant"))),
      when(ncTranscript, lit(soRank("non_coding_transcript_variant"))))
    val perVariant = withExon
      .withColumn("_refcodon", expr(refCodonSql))
      .withColumn("_altcodon", expr(altCodonSql))
      .withColumn("_aaref", expr(CodonLogic.aa(CodonLogic.SparkD, "_refcodon")))
      .withColumn("_aaalt", expr(CodonLogic.aa(CodonLogic.SparkD, "_altcodon")))
      .withColumn("_term", term)
      .withColumn("_rank", rank)
      .groupBy(col("_vid"))
      .agg(min(fullRank).as("_best"), count(lit(1)).as("n_transcripts"),
        array_join(array_sort(collect_list(
          concat(col("_tid"), lit(":"), termsStr))), "|").as("csq"))
    val rankToName = soRank.foldLeft(lit("intergenic_variant")) { case (acc, (name, r)) =>
      when(col("_best") === r, lit(name)).otherwise(acc)
    }
    vcf.join(perVariant, vcf("id") === col("_vid"), "left")
      .select((vcf.columns.toSeq.map(col) :+
        coalesce(rankToName, lit("intergenic_variant")).as("most_severe_consequence") :+
        coalesce(col("n_transcripts"), lit(0L)).as("n_transcripts") :+
        coalesce(col("csq"), lit("")).as("csq")): _*)
  }

  /** @param vcf    columns per FIXTURES.md §4 (chrom, start, ref, alt, …)
    * @param cache  columns per FIXTURES.md §5 (chrom, start, end,
    *               variation_name, allele_string, …)
    * @param columns cache columns to emit (`cache_*`-prefixed);
    *               default = all minus join/bookkeeping columns
    * @param relaxed use the indel-aware relaxed matcher */
  /** Contig-name normalization for lookup joins — the VCF SIDE ONLY
    * (variant_lookup_exec.rs:979-985 + lookup_provider.rs
    * has_chr_prefix): the reference samples the VCF's convention and
    * strips its `chr` prefix so a chr-prefixed VCF matches an Ensembl
    * bare-name cache ("chr1" ↔ "1" — the normal real-world pairing);
    * the CACHE chrom is always probed raw, so a bare-name VCF never
    * matches a chr-prefixed cache, and a cache carrying both "chr1"
    * and "1" keeps them distinct. This library applies the strip
    * per-row rather than per-table (the reference's table-level
    * `vcf_has_chr` flag is a one-row sample; per-row is identical for
    * any single-convention VCF and strictly saner for a mixed one). */
  private[vep] def bareChrom(c: Column): Column =
    when(c.startsWith("chr"), c.substr(lit(4), lit(Integer.MAX_VALUE)))
      .otherwise(c)

  def lookupVariants(
      vcf: DataFrame, cache: DataFrame,
      columns: Seq[String] = Nil,
      relaxed: Boolean = false,
      extendedWindow: Long = 0L,
      allowedFailed: Long = 0L): DataFrame =
    lookupKeyed(vcf, cache, columns, relaxed, extendedWindow, allowedFailed).drop("_ev")

  /** The VCF side of every lookup-shaped join ([[lookupVariants]],
    * [[missWorklist]], [[Annotate.colocated]]): the trimmed event
    * ([[withEvent]]) at the 1-BASED start — coordinate-system
    * alignment (coordinate.rs:34-66 + the lookup_provider metadata
    * tests): a `bio.coordinate_system_zero_based` tag shifts start up
    * one, `end` is identical in both conventions ([s, e) == [s+1, e]);
    * untagged frames are 1-based — plus the bare contig. */
  private[vep] def lookupVcfKeys(vcf: DataFrame): DataFrame =
    withEvent(vcf, graft.core.Coord.oneBasedStart(vcf))
      .withColumn("_bare_chrom", bareChrom(col("chrom")))

  /** The cache side of the same joins: the Ensembl failed-variant
    * filter (variant_lookup_exec.rs:1210-1221, itself VEP's
    * filter_variation — entries whose `failed` count exceeds
    * `allowedFailed` are skipped; a cache without the column skips
    * nothing), 1-based keys, and the `out` columns as `_c_out_*`. */
  private[vep] def lookupCacheKeys(cache: DataFrame, out: Seq[String],
      allowedFailed: Long = 0L): DataFrame = {
    val kept =
      if (cache.columns.contains("failed"))
        cache.where(coalesce(col("failed").cast("long"), lit(0L)) <= allowedFailed)
      else cache
    kept.select(
      (Seq(col("chrom").as("_c_chrom"),
           graft.core.Coord.oneBasedStart(kept).as("_c_start"),
           col("end").cast("long").as("_c_end"), col("allele_string").as("_c_allele_string")) ++
       out.map(n => col(n).as(s"_c_out_$n"))): _*)
  }

  /** The lookup equi-join keys over [[lookupVcfKeys]] x [[lookupCacheKeys]]. */
  private[vep] def lookupKeysMatch: Column =
    col("_bare_chrom") === col("_c_chrom") &&
      col("_nvs") === col("_c_start") && col("_nve") === col("_c_end")

  /** [[lookupVariants]] keeping each variant's trimmed event (`_ev`). */
  private[vep] def lookupKeyed(
      vcf: DataFrame, cache: DataFrame,
      columns: Seq[String] = Nil,
      relaxed: Boolean = false,
      extendedWindow: Long = 0L,
      allowedFailed: Long = 0L): DataFrame = {
    // eager cache-contract checks (schema_contract.rs:10-90): the
    // required column/type set, then any explicitly-requested output
    // columns — schema-only, no job launched
    SchemaContract.validateVariationCache(cache)
    SchemaContract.validateRequestedColumns(cache, columns)
    val outCols = if (columns.nonEmpty) columns else defaultCacheCols(cache)
    val matcher = if (relaxed) matchAlleleRelaxedUdf else matchAlleleUdf
    val v = lookupVcfKeys(vcf)
    val c = lookupCacheKeys(cache, outCols, allowedFailed)
    val out: Seq[Column] = vcf.columns.toSeq.map(col) ++ (col("_ev") +:
      outCols.map(n => col(s"_c_out_$n").as(s"cache_$n")))
    if (extendedWindow <= 0) {
      val joined = v.join(c,
        lookupKeysMatch && matcher(v("ref"), v("alt"), col("_c_allele_string")), "left")
      joined.select(out: _*)
    } else {
      // extended_probes mode (J6 reusing J1's partitioned shape): the
      // probe interval widens by the window, the join runs on
      // (chrom, fixed-width bucket) equality - a plain shuffled
      // equi-join at any scale, never a per-chrom cross product - with
      // the range predicate in-bucket and a canonical-bucket condition
      // deduplicating spans. LEFT semantics restored by an anti-join
      // union (unmatched VCF rows keep NULL cache columns).
      val bw = 64L
      // internal per-row id for the LEFT-restore anti-join: the
      // caller's `id` column may be duplicated or null (round-2/3
      // ADVICE — duplicate ids dropped unmatched twins), so key the
      // restore on a synthesized id. Both branches of the DAG
      // re-evaluate this projection, so the id MUST be deterministic:
      // monotonically_increasing_id (rounds 4-6) depends on partition
      // layout and could disagree between the branches under task
      // retries/speculation or an upstream exchange, silently dropping
      // or duplicating restored rows. row_number over a deterministic
      // window is stable across re-executions — the ordering key is
      // EVERY input column, so ties are bit-identical rows, for which
      // any tie order yields the same multiset output. Partitioned by
      // (chrom, 1Mb tile of the normalized start) so no single
      // partition sorts the whole table at scale; the tile joins the
      // row number in a struct to keep ids globally unique.
      val tile = floor(col("_nvs") / 1000000L)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(v("chrom"), tile)
        .orderBy(vcf.columns.map(col).toSeq: _*)
      val vr = v.withColumn("_rowid",
        struct(v("chrom"), tile.as("_tile"), row_number().over(w).as("_rn")))
      val vb = vr
        .withColumn("_lo", col("_nvs") - extendedWindow)
        .withColumn("_hi", col("_nve") + extendedWindow)
        .withColumn("_bkt", explode(sequence(
          floor(col("_lo") / bw).cast("long"), floor(col("_hi") / bw).cast("long"))))
      val cb = c.withColumn("_cbkt", explode(sequence(
        floor(col("_c_start") / bw).cast("long"), floor(col("_c_end") / bw).cast("long"))))
      val matched = vb.join(cb,
          vb("_bare_chrom") === cb("_c_chrom") && col("_bkt") === col("_cbkt") &&
          col("_c_start") <= col("_hi") && col("_c_end") >= col("_lo") &&
          floor(greatest(col("_lo"), col("_c_start")) / bw).cast("long") === col("_bkt") &&
          matcher(vb("ref"), vb("alt"), col("_c_allele_string")))
      val unmatched = vr
        .join(matched.select(vb("_rowid").as("_mid")).distinct(),
          col("_rowid") === col("_mid"), "left_anti")
      val nulls = outCols.foldLeft(unmatched) { (df, n) =>
        df.withColumn(s"_c_out_$n", lit(null).cast(c.schema(s"_c_out_$n").dataType))
      }
      matched.select(out: _*).unionByName(nulls.select(out: _*))
    }
  }
}
