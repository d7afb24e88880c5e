package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pileup.Pileup
import graft.vep.Vep

/** Pileup (F9) + VEP lookup (F10) gate entries. */
object PileupVepQueries {
  import Oracle.{reads, vcf, vepCache}

  /** Full cache payload projection of the lookup joins (mirrors
    * Vep.defaultCacheCols over the widened fixture): the oracle SELECT
    * fragment is generated from the same [[Tables.cacheExt]] list the
    * fixture splices in, so widening the cache widens both engines. */
  private val cacheOut: String =
    (Seq("variation_name", "allele_string", "af", "af_afr", "af_amr", "af_eas",
      "af_eur", "af_sas", "af_gnomad", "clin_sig") ++ Tables.cacheExt.map(_._1))
      .map(n => s"c.$n AS cache_$n").mkString(", ")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // NOTE (round 18): trailing orderBy dropped from the depth gates —
    // the oracle gate compares a canonicalized row MULTISET (driver
    // recomputes both sides each round), so global output order is not
    // part of what the query computes, and the range exchange it cost
    // (sampling pass + single-task sort over the full block set) was
    // ~0.5-0.8 s per gate at sf0.1.
    "f9_depth_blocks" -> ((s, d) =>
      Pileup.depth(Tables.reads(s, d))),
    "f9_depth_perbase" -> ((s, d) =>
      Pileup.depthPerBase(Tables.reads(s, d))),
    "f9_depth_mapq" -> ((s, d) =>
      Pileup.depth(Tables.reads(s, d), minMapq = 30)),
    // the reference UDTF's zero_based=true mode: every block boundary
    // one below the 1-based run (table_function.rs:97-109); the output
    // tag itself is asserted in PileupVepSuite (DuckDB drops metadata)
    "f9_depth_zerobased" -> ((s, d) =>
      Pileup.depth(Tables.reads(s, d), zeroBased = true)),
    // S2 binary-CIGAR contract end-to-end: repack the text CIGARs into
    // the BAM binary layout (LE u32 = len<<4|op); the depth operator
    // detects the binary column and must produce the identical blocks
    // (oracle = the f9_depth_blocks SQL).
    "f9_depth_binary" -> ((s, d) => {
      val pack = udf { (len: Int) =>
        val v = len << 4 // op M = 0
        Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
          ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
      }
      val binReads = Tables.reads(s, d).withColumn("cigar",
        pack(expr("CAST(substring(cigar, 1, length(cigar) - 1) AS INT)")))
      Pileup.depth(binReads)
    }),
    // S2 full BAM round-trip: the reads fixture serializes to a
    // directory of REAL per-partition BAM shards (BGZF container,
    // spec record layout — graft.sources.Bam), reads back through the
    // BamDataSource DSv2 scan (binary packed CIGAR), and runs depth
    // over the scan. Oracle = the same depth SQL over the parquet
    // fixture, so the gate pins the whole binary codec + source
    // against an independent engine.
    "s2_bam_depth" -> ((s, d) => {
      val refs = (0 to 3).map(i => (s"chr$i", 600000))
      val tmp = graft.core.Scratch.dir(s"bam_${Integer.toHexString(d.hashCode)}")
      graft.sources.Bam.writeShards(Tables.reads(s, d), tmp, refs)
      val back = s.read.format("graft.sources.BamDataSource")
        .option("path", tmp).load()
      Pileup.depth(back.select(col("chrom"), col("start"), col("flags"),
        col("cigar"), col("mapping_quality")))
    }),
    "f10_vep_allele" -> ((s, d) =>
      Tables.vcf(s, d)
        .select(col("id"), Vep.vepEvent(col("start"), col("ref"), col("alt")).as("_ev"))
        .select(col("id"), col("_ev.vep_ref"), col("_ev.vep_alt"),
          col("_ev.norm_start"), col("_ev.norm_end"))),
    "f10_lookup_variants" -> ((s, d) =>
      Vep.lookupVariants(Tables.vcf(s, d), Tables.vepCache(s, d))),
    // cache_builder round trip (the writer half of the reference's
    // raw-cache ETL, cache_builder.rs:1-30): the variation table goes
    // THROUGH CacheBuilder's partitioned layout on disk and the
    // standard lookup runs over the rebuilt directory — oracle and
    // result hash identical to f10_lookup_variants
    "c_cachebuild_lookup" -> ((s, d) => {
      val out = graft.vep.CacheBuilder.roundTripDir(d, "lookup")
      // overwrite = true: the gate measures the BUILD pipeline every
      // execution and must never serve a stale scratch dir; the
      // reference's skip-existing default is for user resumable builds
      graft.vep.CacheBuilder.buildAll(
        Map("variation" -> Tables.vepCache(s, d)), out, overwrite = true)
      Vep.lookupVariants(Tables.vcf(s, d),
        graft.vep.CacheBuilder.openEntity(s, out, "variation"))
    }),
    "f10_lookup_extended" -> ((s, d) =>
      Vep.lookupVariants(Tables.vcf(s, d), Tables.vepCache(s, d), extendedWindow = 4L)),
    // chrom-name normalization is ONE-SIDED (variant_lookup_exec.rs
    // :979-985): only the VCF side strips its 'chr' prefix; the cache
    // is probed raw. The DEFAULT f10_lookup_variants now exercises the
    // match direction (chr-VCF × bare-cache, the real-world pairing);
    // this gate pins the NON-match direction — a bare-name VCF against
    // a chr-prefixed cache matches NOTHING (the old symmetric
    // normalization would have matched every row)
    "f10_lookup_chrnorm" -> ((s, d) =>
      Vep.lookupVariants(
        Tables.vcf(s, d).withColumn("chrom",
          regexp_replace(col("chrom"), "^chr", "")),
        Tables.vepCache(s, d).withColumn("chrom",
          concat(lit("chr"), col("chrom"))))),
    "f11_annotate_regions" -> ((s, d) =>
      Vep.annotateRegions(Tables.vcf(s, d), Tables.transcripts(s, d), Tables.exons(s, d))),
    // transcript-class probe fixture: protein_altering (in-CDS MNV),
    // mature_miRNA, NMD / non-coding companions all fire by design
    "f11_term_probes" -> ((s, d) =>
      Vep.annotateRegions(Tables.termProbes(s, d), Tables.transcripts(s, d), Tables.exons(s, d))),
    // S6 sink + S3 source round-trip: serialize the derived VCF view to
    // text lines, write them out, read + parse them back relationally.
    // The oracle recomputes the same projection straight from `part` -
    // hash equality proves the sink->file->source cycle is lossless.
    // S4 KV-cache replacement: the variation cache written in
    // point-lookup layout (chrom-partitioned, start-sorted parquet),
    // then batch-probed with the sampled VCF's normalized positions.
    // Oracle joins the same derived tables directly - hash equality
    // proves the layout round-trip; pruning evidence in SourcesSuite.
    "s4_kv_lookup" -> ((s, d) => {
      import graft.sources.PositionCache
      val path = graft.core.Scratch.dir(s"kvcache_${math.abs(d.hashCode)}")
      PositionCache.write(Tables.vepCache(s, d), path)
      val keys = Tables.vcf(s, d).where("id % 50 = 0").select(
        col("chrom"),
        Vep.vepEvent(col("start").cast("long"), col("ref"), col("alt"))
          .getField("norm_start").as("start"))
      PositionCache.lookupBatch(PositionCache.open(s, path), keys)
        .select(col("chrom"), col("start"), col("end"), col("variation_name"),
          col("allele_string"), col("af"), col("clin_sig"))
    }),
    // S3 VCF source: same written lines, but read back through the
    // DataSource V2 reader (graft.sources.VcfDataSource) instead of
    // spark.read.text + manual split - one partition per file,
    // chrom-equality pushdown available (exercised in SourcesSuite).
    "s3_vcf_dsv2" -> ((s, d) => {
      val df = Tables.vcf(s, d).withColumn("vid", col("id"))
      val path = graft.core.Scratch.dir(s"vcf_dsv2_${math.abs(d.hashCode)}")
      Vep.toVcfLines(df, Seq("vid")).coalesce(4)
        .write.mode("overwrite").text(path)
      s.read.format("graft.sources.VcfDataSource").option("path", path).load()
        .select(col("chrom"), col("start"),
          col("id").cast("long").as("id"), col("ref"), col("alt"),
          regexp_extract(col("info"), "VID=([0-9]+)", 1).cast("long").as("vid"))
    }),
    // S3 bgzipped-VCF source: the SAME lines serialized through this
    // library's own BGZF writer (graft.sources.Bgzf — the container
    // real .vcf.gz files ship in), read back through the DSv2 source's
    // gzip arm. Pins both the .gz read path and BGZF interop (the
    // writer's blocks must be standards-conformant gzip).
    "s3_vcf_bgz" -> ((s, d) => {
      val df = Tables.vcf(s, d).withColumn("vid", col("id"))
      val path = graft.core.Scratch.dir(s"vcf_bgz_${math.abs(d.hashCode)}")
      val lines = Vep.toVcfLines(df, Seq("vid"))
      val hconf = new graft.sources.SerializableHadoopConf(
        s.sessionState.newHadoopConf())
      val fs0 = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path), hconf.value)
      fs0.delete(new org.apache.hadoop.fs.Path(path), true)
      fs0.mkdirs(new org.apache.hadoop.fs.Path(path))
      lines.coalesce(4).rdd.foreachPartition { it =>
        val tid = org.apache.spark.TaskContext.get().partitionId()
        val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path), hconf.value)
        val out = new graft.sources.Bgzf.BlockOutputStream(
          fs.create(new org.apache.hadoop.fs.Path(path, f"part-$tid%05d.vcf.bgz"), true))
        try it.foreach(r => out.write((r.getString(0) + "\n").getBytes("UTF-8")))
        finally out.close()
      }
      s.read.format("graft.sources.VcfDataSource").option("path", path).load()
        .select(col("chrom"), col("start"),
          col("id").cast("long").as("id"), col("ref"), col("alt"),
          regexp_extract(col("info"), "VID=([0-9]+)", 1).cast("long").as("vid"))
    }),
    "s6_vcf_roundtrip" -> ((s, d) => {
      val df = Tables.vcf(s, d).withColumn("vid", col("id"))
      val path = graft.core.Scratch.dir(s"vcf_roundtrip_${math.abs(d.hashCode)}")
      // the progress-callback sink (S6's last reference-surface piece:
      // vcf_sink.rs rows-written hook) — gate-covered here; the header
      // lines it writes are filtered by the '#' predicate below, so
      // the round-trip contract is unchanged
      Vep.writeVcf(Vep.toVcfLines(df, Seq("vid")).coalesce(4), path,
        Vep.vcfHeader(Seq("vid")))
      val p = split(col("value"), "\t")
      s.read.text(path)
        .where(!col("value").startsWith("#"))
        .select(
          p.getItem(0).as("chrom"),
          p.getItem(1).cast("long").as("start"),
          p.getItem(2).cast("long").as("id"),
          p.getItem(3).as("ref"),
          p.getItem(4).as("alt"),
          regexp_extract(p.getItem(7), "VID=([0-9]+)", 1).cast("long").as("vid"))
    }),
  )

  /** Depth block CTE shared by the two pileup oracles: events → per-pos
    * delta sums → running coverage → RLE blocks (the SQL formulation of
    * SURVEY.md §2.5's event-list pipeline; the Spark side walks real
    * CIGAR strings, the oracle recomputes aligned length arithmetically
    * because the derived reads are single-M by construction). */
  private def blocksCte(extraPred: String = ""): String =
    s"""$reads,
       |ev AS (SELECT chrom, start AS pos, 1 AS d FROM reads WHERE (flags & 1796) = 0$extraPred
       | UNION ALL SELECT chrom, start + rlen, -1 FROM reads WHERE (flags & 1796) = 0$extraPred),
       |gpos AS (SELECT chrom, pos, SUM(d) AS d FROM ev GROUP BY chrom, pos),
       |cum AS (SELECT chrom, pos, SUM(d) OVER (PARTITION BY chrom ORDER BY pos) AS cov,
       |  LEAD(pos) OVER (PARTITION BY chrom ORDER BY pos) AS np FROM gpos),
       |blocks AS (SELECT chrom AS contig, pos AS pos_start, np - 1 AS pos_end,
       |  CAST(cov AS INT) AS coverage FROM cum WHERE cov <> 0 AND np IS NOT NULL)"""
      .stripMargin.replace("\n", " ")

  /** Region-consequence oracle: candidate transcripts within 5000,
    * exon-existence flag, CASE term, min SO rank per variant.
    * `variantCte`/`variantName` pick the probing variant view (the
    * derived vcf, or the transcript-class probe fixture — the latter's
    * CTE references `t`, so transcripts/exons come first). */
  private def annotateRegionsSqlFor(variantCte: String, variantName: String): String = {
    import Oracle.{transcripts => tCte, exons => exCte}
    import graft.vep.CodonLogic
    val (refC, altC) = CodonLogic.codons(CodonLogic.DuckD,
      "chrom", "vs", "cs", "strand", "valt")
    val refCodonSql = CodonLogic.fixDiv(CodonLogic.DuckD, refC)
    val altCodonSql = CodonLogic.fixDiv(CodonLogic.DuckD, altC)
    val aaRefSql = CodonLogic.aa(CodonLogic.DuckD, "refcodon")
    val aaAltSql = CodonLogic.aa(CodonLogic.DuckD, "altcodon")
    val inCdsAny = "vs <= te AND ve >= ts AND in_exon = 1 AND biotype IN ('protein_coding', 'nonsense_mediated_decay') " +
      "AND vs >= cs AND ve <= ce"
    val snvInCds = s"length(vref) = 1 AND length(valt) = 1 AND $inCdsAny"
    // rank/name CASEs generated from the full 41-term table so the
    // oracle can never drift from Vep.soRank
    val termRankCase = "CASE term " + graft.vep.Vep.allSoTerms.zipWithIndex
      .map { case (n, r) => s"WHEN '$n' THEN $r" }.mkString(" ") + " ELSE 39 END"
    val bestNameCase = "CASE best.best " + graft.vep.Vep.allSoTerms.zipWithIndex
      .map { case (n, r) => s"WHEN $r THEN '$n'" }.mkString(" ") + " END"
    s"""WITH $tCte, $exCte, $variantCte,
       |cand AS (SELECT v.id AS vid, v.chrom, v.start AS vs, v."end" AS ve,
       |  v.ref AS vref, v.alt AS valt,
       |  t.start AS ts, t."end" AS te, t.transcript_id, t.strand, t.biotype,
       |  t.cds_start AS cs, t.cds_end AS ce
       | FROM $variantName v JOIN t ON v.chrom = t.chrom AND t.start - 5000 <= v."end" AND t."end" + 5000 >= v.start),
       |wex AS (SELECT cand.*,
       |  MAX(CASE WHEN ex.transcript_id IS NOT NULL
       |    AND ex.start <= cand.ve AND ex."end" >= cand.vs THEN 1 ELSE 0 END) AS in_exon,
       |  MAX(CASE WHEN ex.transcript_id IS NOT NULL
       |    AND NOT (ex.start <= cand.ve AND ex."end" >= cand.vs) THEN 1 ELSE 0 END) AS near_splice
       | FROM cand LEFT JOIN ex ON ex.transcript_id = cand.transcript_id
       |   AND ex.start - 8 <= cand.ve AND ex."end" + 8 >= cand.vs
       | GROUP BY ALL),
       |wex2 AS (SELECT wex.*, $refCodonSql AS refcodon, $altCodonSql AS altcodon,
       |  ts + (te - ts) // 3 AS mir_s, ts + (te - ts) // 2 AS mir_e FROM wex),
       |terms AS (SELECT vid, transcript_id, biotype, in_exon,
       |  (vs <= te AND ve >= ts) AS ovl, CASE
       |  WHEN $snvInCds AND ($aaAltSql) = '*' AND ($aaRefSql) <> '*' THEN 'stop_gained'
       |  WHEN $snvInCds AND ($aaRefSql) = '*' AND ($aaAltSql) <> '*' THEN 'stop_lost'
       |  WHEN $snvInCds AND ($aaRefSql) = ($aaAltSql) THEN 'synonymous_variant'
       |  WHEN $snvInCds THEN 'missense_variant'
       |  WHEN $inCdsAny AND (length(valt) - length(vref)) % 3 <> 0 THEN 'frameshift_variant'
       |  WHEN $inCdsAny AND length(valt) > length(vref) THEN 'inframe_insertion'
       |  WHEN $inCdsAny AND length(valt) < length(vref) THEN 'inframe_deletion'
       |  WHEN $inCdsAny THEN 'protein_altering_variant'
       |  WHEN vs <= te AND ve >= ts AND in_exon = 1 AND biotype IN ('protein_coding', 'nonsense_mediated_decay') AND ve < cs
       |   THEN (CASE WHEN strand = 1 THEN '5_prime_UTR_variant' ELSE '3_prime_UTR_variant' END)
       |  WHEN vs <= te AND ve >= ts AND in_exon = 1 AND biotype IN ('protein_coding', 'nonsense_mediated_decay') AND vs > ce
       |   THEN (CASE WHEN strand = 1 THEN '3_prime_UTR_variant' ELSE '5_prime_UTR_variant' END)
       |  WHEN vs <= te AND ve >= ts AND in_exon = 1 AND biotype IN ('protein_coding', 'nonsense_mediated_decay') THEN 'coding_sequence_variant'
       |  WHEN vs <= te AND ve >= ts AND in_exon = 1 AND biotype = 'miRNA'
       |   AND vs <= mir_e AND ve >= mir_s THEN 'mature_miRNA_variant'
       |  WHEN vs <= te AND ve >= ts AND in_exon = 1 THEN 'non_coding_transcript_exon_variant'
       |  WHEN vs <= te AND ve >= ts AND near_splice = 1 THEN 'splice_region_variant'
       |  WHEN vs <= te AND ve >= ts THEN 'intron_variant'
       |  WHEN (strand = 1 AND ve < ts) OR (strand = -1 AND vs > te) THEN 'upstream_gene_variant'
       |  ELSE 'downstream_gene_variant' END AS term FROM wex2),
       |ranked AS (SELECT vid, transcript_id,
       |  concat(term,
       |   CASE WHEN biotype = 'nonsense_mediated_decay' AND ovl
       |    THEN '&NMD_transcript_variant' ELSE '' END,
       |   CASE WHEN biotype NOT IN ('protein_coding', 'nonsense_mediated_decay')
       |     AND ovl AND in_exon = 0
       |    THEN '&non_coding_transcript_variant' ELSE '' END) AS terms_str,
       |  LEAST($termRankCase,
       |   CASE WHEN biotype = 'nonsense_mediated_decay' AND ovl THEN 28 END,
       |   CASE WHEN biotype NOT IN ('protein_coding', 'nonsense_mediated_decay')
       |     AND ovl AND in_exon = 0 THEN 29 END) AS rank FROM terms),
       |best AS (SELECT vid, MIN(rank) AS best, CAST(COUNT(*) AS BIGINT) AS n_transcripts,
       |  string_agg(concat(transcript_id, ':', terms_str), '|'
       |    ORDER BY concat(transcript_id, ':', terms_str)) AS csq
       | FROM ranked GROUP BY vid)
       |SELECT v.chrom, v.start, v."end" AS "end", v.id, v.ref, v.alt,
       | COALESCE($bestNameCase, 'intergenic_variant') AS most_severe_consequence,
       | COALESCE(best.n_transcripts, 0) AS n_transcripts,
       | COALESCE(best.csq, '') AS csq
       |FROM $variantName v LEFT JOIN best ON best.vid = v.id ORDER BY v.id"""
      .stripMargin.replace("\n", " ")
  }

  private lazy val lookupVariantsSql: String =
    s"""WITH $vcf, $vepCache
       |SELECT v.chrom, v.start, v."end" AS "end", v.id, v.ref, v.alt,
       | $cacheOut
       |FROM v LEFT JOIN c ON v.bare_chrom = c.chrom
       | AND v.norm_start = c.start AND v.norm_end = c."end"
       | AND (split_part(c.allele_string, '/', 1) = v.vep_ref
       |      OR split_part(c.allele_string, '/', 1) = v.ref)
       | AND split_part(c.allele_string, '/', 2) = v.vep_alt
       |ORDER BY v.id""".stripMargin.replace("\n", " ")

  val oracleSql: Map[String, String] = Map(
    "f11_annotate_regions" -> annotateRegionsSqlFor(Oracle.vcf, "v"),
    "f11_term_probes" -> annotateRegionsSqlFor(Oracle.termProbes, "tp"),
    "f9_depth_blocks" ->
      s"WITH ${blocksCte()} SELECT contig, pos_start, pos_end, coverage FROM blocks ORDER BY contig, pos_start",
    "f9_depth_binary" ->
      s"WITH ${blocksCte()} SELECT contig, pos_start, pos_end, coverage FROM blocks ORDER BY contig, pos_start",
    "s2_bam_depth" ->
      s"WITH ${blocksCte()} SELECT contig, pos_start, pos_end, coverage FROM blocks ORDER BY contig, pos_start",
    "f9_depth_perbase" ->
      s"WITH ${blocksCte()} SELECT contig, UNNEST(generate_series(pos_start, pos_end)) AS pos, coverage FROM blocks ORDER BY contig, pos",
    "f9_depth_mapq" ->
      s"WITH ${blocksCte(" AND mapping_quality >= 30")} SELECT contig, pos_start, pos_end, coverage FROM blocks ORDER BY contig, pos_start",
    "f9_depth_zerobased" ->
      s"WITH ${blocksCte()} SELECT contig, pos_start - 1 AS pos_start, pos_end - 1 AS pos_end, coverage FROM blocks ORDER BY contig, pos_start",
    "f10_vep_allele" ->
      s"WITH $vcf SELECT id, vep_ref, vep_alt, norm_start, norm_end FROM v ORDER BY id",
    "f10_lookup_variants" -> lookupVariantsSql,
    // identical result contract over the CacheBuilder-rebuilt layout
    "c_cachebuild_lookup" -> lookupVariantsSql,
    "f10_lookup_extended" ->
      s"""WITH $vcf, $vepCache
         |SELECT v.chrom, v.start, v."end" AS "end", v.id, v.ref, v.alt,
         | $cacheOut
         |FROM v LEFT JOIN c ON v.bare_chrom = c.chrom
         | AND c.start <= v.norm_end + 4 AND c."end" >= v.norm_start - 4
         | AND (split_part(c.allele_string, '/', 1) = v.vep_ref
         |      OR split_part(c.allele_string, '/', 1) = v.ref)
         | AND split_part(c.allele_string, '/', 2) = v.vep_alt
         |ORDER BY v.id""".stripMargin.replace("\n", " "),
    "f10_lookup_chrnorm" ->
      s"""WITH $vcf, $vepCache
         |SELECT v.bare_chrom AS chrom, v.start, v."end" AS "end", v.id, v.ref, v.alt,
         | $cacheOut
         |FROM v LEFT JOIN c
         | ON v.bare_chrom = concat('chr', c.chrom)
         | AND v.norm_start = c.start AND v.norm_end = c."end"
         | AND (split_part(c.allele_string, '/', 1) = v.vep_ref
         |      OR split_part(c.allele_string, '/', 1) = v.ref)
         | AND split_part(c.allele_string, '/', 2) = v.vep_alt
         |ORDER BY v.id""".stripMargin.replace("\n", " "),
    "s6_vcf_roundtrip" ->
      s"WITH $vcf SELECT chrom, start, id, ref, alt, CAST(id AS BIGINT) AS vid FROM v ORDER BY id",
    "s3_vcf_dsv2" ->
      s"WITH $vcf SELECT chrom, start, id, ref, alt, CAST(id AS BIGINT) AS vid FROM v ORDER BY id",
    "s3_vcf_bgz" ->
      s"WITH $vcf SELECT chrom, start, id, ref, alt, CAST(id AS BIGINT) AS vid FROM v ORDER BY id",
    "s4_kv_lookup" ->
      s"""WITH $vcf, $vepCache,
         |k AS (SELECT DISTINCT bare_chrom AS chrom, norm_start FROM v WHERE id % 50 = 0)
         |SELECT c.chrom, c.start, c."end" AS "end", c.variation_name,
         | c.allele_string, c.af, c.clin_sig
         |FROM c JOIN k ON c.chrom = k.chrom AND c.start = k.norm_start
         |ORDER BY c.chrom, c.start, c.variation_name""".stripMargin.replace("\n", " "),
  )
}
