package graft

import graft.core.GraftConf
import graft.pileup.{Cigar, Pileup}
import graft.vep.{Allele, Vep}
import org.apache.spark.sql.functions.{col, lit}

class PileupVepSuite extends SparkSpec {
  import spark.implicits._

  test("CIGAR walker: op classes and segment coalescing") {
    // M covers; I consumes nothing (adjacent M runs coalesce); D/N split
    assert(Cigar.coveredSegments(100, "10M") == Seq((100L, 110L)))
    assert(Cigar.coveredSegments(100, "5M2I5M") == Seq((100L, 110L)))
    assert(Cigar.coveredSegments(100, "5M2D3M") == Seq((100L, 105L), (107L, 110L)))
    assert(Cigar.coveredSegments(100, "3S10M4H") == Seq((100L, 110L)))
    assert(Cigar.coveredSegments(100, "4M100N4M") == Seq((100L, 104L), (204L, 208L)))
    assert(Cigar.coveredSegments(100, "2=3X5M") == Seq((100L, 110L)))
    assert(Cigar.coveredSegments(100, "5S") == Seq.empty)
    intercept[IllegalArgumentException](Cigar.coveredSegments(0, "5Z"))
  }

  test("binary packed CIGAR decodes little-endian len<<4|op") {
    // 5M = 5<<4|0 = 0x50 ; 2D = 2<<4|2 = 0x22 ; 3M = 3<<4|0 = 0x30
    val packed = Array[Byte](0x50, 0, 0, 0, 0x22, 0, 0, 0, 0x30, 0, 0, 0)
    assert(Cigar.coveredSegmentsBinary(100, packed) == Seq((100L, 105L), (107L, 110L)))
  }

  test("read filter: default mask 1796, MAPQ threshold") {
    assert(Cigar.passes(0, 0))
    assert(!Cigar.passes(1024, 60))  // duplicate
    assert(!Cigar.passes(4, 60))     // unmapped
    assert(Cigar.passes(16, 60))     // reverse strand not masked
    assert(!Cigar.passes(0, 10, minMapq = 20))
  }

  test("depth matches a hand-computed pileup incl. overlapping reads") {
    val reads = Seq(
      ("c1", 100, 0, "10M", 60),     // covers [100,110)
      ("c1", 105, 0, "10M", 60),     // covers [105,115)
      ("c1", 200, 0, "5M5D5M", 60),  // [200,205) + [210,215)
      ("c1", 300, 1024, "50M", 60),  // duplicate -> filtered
    ).toDF("chrom", "start", "flags", "cigar", "mapping_quality")
    val got = Pileup.depth(reads).orderBy("pos_start")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got == Seq(
      (100L, 104L, 1), (105L, 109L, 2), (110L, 114L, 1),
      (200L, 204L, 1), (210L, 214L, 1)))
    val perBase = Pileup.depthPerBase(reads)
    assert(perBase.count() == 5 + 5 + 5 + 5 + 5)
    assert(perBase.where($"pos" === 107).head().getInt(2) == 2)
  }

  test("depth skips null-chrom/null-start reads and '*' CIGARs") {
    // reference events.rs:114-152 (test_null_chroms_skipped,
    // test_star_cigar_skipped): these reads contribute nothing and
    // are not errors
    val reads = Seq(
      (null.asInstanceOf[String], java.lang.Integer.valueOf(100), 0, "10M", 60),
      ("c1", null.asInstanceOf[java.lang.Integer], 0, "10M", 60),
      ("c1", java.lang.Integer.valueOf(100), 0, "*", 60),
      ("c1", java.lang.Integer.valueOf(100), 0, null.asInstanceOf[String], 60),
      ("c1", java.lang.Integer.valueOf(100), 0, "10M", 60),
    ).toDF("chrom", "start", "flags", "cigar", "mapping_quality")
    val got = Pileup.depth(reads).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got == Seq(("c1", 100L, 109L, 1)))
  }

  test("depth is invariant under the prefix-sum position-bucket width") {
    // the window stage range-partitions by (chrom, pos DIV width) with
    // a per-bucket boundary fix-up; any width must produce the same
    // blocks — including blocks that CROSS bucket boundaries and
    // buckets whose next event lives several empty buckets away
    val reads = Seq(
      ("c1", 100, 0, "10M", 60),
      ("c1", 105, 0, "10M", 60),
      ("c1", 95, 0, "30M", 60),    // spans several 8-wide buckets
      ("c1", 500, 0, "5M", 60),    // far gap: next bucket is not bucket+1
      ("c2", 7, 0, "20M", 60),
      ("c1", 200, 0, "5M5D5M", 60),
    ).toDF("chrom", "start", "flags", "cigar", "mapping_quality")
    val lens = Seq(("c1", 600L), ("c2", 40L)).toDF("chrom", "length")
    def run(width: Long): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
      spark.conf.set(GraftConf.DepthPosBucketWidth, width.toString)
      try (sortedRows(Pileup.depth(reads)),
           sortedRows(Pileup.depthPerBaseFull(reads, lens)))
      finally spark.conf.unset(GraftConf.DepthPosBucketWidth)
    }
    val baseline = run(1L << 62)          // one bucket: the old per-chrom window
    assert(baseline._2.size == 640)       // full-contig mode: every position
    for (width <- Seq(8L, 64L, 256L))     // many / several / few buckets
      assert(run(width) == baseline, s"width=$width diverged")
    // at width 8 the window-stage parallelism exceeds the contig count:
    // distinct (chrom, bucket) groups > distinct chroms — the 100 TB
    // scale property the bucketing exists for
    val ev = reads.where($"flags" === 0)
      .select($"chrom", $"start".cast("long").as("pos"))
    val buckets = ev.select($"chrom", ($"pos" / 8).cast("long")).distinct().count()
    assert(buckets > 2)
  }

  test("allele trim: SNV / MNV / indel semantics") {
    assert(Allele.vcfToVepAllele("A", "G") == ("A", "G"))
    // MNV: prefix trimmed, NO suffix trim (same length)
    assert(Allele.vcfToVepAllele("ACT", "AGT") == ("CT", "GT"))
    // deletion CT>C: prefix C -> (T, -)
    assert(Allele.vcfToVepAllele("CT", "C") == ("T", "-"))
    // insertion C>CT
    assert(Allele.vcfToVepAllele("C", "CT") == ("-", "T"))
    // indel with shared suffix: GCC>GTT... lengths differ -> suffix trim
    assert(Allele.vcfToVepAllele("GCGC", "GGC") == ("C", "-"))
  }

  test("norm coordinates follow Ensembl trim_sequences") {
    assert(Allele.vepNormStart(100, "CT", "C") == 101)
    assert(Allele.vepNormEnd(100, "CT", "C") == 101)
    assert(Allele.vepNormStart(100, "C", "CT") == 101)
    assert(Allele.vepNormEnd(100, "C", "CT") == 100) // start > end: insertion
    assert(Allele.vepNormStart(100, "A", "G") == 100)
    assert(Allele.vepNormEnd(100, "A", "G") == 100)
  }

  test("match_allele: direct, multi-allelic, right-first fallback") {
    assert(Allele.matches("A", "G", "A/G"))
    assert(Allele.matches("A", "G", "A/C/G"))       // any cache alt
    assert(!Allele.matches("A", "G", "G/A"))        // swapped
    assert(Allele.matches("A", "T|G", "A/G"))       // pipe multi-allelic
    assert(Allele.matches("A", "T,G", "A/G"))       // comma multi-allelic
    assert(Allele.matches("CT", "C", "T/-"))        // trimmed deletion
    assert(Allele.matches("C", "CT", "-/T"))        // trimmed insertion
    // cache stores untrimmed representation -> right-first fallback
    // (reference allele.rs doc example GCC/GCCCAGCC vs -/GCCCA)
    assert(Allele.matches("GCC", "GCCCAGCC", "-/CCAGC") ||
           Allele.matches("GCC", "GCCCAGCC", "-/CAGCC"))
    assert(!Allele.matches("A", "", "A/G"))
  }

  test("trim_sequences: direction changes the surviving coordinate") {
    // allele.rs:878-893: left-first deletion trims to the inner
    // coordinates; end-first homopolymer keeps the START coordinate
    assert(Allele.trimSequencesEnsembl("ACGT", "A", 100, endFirst = false, 1) ==
      (("CGT", "-", 101L, 103L, true)))
    assert(Allele.trimSequencesEnsembl("AAAA", "AAA", 100, endFirst = true, 1) ==
      (("A", "-", 100L, 100L, true)))
  }

  test("get_matched_variant_alleles: repeat-shifted deletion and multi-allelic") {
    // allele.rs:896-947 (itself Ensembl Sequence.pm:1098-1258):
    // position-aware matching — AAA/A @100 and AA/- @101 are one event
    assert(Allele.getMatchedVariantAlleles("AAA/A", 100, 1, "AA/-", 101, 1) ==
      Seq(("A", 0, "-", 0)))
    // multi-allelic: only the shared T alt matches, at its own index
    assert(Allele.getMatchedVariantAlleles("A/G/T", 100, 1, "A/C/T", 100, 1) ==
      Seq(("T", 1, "T", 1)))
    // opposite strands reverse-complement the a side
    assert(Allele.getMatchedVariantAlleles("A/G", 100, 1, "T/C", 100, -1) ==
      Seq(("G", 0, "C", 0)))
    // malformed strings and pos 0 match nothing
    assert(Allele.getMatchedVariantAlleles("/G", 100, 1, "A/G", 100, 1).isEmpty)
    assert(Allele.getMatchedVariantAlleles("A/G", 0, 1, "A/G", 100, 1).isEmpty)
  }

  test("match_allele_relaxed: indel class + length compatibility") {
    // deletion of 2bp matches any 2bp deletion representation
    assert(Allele.matchesRelaxed("ATT", "A", "GCC/G"))
    assert(!Allele.matchesRelaxed("ATT", "A", "GC/G"))   // 2bp vs 1bp del
    assert(Allele.matchesRelaxed("A", "ACC", "-/GG"))    // 2bp ins vs 2bp ins
    assert(!Allele.matchesRelaxed("A", "G", "C/T"))      // SNV not relaxed
  }

  test("VCF sink renders tab-separated lines with INFO pairs") {
    val df = Seq(("chr1", 100L, 1L, "A", "G", "rs1"), ("chr1", 200L, 2L, "C", "T", null))
      .toDF("chrom", "start", "id", "ref", "alt", "variation_name")
    val lines = Vep.toVcfLines(df, Seq("variation_name"))
      .orderBy("line").collect().map(_.getString(0))
    assert(lines(0) == "chr1\t100\t1\tA\tG\t.\tPASS\tVARIATION_NAME=rs1")
    assert(lines(1) == "chr1\t200\t2\tC\tT\t.\tPASS\tVARIATION_NAME=.")
    assert(Vep.vcfHeader(Seq("variation_name")).head == "##fileformat=VCFv4.2")
  }

  test("annotateRegions classifies crafted variants incl. UTR and splice") {
    val vcf = Seq(
      ("chr1", 1500L, 1500L, 1L, "A", "G"),   // inside exon1, before cds_start -> 5' UTR (+)
      ("chr1", 2500L, 2500L, 2L, "A", "G"),   // inside cds, in exon2 -> coding
      ("chr1", 2105L, 2105L, 3L, "A", "G"),   // 5bp after exon1 end -> splice_region
      ("chr1", 2300L, 2300L, 4L, "A", "G"),   // intron (far from boundaries)
      ("chr1", 900L, 900L, 5L, "A", "G"),     // 100bp before + strand -> upstream
      ("chr1", 50000L, 50000L, 6L, "A", "G"), // nothing nearby -> intergenic
    ).toDF("chrom", "start", "end", "id", "ref", "alt")
    val t = Seq(("chr1", 1000L, 4000L, "T1", 1, "protein_coding", 2000L, 3800L))
      .toDF("chrom", "start", "end", "transcript_id", "strand", "biotype", "cds_start", "cds_end")
    val ex = Seq(("T1", 1000L, 2100L), ("T1", 2400L, 3000L), ("T1", 3500L, 4000L))
      .toDF("transcript_id", "start", "end")
    val got = Vep.annotateRegions(vcf, t, ex).orderBy("id")
      .select("id", "most_severe_consequence").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "5_prime_UTR_variant")
    // SNV in CDS now resolves to a codon-level term
    assert(Set("synonymous_variant", "missense_variant", "stop_gained", "stop_lost")
      .contains(got(2L)))
    assert(got(3L) == "splice_region_variant")
    assert(got(4L) == "intron_variant")
    assert(got(5L) == "upstream_gene_variant")
    assert(got(6L) == "intergenic_variant")
  }

  test("codon layer matches a Scala-side oracle of the derived sequence") {
    import graft.vep.CodonLogic
    def base(chrom: String, pos: Long): Char = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$chrom:$pos".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      "ACGT".charAt(Integer.parseInt(hex.substring(0, 1), 16) % 4)
    }
    // transcript: chr1 [1000,4000], + strand, cds [2000,3800]
    val positions = Seq(2500L, 2501L, 2502L, 2600L, 2750L)
    val vcf = positions.zipWithIndex.map { case (p, i) =>
      ("chr1", p, p, i.toLong, "A", "G")
    }.toDF("chrom", "start", "end", "id", "ref", "alt")
    val t = Seq(("chr1", 1000L, 4000L, "T1", 1, "protein_coding", 2000L, 3800L))
      .toDF("chrom", "start", "end", "transcript_id", "strand", "biotype", "cds_start", "cds_end")
    val ex = Seq(("T1", 1000L, 4000L)).toDF("transcript_id", "start", "end")
    val got = Vep.annotateRegions(vcf, t, ex)
      .select("id", "most_severe_consequence").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    positions.zipWithIndex.foreach { case (p, i) =>
      val off = (p - 2000) % 3
      val c0 = 2000 + ((p - 2000) / 3) * 3
      val refCodon = (0 to 2).map(j => base("chr1", c0 + j)).mkString
      val altCodon = refCodon.updated(off.toInt, 'G')
      val (ra, aa) = (CodonLogic.codonTable(refCodon), CodonLogic.codonTable(altCodon))
      val expected =
        if (aa == "*" && ra != "*") "stop_gained"
        else if (ra == "*" && aa != "*") "stop_lost"
        else if (ra == aa) "synonymous_variant"
        else "missense_variant"
      assert(got(i.toLong) == expected, s"pos=$p refCodon=$refCodon altCodon=$altCodon")
    }
  }

  test("lookupVariants emits NULL cache cols for cache misses") {
    val vcf = Seq(
      ("chr1", 100L, 1L, "A", "G"),
      ("chr1", 200L, 2L, "CT", "C"),
      ("chr1", 300L, 3L, "A", "C"),
    ).toDF("chrom", "start", "id", "ref", "alt")
    val cache = Seq(
      ("1", 100L, 100L, "rs1", "A/G", 0.5),
      ("1", 201L, 201L, "rs2", "T/-", 0.1),  // normalized deletion coords
      ("1", 300L, 300L, "rs3", "A/G", 0.9),  // allele mismatch for id=3
    ).toDF("chrom", "start", "end", "variation_name", "allele_string", "af")
    val got = Vep.lookupVariants(vcf, cache).orderBy("id").collect()
    assert(got.length == 3)
    assert(got(0).getString(5) == "rs1")
    assert(got(1).getString(5) == "rs2")
    assert(got(2).isNullAt(5)) // allele_string A/G does not match A>C
  }

  test("lookupVariants converts a zero-based-tagged cache to the input's system") {
    // lookup_provider.rs test_lookup_one_based_input_to_zero_based_
    // cache_uses_metadata: a 1-based VCF at pos 100 must hit the
    // 0-based half-open cache row [99, 100) — rs100 — and NOT [100,
    // 101) — rs101. Untagged frames default to 1-based, so the
    // metadata-free suite behavior is unchanged.
    import graft.core.Coord
    val vcf = Seq(("1", 100L, 100L, 1L, "A", "G"))
      .toDF("chrom", "start", "end", "id", "ref", "alt")
    val cache0 = Seq(
      ("1", 99L, 100L, "rs100", "A/G", 0.5),
      ("1", 100L, 101L, "rs101", "A/G", 0.5))
      .toDF("chrom", "start", "end", "variation_name", "allele_string", "af")
    assert(!Coord.isZeroBased(cache0) && Coord.isZeroBased(Coord.mark(cache0, true)))
    val got = Vep.lookupVariants(vcf, Coord.mark(cache0, true),
      columns = Seq("variation_name")).collect()
    assert(got.length == 1 && got.head.getString(got.head.length - 1) == "rs100",
      got.mkString(";"))
    // and the reverse direction: a 0-based input probing a 1-based
    // cache converts the cache DOWN one
    val vcf0 = Coord.mark(Seq(("1", 99L, 100L, 1L, "A", "G"))
      .toDF("chrom", "start", "end", "id", "ref", "alt"), true)
    val cache1 = Seq(("1", 100L, 100L, "rs100", "A/G", 0.5))
      .toDF("chrom", "start", "end", "variation_name", "allele_string", "af")
    val got0 = Vep.lookupVariants(vcf0, cache1, columns = Seq("variation_name")).collect()
    assert(got0.length == 1 && got0.head.getString(got0.head.length - 1) == "rs100",
      got0.mkString(";"))
  }

  test("lookupVariants: chr-prefixed VCF matches an Ensembl bare-name cache; failed rows skip") {
    // the reference's own lookup fixture (lookup_provider.rs:396-446):
    // VCF chroms chr-prefixed, cache bare — the normal real-world
    // pairing; its exec strips the VCF prefix (variant_lookup_exec.rs
    // :979-985). The cache `failed` column gates entries out at
    // failed > allowed_failed (default 0 — VEP's filter_variation).
    val vcf = Seq(
      ("chr1", 100L, 1L, "A", "G"),
      ("chr1", 200L, 2L, "C", "T"),
      ("chr2", 500L, 3L, "G", "A"),
    ).toDF("chrom", "start", "id", "ref", "alt")
    val cache = Seq(
      ("1", 100L, 100L, "rs123", "A/G", 0L),
      ("1", 200L, 200L, "rs456", "C/T", 1L), // failed=1: skipped at default
    ).toDF("chrom", "start", "end", "variation_name", "allele_string", "failed")
    val got = Vep.lookupVariants(vcf, cache).orderBy("id").collect()
    assert(got.length == 3)
    assert(got(0).getString(5) == "rs123") // chr1 matched bare 1
    assert(got(1).isNullAt(5))             // failed-gated out
    assert(got(2).isNullAt(5))             // no chr2 cache entry
    // allowed_failed raises the gate
    val lenient = Vep.lookupVariants(vcf, cache, allowedFailed = 1L)
      .orderBy("id").collect()
    assert(lenient(1).getString(5) == "rs456")
    // the strip is ONE-SIDED like the reference's: a bare-name VCF
    // against a chr-prefixed cache matches NOTHING (the cache side is
    // probed raw — variant_lookup_exec.rs keys the cache chrom as-is)
    val bareVcf = vcf.withColumn("chrom",
      org.apache.spark.sql.functions.regexp_replace(col("chrom"), "^chr", ""))
    val chrCache = cache.where("failed = 0").withColumn("chrom",
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("chr"), col("chrom")))
    val sym = Vep.lookupVariants(bareVcf, chrCache).orderBy("id").collect()
    assert(sym.forall(_.isNullAt(5)))
    // colocated normalizes the same way: a swapped-allele cache entry
    // at the same coordinates lands in the colocated side output
    val noise = Seq(("1", 100L, 100L, "rsX", "G/A", 0.25))
      .toDF("chrom", "start", "end", "variation_name", "allele_string", "af")
    val co = graft.vep.Annotate.colocated(vcf, noise).collect()
    assert(co.length == 1 && co(0).getString(1) == "rsX")
  }

  test("colocated and missWorklist key on lookupVariants' 1-based starts; failed rows skip") {
    import graft.core.Coord
    val vcf = Seq(("chr1", 100L, 100L, 1L, "A", "G"))
      .toDF("chrom", "start", "end", "id", "ref", "alt")
    // zero-based half-open cache rows: [99, 100) is 1-based position 100
    val cache = Coord.mark(Seq(
      ("1", 99L, 100L, "rsA", "A/T", 0.1, 0L),  // same site, other allele
      ("1", 99L, 100L, "rsF", "A/C", 0.2, 1L),  // same site, failed
      ("1", 100L, 101L, "rsN", "A/T", 0.3, 0L)) // 1-based 101: another site
      .toDF("chrom", "start", "end", "variation_name", "allele_string", "af", "failed"), true)
    val co = graft.vep.Annotate.colocated(vcf, cache).collect().map(_.getString(1)).toSeq
    assert(co == Seq("rsA"), co.mkString(","))
    // the lookup reads the same site: no allele matches, so no hit
    assert(Vep.lookupVariants(vcf, cache, columns = Seq("variation_name"))
      .collect().forall(_.isNullAt(6)))
    // a zero-based-tagged VCF misses at its 1-based position
    val vcf0 = Coord.mark(Seq(("chr1", 99L, 100L, 1L, "A", "G"))
      .toDF("chrom", "start", "end", "id", "ref", "alt"), true)
    val miss = Vep.missWorklist(vcf0, cache).collect()
    assert(miss.length == 1 && miss.head.getLong(1) == 100L, miss.mkString(";"))
  }

  test("mirnaStructureField reproduces the reference's pinned cases") {
    // annotate_provider.rs mirna_structure_field unit tests
    def f(s: String, bt: String, cs: Long, ce: Long): String =
      Vep.mirnaStructureField(s, bt, cs, ce)
    // distinct stem sides each emit the term (VEP quirk preserved)
    assert(f("(.).", "miRNA", 1, 4) == "miRNA_loop&miRNA_stem&miRNA_stem")
    assert(f("()", "miRNA", 1, 2) == "miRNA_stem&miRNA_stem")
    assert(f("(.).", "protein_coding", 1, 4) == "")          // non-miRNA
    assert(f("(19.6)19", "miRNA", 1, 1) == "miRNA_stem")     // RLE stems
    assert(f("(19.6)19", "miRNA", 20, 20) == "miRNA_loop")   // RLE loops
    assert(f("(19.6)19", "miRNA", 26, 26) == "miRNA_stem")   // close side
    // "start:end structure" prefix offsets the index space
    assert(f("10:13 (.).", "miRNA", 10, 10) == "miRNA_stem")
    assert(f("10:13 (.).", "miRNA", 11, 11) == "miRNA_loop")
    assert(f("10:13 (.).", "miRNA", 9, 9) == "")             // before start
    assert(f("10:13 (.).", "miRNA", 50, 50) == "")           // past the end
    assert(f("", "miRNA", 1, 1) == "")
    assert(f("(.).", "miRNA", 2, 3) == "miRNA_loop&miRNA_stem") // span
  }

  test("missWorklistFilter scopes context loads with the 50-clause fallback") {
    // context table mixing bare and chr-prefixed chrom conventions
    val ctx = Seq(
      ("chr1", 90L, 110L, "in-range"),
      ("1", 95L, 105L, "bare-in-range"),
      ("chr1", 500L, 600L, "out-of-range"),
      ("chr2", 90L, 110L, "other-chrom"),
    ).toDF("chrom", "start", "end", "tag")
    val f = Vep.missWorklistFilter(Seq(("chr1", 100L, 120L)))
    assert(ctx.where(f).collect().map(_.getString(3)).toSet ==
      Set("in-range", "bare-in-range"))
    // above the clause cap: chrom-only IN fallback keeps everything on
    // the listed contigs regardless of range
    val many = (0 until 60).map(i => ("chr1", i * 1000L, i * 1000L + 10L))
    val fb = Vep.missWorklistFilter(many)
    assert(ctx.where(fb).collect().map(_.getString(3)).toSet ==
      Set("in-range", "bare-in-range", "out-of-range"))
    // empty worklist loads nothing
    assert(ctx.where(Vep.missWorklistFilter(Seq.empty)).count() == 0)
  }

  test("lookupVariants extendedWindow keeps unmatched duplicate-id rows") {
    // two rows share id=7; only the chr1 one matches the widened cache
    // window — the LEFT-restore must still emit the chr2 twin with NULL
    // cache columns (round-2/3 ADVICE: the restore was keyed on the
    // caller's id and dropped it)
    val vcf = Seq(
      ("chr1", 100L, Some(7L), "A", "G"),
      ("chr2", 100L, Some(7L), "A", "G"),
      ("chr1", 500L, Option.empty[Long], "A", "G"),
    ).toDF("chrom", "start", "id", "ref", "alt")
    val cache = Seq(
      ("1", 105L, 105L, "rs1", "A/G", 0.5),
    ).toDF("chrom", "start", "end", "variation_name", "allele_string", "af")
    val got = Vep.lookupVariants(vcf, cache, extendedWindow = 10L)
      .orderBy("chrom", "start").collect()
    assert(got.length == 3)
    assert(got(0).getString(5) == "rs1")  // chr1:100 matched in-window
    assert(got(1).isNullAt(5))            // chr1:500 null id, no match
    assert(got(2).isNullAt(5))            // chr2:100 duplicate id, no match
  }

  test("lookupVariants extendedWindow output is stable across plans") {
    // round-6 ADVICE: the LEFT-restore rowid was
    // monotonically_increasing_id, whose value depends on partition
    // layout — with an upstream exchange the matched and anti branches
    // could disagree, dropping/duplicating rows. The deterministic
    // row_number id must give an identical multiset under varied
    // shuffle-partition counts and a shuffled input plan.
    val vcf = Seq(
      ("chr1", 100L, Some(7L), "A", "G"),
      ("chr2", 100L, Some(7L), "A", "G"),
      ("chr1", 100L, Some(7L), "A", "G"),  // exact duplicate row
      ("chr1", 500L, Option.empty[Long], "A", "G"),
      ("chr1", 512L, Some(9L), "A", "G"),
    ).toDF("chrom", "start", "id", "ref", "alt")
    val cache = Seq(
      ("1", 105L, 105L, "rs1", "A/G", 0.5),
      ("1", 505L, 505L, "rs5", "A/G", 0.6),
    ).toDF("chrom", "start", "end", "variation_name", "allele_string", "af")
    def run(parts: Int, shuffleInput: Boolean): Seq[String] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try {
        val in = if (shuffleInput) vcf.repartition(parts, col("start")) else vcf
        Vep.lookupVariants(in, cache, extendedWindow = 10L)
          .collect().map(_.mkString("|")).sorted.toSeq
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val base = run(4, shuffleInput = false)
    assert(base.length == 5)
    assert(run(1, shuffleInput = true) == base)
    assert(run(7, shuffleInput = true) == base)
    assert(run(4, shuffleInput = true) == base)
  }

  /** Run `body` with session confs set, restoring them after. */
  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def packedCigar(c: String): Array[Byte] = {
    val ops = graft.sources.Bam.packCigar(c)
    val bb = java.nio.ByteBuffer.allocate(4 * ops.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ops.foreach(bb.putInt)
    bb.array()
  }

  private def cigarEvents(cigar: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.CigarEvents(
      GraftColumnBridge.expression(col("start")), GraftColumnBridge.expression(cigar)))
  }

  test("CigarEvents: events equal the coveredSegments model, text and packed, codegen and interpreted") {
    import org.apache.spark.sql.execution.{GenerateExec, WholeStageCodegenExec}
    val rnd = new scala.util.Random(20261020)
    val ops = "MIDNSHP=X"
    val cases = (0 until 600).map { i =>
      val cigar = Seq.fill(1 + rnd.nextInt(8))(
        s"${rnd.nextInt(60)}${ops(rnd.nextInt(ops.length))}").mkString
      (i.toLong, 1L + rnd.nextInt(1000000), cigar)
    }
    val model = cases.map { case (id, s, c) =>
      id -> Cigar.coveredSegments(s, c).flatMap { case (a, b) => Seq((a, 1L), (b, -1L)) }
    }.filter(_._2.nonEmpty).toMap
    // an RDD source keeps the generator in whole-stage codegen
    val reads = spark.sparkContext.parallelize(
      cases.map { case (id, s, c) => (id, s, c, packedCigar(c)) }, 4)
      .toDF("id", "start", "cigar", "packed")
    def events(cigar: String, codegen: Boolean) = {
      val df = reads.select(col("id"), cigarEvents(col(cigar)))
      val got = df.collect().toSeq.map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      val fused = planNodes(df).exists {
        case w: WholeStageCodegenExec => w.child.exists(_.isInstanceOf[GenerateExec])
        case _ => false
      }
      assert(fused == codegen, df.queryExecution.executedPlan.toString)
      got.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    }
    withConf("spark.sql.codegen.fallback" -> "false") {
      assert(events("cigar", codegen = true) == model)
      assert(events("packed", codegen = true) == model)
    }
    withConf("spark.sql.codegen.wholeStage" -> "false") {
      assert(events("cigar", codegen = false) == model)
      assert(events("packed", codegen = false) == model)
    }
  }

  test("CigarEvents: null input yields nothing; depth skips null, empty and '*' CIGARs; bad ops throw") {
    val bin = Seq[(String, java.lang.Long, Array[Byte])](
      ("c1", 100L, packedCigar("10M")),
      ("c1", 100L, Array.emptyByteArray),
      ("c1", 100L, null),
      ("c1", null, packedCigar("10M")))
      .toDF("chrom", "start", "cigar")
      .select(col("chrom"), col("start"), lit(0).as("flags"), col("cigar"),
        lit(60).as("mapping_quality"))
    assert(bin.select(cigarEvents(col("cigar"))).collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq == Seq((100L, 1L), (110L, -1L)))
    assert(Pileup.depth(bin).collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSeq == Seq((100L, 109L, 1)))
    val text = Seq(("c1", 100L, "*"), ("c1", 100L, null), ("c1", 100L, "4M"))
      .toDF("chrom", "start", "cigar")
      .select(col("chrom"), col("start"), lit(0).as("flags"), col("cigar"),
        lit(60).as("mapping_quality"))
    assert(Pileup.depth(text).collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSeq == Seq((100L, 103L, 1)))
    // a bad op letter or op code fails the task with the walker's error
    def cause(t: Throwable): Throwable =
      if (t.getCause == null || t.isInstanceOf[IllegalArgumentException]) t else cause(t.getCause)
    val badText = Seq(("c1", 1L, "5M3Z")).toDF("chrom", "start", "cigar")
    assert(cause(intercept[Exception](badText.select(cigarEvents(col("cigar"))).collect()))
      .isInstanceOf[IllegalArgumentException])
    val badCode = Array[Byte](0x59, 0, 0, 0) // 5 << 4 | 9
    val badBin = Seq(("c1", 1L, badCode)).toDF("chrom", "start", "cigar")
    assert(cause(intercept[Exception](badBin.select(cigarEvents(col("cigar"))).collect()))
      .isInstanceOf[IllegalArgumentException])
    intercept[IllegalArgumentException](Cigar.coveredSegmentsBinary(0, badCode))
  }
}
