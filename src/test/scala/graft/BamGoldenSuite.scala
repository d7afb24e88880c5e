package graft

import org.apache.spark.sql.functions._
import graft.pileup.Pileup

/** Third-party BAM validation: the reference ships two real
  * (samtools-produced) BAM files with PINNED depth expectations
  * (bio-function-pileup/tests/mosdepth_compat.rs) — files this
  * library's writer did NOT produce, so they validate the BGZF/BAM
  * READER and the CIGAR walker against an independent encoder and the
  * reference's own golden numbers.
  *
  * mosdepth_compat.rs expectations (1-based closed blocks):
  * - ovl.bam, MT: (1,6,1), (7,42,2), (43,80,1)
  *   (test_ovl_fast_mode_sql_default_one_based)
  * - overlapping-pairs.bam, contig "1": 0-based (565173,565252,2) →
  *   1-based (565174,565253,2) — fast mode, NO mate-overlap dedup
  *   (both mates contribute), which is also this library's model. */
class BamGoldenSuite extends SparkSpec {

  private val dataDir = Tables.referenceFixture("datafusion/bio-function-pileup/tests/data")

  /** A fixture file's path; a test needing one fails while the
    * reference tree is absent. */
  private def fixture(name: String): String = {
    assert(new java.io.File(dataDir).isDirectory, Tables.fixtureAbsent(dataDir))
    s"$dataDir/$name"
  }

  private def depthOf(bam: String): Seq[(String, Long, Long, Int)] = {
    val df = spark.read.format("graft.sources.BamDataSource")
      .option("path", fixture(bam)).load()
    Pileup.depth(df.select(col("chrom"), col("start"), col("flags"),
        col("cigar"), col("mapping_quality")))
      .orderBy("contig", "pos_start").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSeq
  }

  test("ovl.bam: MT depth blocks match the reference's pinned goldens") {
    val mt = depthOf("ovl.bam").filter(_._1 == "MT")
    assert(mt == Seq(
      ("MT", 1L, 6L, 1),
      ("MT", 7L, 42L, 2),
      ("MT", 43L, 80L, 1)))
  }

  test("overlapping-pairs.bam: fast mode, both mates contribute") {
    val c1 = depthOf("overlapping-pairs.bam").filter(_._1 == "1")
    assert(c1 == Seq(("1", 565174L, 565253L, 2)))
  }

  test("full-contig per-base matches the reference's per_base mode goldens") {
    // mosdepth_compat.rs test_per_base_sql: per_base=true emits one
    // row per position of each contig WITH reads, zeros included,
    // length from the header (MT = 16569)
    val lens = graft.sources.Bam.contigLengths(spark, fixture("ovl.bam"))
    val df = spark.read.format("graft.sources.BamDataSource")
      .option("path", fixture("ovl.bam")).load()
    val mt = Pileup.depthPerBaseFull(df.select(col("chrom"), col("start"),
        col("flags"), col("cigar"), col("mapping_quality")), lens)
      .where(col("contig") === "MT").orderBy("pos").collect()
      .map(r => (r.getLong(1), r.getInt(2)))
    assert(mt.length == 16569)
    assert(mt.head._1 == 1L && mt.last._1 == 16569L)
    assert(mt.zipWithIndex.forall { case ((p, _), i) => p == i + 1 })
    def covAt(pos: Long): Int = mt(pos.toInt - 1)._2
    assert(covAt(1) == 1 && covAt(6) == 1)
    assert(covAt(7) == 2 && covAt(42) == 2)
    assert(covAt(43) == 1 && covAt(80) == 1)
    assert(covAt(81) == 0 && covAt(16569) == 0)
  }

  test("per-base tiling: multi-megabase blocks explode across tiles exactly") {
    import spark.implicits._
    // one read spanning 2 tiles + 1 position (2^21 + 1 bases): the
    // per-base output must cover every position exactly once — the
    // single-row sequence() allocation this guards against would be
    // the whole run in one task
    val len = (1L << 21) + 1
    val reads = Seq(("chrT", 5L, 0, s"${len}M", 60))
      .toDF("chrom", "start", "flags", "cigar", "mapping_quality")
    val pb = Pileup.depthPerBase(reads)
    val agg = pb.agg(
      org.apache.spark.sql.functions.count("*"),
      org.apache.spark.sql.functions.min("pos"),
      org.apache.spark.sql.functions.max("pos"),
      org.apache.spark.sql.functions.countDistinct("pos"),
      org.apache.spark.sql.functions.min("coverage"),
      org.apache.spark.sql.functions.max("coverage")).collect().head
    assert(agg.getLong(0) == len && agg.getLong(3) == len)
    assert(agg.getLong(1) == 5L && agg.getLong(2) == 5L + len - 1)
    assert(agg.getInt(4) == 1 && agg.getInt(5) == 1)
  }

  test("intra-file splits are partition-invariant over the reference's real BAMs") {
    // round-11 verdict #4: a monolithic .bam must split WITHIN the
    // file on record-aligned virtual offsets. Index the reference's
    // own samtools-produced files (stride 1: every record is a split
    // point), then force 1/4/8/16-way splits — the planner must carve
    // that many record-exact ranges and the depth output must be
    // IDENTICAL in every layout (no lost, duplicated, or torn records).
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf()).getRawFileSystem
    val tmp = tempDir("bam_split")
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(tmp))
    for (f <- Seq("ovl.bam", "overlapping-pairs.bam"))
      org.apache.hadoop.fs.FileUtil.copy(
        new java.io.File(fixture(f)),
        fs, new org.apache.hadoop.fs.Path(s"$tmp/$f"), false,
        spark.sessionState.newHadoopConf())
    graft.sources.Bam.buildIndex(spark, tmp, every = 1)
    def depthSplit(splits: Int): Seq[(String, Long, Long, Int)] = {
      val df = spark.read.format("graft.sources.BamDataSource")
        .option("path", tmp).option("splits", splits.toString).load()
      Pileup.depth(df.select(col("chrom"), col("start"), col("flags"),
          col("cigar"), col("mapping_quality")))
        .orderBy("contig", "pos_start").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .toSeq
    }
    val base = depthSplit(1)
    assert(base.contains(("MT", 7L, 42L, 2)))         // the pinned golden
    assert(base.contains(("1", 565174L, 565253L, 2)))
    for (k <- Seq(4, 8, 16)) {
      // the planner actually splits: k ranges per file (bounded by
      // record count), not one whole-file partition
      val scan = new graft.sources.BamScan(tmp, None, Some(k))
      val parts = scan.planInputPartitions()
      assert(parts.length > 2,
        s"expected intra-file ranges at splits=$k, got ${parts.length} partitions")
      assert(parts.forall(_.asInstanceOf[graft.sources.BamInputPartition].startVirtual >= 0))
      assert(depthSplit(k) == base, s"depth changed at splits=$k")
    }
  }

  test("seq/qual decode from the reference's samtools BAM; pruned when unprojected") {
    // expectations derived INDEPENDENTLY of this codec: a python
    // stdlib (gzip+struct) decode of ovl.bam's two records, itself
    // cross-checked against the reference's pinned depth goldens
    // (32S42M@MT:1 + 74M@MT:7 reproduce blocks (1,6,1),(7,42,2),
    // (43,80,1) exactly)
    val df = spark.read.format("graft.sources.BamDataSource")
      .option("path", fixture("ovl.bam")).load()
    val rows = df.select("start", "flags", "read_name", "seq", "qual")
      .orderBy("start").collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(0) == 1L && rows(0).getInt(1) == 163)
    assert(rows(0).getString(2) == "D8WCT8Q1_0255:5:1116:4474:27171#CGATGTCGATGT")
    assert(rows(0).getString(3) ==
      "CACACGTTCCCCTTAAATAAGACATCACGATGGATCACAGGTCTATCACCCTATTAACCACTCACGGGAGCTCT")
    assert(rows(0).getString(4) ==
      "@=BDDDDHHHH3CFGHHIHIIIIGHIGHIECGGHGGG@FEGHIEGEIIFDBBFHF@F@GIGGEHIIHEBDCEEE")
    assert(rows(1).getLong(0) == 7L && rows(1).getInt(1) == 83)
    assert(rows(1).getString(3) ==
      "AGGTCTATCACCCTATTAACCACTCACGGGAGCTCTCCATGCATTTGGTATTTTCGTCTGGGGGGCATGCACGC")
    assert(rows(1).getString(4) ==
      "CCCDDCCB?ABDCDECEDCA?;B?EAFHIIHCF@JIIGFF=@IJIJIHGEIIJJJJIGHIGEFHHHHDFDFFCC")
    // a depth-shaped projection PRUNES seq/qual out of the scan: the
    // executed plan's scan description lists only the pruned columns
    val depthPlan = df.select("chrom", "start", "flags", "cigar", "mapping_quality")
      .queryExecution.executedPlan.toString
    assert(depthPlan.contains("cols=") && !depthPlan.contains("seq"),
      s"seq/qual must not reach a depth scan:\n$depthPlan")
    // aux tags (SAM-rendered TYPE:VALUE; integer widths fold to `i`
    // per samtools convention) — same independent python-stdlib
    // expectations; C-typed NM/MQ/AS/XS and Z-typed MC/MD/RG/XA
    val tagRows = df.select("start", "tags").orderBy("start").collect()
    val t0 = tagRows(0).getMap[String, String](1)
    assert(t0("MC") == "Z:74M" && t0("MD") == "Z:42" && t0("NM") == "i:0" &&
      t0("MQ") == "i:60" && t0("AS") == "i:42" && t0("XS") == "i:54" &&
      t0("RG") == "Z:GT04008021_119" && t0("XA") == "Z:17,+22020695,74M,4;",
      s"rec0 tags: $t0")
    val t1 = tagRows(1).getMap[String, String](1)
    assert(t1("MC") == "Z:32S42M" && t1("MD") == "Z:65T8" && t1("NM") == "i:1" &&
      t1("MQ") == "i:21" && t1("AS") == "i:69" && t1("XS") == "i:39",
      s"rec1 tags: $t1")
    assert(!depthPlan.contains("tags"), "tags must not reach a depth scan")
    // combined projection exercises the decode path where the stream
    // sits after qual when the aux region begins
    val both = df.select("start", "seq", "tags").orderBy("start").collect()
    assert(both(0).getString(1).startsWith("CACACGTT") &&
      both(0).getMap[String, String](2)("MD") == "Z:42")
    // this library's own BAMs store no bases: seq/qual read back null
    val own = {
      val tmp = tempDir("bam_noseq")
      import spark.implicits._
      val refs = Seq(("MT", 16569))
      graft.sources.Bam.writeShards(
        Seq(("MT", 5L, 0, 60, "10M", "r1")).toDF(
          "chrom", "start", "flags", "mapping_quality", "cigar", "read_name"),
        tmp, refs)
      spark.read.format("graft.sources.BamDataSource").option("path", tmp)
        .load().select("seq", "qual").collect().head
    }
    assert(own.isNullAt(0) && own.isNullAt(1))
  }

  test("a stale .gbi sidecar falls back to the whole-file partition") {
    // round-12 ADVICE: a rewritten BAM with a leftover sidecar would
    // cut on mis-aligned virtual offsets — the #len= header detects
    // the mismatch and the planner scans the file whole instead.
    val hconf = spark.sessionState.newHadoopConf()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(hconf).getRawFileSystem
    val tmp = tempDir("bam_stale")
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(tmp))
    org.apache.hadoop.fs.FileUtil.copy(
      new java.io.File(fixture("ovl.bam")),
      fs, new org.apache.hadoop.fs.Path(s"$tmp/ovl.bam"), false, hconf)
    graft.sources.Bam.buildIndex(spark, tmp, every = 1)
    def partsAt(k: Int) =
      new graft.sources.BamScan(tmp, None, Some(k)).planInputPartitions()
    assert(partsAt(4).length > 1, "fresh sidecar must split")
    // "rewrite" the BAM: replace it with the other reference file so
    // the recorded #len= no longer matches
    fs.delete(new org.apache.hadoop.fs.Path(s"$tmp/ovl.bam"), false)
    org.apache.hadoop.fs.FileUtil.copy(
      new java.io.File(fixture("overlapping-pairs.bam")),
      fs, new org.apache.hadoop.fs.Path(s"$tmp/ovl.bam"), false, hconf)
    val stale = partsAt(4)
    assert(stale.length == 1 &&
      stale.head.asInstanceOf[graft.sources.BamInputPartition].startVirtual < 0,
      s"stale sidecar must scan whole-file, got ${stale.toSeq}")
    // the replaced file still reads correctly end-to-end
    val rows = spark.read.format("graft.sources.BamDataSource")
      .option("path", tmp).load().count()
    assert(rows > 0)
    // headerless legacy sidecars parse as-is
    assert(graft.sources.Bam.parseIndex(Iterator("36", "1024"), 999L)
      .contains(Seq(36L, 1024L)))
  }

  test("reference dictionary decodes (MT length 16569 per the header)") {
    val fs = new java.io.FileInputStream(fixture("ovl.bam"))
    val (refs, it) = graft.sources.Bam.read(fs)
    try {
      assert(refs.exists { case (n, l) => n == "MT" && l == 16569 })
      // records decode with plausible fields (real reads carry seq/
      // qual/tags, which the reader must skip bytewise)
      val recs = it.toList
      assert(recs.nonEmpty)
      assert(recs.forall(r => r.cigarOps.nonEmpty || (r.flag & 4) != 0))
      assert(recs.forall(r => r.readName.nonEmpty))
    } finally fs.close()
  }
}
