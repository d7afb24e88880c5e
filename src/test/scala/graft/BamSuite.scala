package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import graft.sources.{Bam, BamRecord, Bgzf}

/** BAM/BGZF codec correctness (SURVEY §2 S2):
  * - BGZF blocks must be standards-conformant gzip members (pinned
  *   against the JDK's own GZIPInputStream, an independent decoder);
  * - the record READER is pinned against hand-crafted bytes laid out
  *   from the SAMv1 spec, independent of our writer;
  * - writer↔reader round-trips and the DSv2 scan with contig
  *   pushdown run over real shard files. */
class BamSuite extends SparkSpec {
  import spark.implicits._

  private def le32(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
    out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
  }
  private def le16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }

  test("BGZF blocks are standards-conformant gzip (JDK GZIPInputStream decodes them)") {
    val payload = Array.tabulate[Byte](150000)(i => (i * 31).toByte)
    val sink = new ByteArrayOutputStream()
    val out = new Bgzf.BlockOutputStream(sink)
    out.write(payload); out.close()
    val bytes = sink.toByteArray
    // ends with the spec's fixed EOF marker
    assert(bytes.takeRight(28).sameElements(Bgzf.EofMarker))
    // the JDK's own gzip decoder (multi-member aware) reproduces the payload
    val gz = new java.util.zip.GZIPInputStream(new ByteArrayInputStream(bytes))
    val got = gz.readAllBytes()
    assert(got.sameElements(payload))
    // and our own block reader does too
    val ours = new Bgzf.BlockInputStream(new ByteArrayInputStream(bytes)).readAllBytes()
    assert(ours.sameElements(payload))
  }

  test("reader decodes hand-crafted spec-layout BAM bytes (independent of our writer)") {
    // uncompressed BAM laid out by hand from the SAMv1 spec §4.2:
    // one reference chrX:1000; one record refId=0 pos=99(0-based)
    // mapq=37 flag=16 cigar 4M2D3M name "read1", no seq/qual/tags
    val raw = new ByteArrayOutputStream()
    raw.write("BAM".getBytes("UTF-8")); raw.write(1)
    le32(raw, 0)                              // l_text = 0
    le32(raw, 1)                              // n_ref
    le32(raw, 5); raw.write("chrX".getBytes("UTF-8")); raw.write(0)
    le32(raw, 1000)                           // l_ref
    val ops = Array((4 << 4) | 0, (2 << 4) | 2, (3 << 4) | 0)
    le32(raw, 32 + 6 + 4 * ops.length)        // block_size
    le32(raw, 0)                              // refID
    le32(raw, 99)                             // pos
    raw.write(6); raw.write(37); le16(raw, 4681) // l_read_name, mapq, bin
    le16(raw, ops.length); le16(raw, 16)      // n_cigar_op, flag
    le32(raw, 0)                              // l_seq
    le32(raw, -1); le32(raw, -1); le32(raw, 0) // next_refID, next_pos, tlen
    raw.write("read1".getBytes("UTF-8")); raw.write(0)
    ops.foreach(le32(raw, _))
    // BGZF-wrap and decode
    val data = raw.toByteArray
    val sink = new ByteArrayOutputStream()
    sink.write(Bgzf.compressBlock(data, 0, data.length))
    sink.write(Bgzf.EofMarker)
    val (refs, it) = Bam.read(new ByteArrayInputStream(sink.toByteArray))
    assert(refs == Seq(("chrX", 1000)))
    val recs = it.toList
    assert(recs.length == 1)
    val r = recs.head
    assert(r.refId == 0 && r.pos == 99 && r.mapq == 37 && r.flag == 16)
    assert(r.readName == "read1")
    assert(r.cigarOps.toSeq == ops.toSeq)
    assert(Bam.refLength(r.cigarOps) == 9) // 4M + 2D + 3M consume ref
  }

  test("a record whose declared lengths overrun its block_size fails loudly") {
    // the hand-crafted layout above: one reference, one good 10M
    // record, then one whose fixed fields may lie. The reader reuses
    // one record buffer, so decoding past block_size would read the
    // good record's leftover bytes instead of failing
    def bamWith(blockSize: Int, nCigar: Int, lSeq: Int): Array[Byte] = {
      val raw = new ByteArrayOutputStream()
      raw.write("BAM".getBytes("UTF-8")); raw.write(1)
      le32(raw, 0); le32(raw, 1)
      le32(raw, 5); raw.write("chrX".getBytes("UTF-8")); raw.write(0)
      le32(raw, 1000)
      def record(blockSize: Int, nCigar: Int, lSeq: Int): Unit = {
        le32(raw, blockSize); le32(raw, 0); le32(raw, 99)
        raw.write(6); raw.write(37); le16(raw, 4681)
        le16(raw, nCigar); le16(raw, 0); le32(raw, lSeq)
        le32(raw, -1); le32(raw, -1); le32(raw, 0)
        raw.write("read1".getBytes("UTF-8")); raw.write(0)
        le32(raw, 10 << 4) // 42 bytes after block_size in all
      }
      record(42, 1, 0)
      record(blockSize, nCigar, lSeq)
      val data = raw.toByteArray
      val sink = new ByteArrayOutputStream()
      sink.write(Bgzf.compressBlock(data, 0, data.length))
      sink.write(Bgzf.EofMarker)
      sink.toByteArray
    }
    def decode(bytes: Array[Byte]) = Bam.read(new ByteArrayInputStream(bytes))._2.toList
    assert(decode(bamWith(42, 1, 0)).map(_.cigarOps.toSeq) == List.fill(2)(Seq(10 << 4)))
    // block_size short of the fixed fields; n_cigar_op and l_seq past it
    for ((size, nCigar, lSeq) <- Seq((20, 1, 0), (42, 3, 0), (42, 1, 5))) {
      val e = intercept[IllegalArgumentException](decode(bamWith(size, nCigar, lSeq)))
      assert(e.getMessage.contains("corrupt BAM record at virtual offset"), e.getMessage)
    }
  }

  test("write/read round-trip preserves every field; records span BGZF blocks") {
    val rnd = new scala.util.Random(42)
    val refs = Seq(("chr1", 500000), ("chr2", 400000))
    val recs = (0 until 5000).map { i =>
      BamRecord(rnd.nextInt(2), rnd.nextInt(400000), rnd.nextInt(60),
        if (i % 10 == 0) 1024 else 0,
        Bam.packCigar(s"${50 + rnd.nextInt(100)}M${1 + rnd.nextInt(5)}D${10 + rnd.nextInt(20)}M"),
        s"r$i-${"x" * (i % 37)}") // name lengths vary so records cross block bounds
    }
    val sink = new ByteArrayOutputStream()
    Bam.write(sink, refs, recs.iterator)
    val (gotRefs, it) = Bam.read(new ByteArrayInputStream(sink.toByteArray))
    assert(gotRefs == refs)
    val got = it.toVector
    assert(got.length == recs.length)
    for ((a, b) <- got.zip(recs)) {
      assert(a.refId == b.refId && a.pos == b.pos && a.mapq == b.mapq &&
        a.flag == b.flag && a.readName == b.readName)
      assert(a.cigarOps.toSeq == b.cigarOps.toSeq)
    }
  }

  test("packCigar parses multi-op text CIGARs exactly") {
    assert(Bam.packCigar("76M").toSeq == Seq((76 << 4) | 0))
    assert(Bam.packCigar("4M2I5D3S10N1H2P1=1X").toSeq == Seq(
      (4 << 4) | 0, (2 << 4) | 1, (5 << 4) | 2, (3 << 4) | 4,
      (10 << 4) | 3, (1 << 4) | 5, (2 << 4) | 6, (1 << 4) | 7, (1 << 4) | 8))
    assert(Bam.refLength(Bam.packCigar("4M2I5D3S10N1H2P1=1X")) == 4 + 5 + 10 + 1 + 1)
  }

  test("sharded write + DSv2 scan: values, CIGAR packing, contig pushdown") {
    val df = Seq(
      ("chr1", 100L, 0, "10M", 50, "a"),
      ("chr1", 200L, 1024, "5M2D5M", 60, "b"),
      ("chr2", 300L, 0, "8M", 10, "c"),
    ).toDF("chrom", "start", "flags", "cigar", "mapping_quality", "read_name")
      .repartition(2)
    val dir = tempDir("bam_suite")
    Bam.writeShards(df, dir, Seq(("chr1", 1000000), ("chr2", 1000000)))
    val back = spark.read.format("graft.sources.BamDataSource")
      .option("path", dir).load()
    val rows = back.orderBy("start").collect()
    assert(rows.length == 3)
    val r0 = rows(0)
    assert(r0.getString(0) == "chr1" && r0.getLong(1) == 100L)
    assert(r0.getLong(2) == 109L) // end = start + 10M - 1
    assert(r0.getInt(3) == 0 && r0.getInt(5) == 50 && r0.getString(6) == "a")
    // binary CIGAR round-trips the packed ops
    val c1 = rows(1).getAs[Array[Byte]](4)
    assert(c1.length == 12) // 3 ops
    assert(rows(1).getLong(2) == 200L + 5 + 2 + 5 - 1)
    // contig pushdown: only chr2 rows decode
    val filtered = back.where($"chrom" === "chr2")
    assert(filtered.collect().map(_.getString(0)).toSeq == Seq("chr2"))
    val scanDesc = filtered.queryExecution.executedPlan.toString
    assert(scanDesc.contains("BamScan") && scanDesc.contains("chrom in chr2"))
    // depth over the BAM scan == depth over the original frame
    import org.apache.spark.sql.functions.col
    val viaBam = graft.pileup.Pileup.depth(back.select(col("chrom"),
      col("start"), col("flags"), col("cigar"), col("mapping_quality")))
      .orderBy("contig", "pos_start").collect().map(_.toSeq).toSeq
    val viaText = graft.pileup.Pileup.depth(df)
      .orderBy("contig", "pos_start").collect().map(_.toSeq).toSeq
    assert(viaBam == viaText)
  }

  /** A reads frame in BAM shards (text CIGARs kept for comparison). */
  private def bamReads(tag: String): (org.apache.spark.sql.DataFrame, String) = {
    val rnd = new scala.util.Random(7)
    val cig = Seq("40M", "20M3D20M", "10S30M", "15M200N15M", "20M2I18M")
    val df = (0 until 400).map { i =>
      (if (i % 3 == 0) "chr2" else "chr1", 1L + rnd.nextInt(5000),
        if (i % 11 == 0) 1024 else 0, cig(i % cig.length), 30)
    }.toDF("chrom", "start", "flags", "cigar", "mapping_quality").repartition(4)
    val dir = tempDir(tag)
    Bam.writeShards(df, dir, Seq(("chr1", 100000), ("chr2", 100000)), indexEvery = 16)
    (df, dir)
  }
  private def bam(dir: String, splits: Option[Int] = None) = {
    val r = spark.read.format("graft.sources.BamDataSource").option("path", dir)
    splits.fold(r)(k => r.option("splits", k.toString)).load()
  }
  private def bamScans(df: org.apache.spark.sql.DataFrame) = planNodes(df).collect {
    case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        if s.scan.isInstanceOf[graft.sources.BamScan] => s
  }
  private def reused(df: org.apache.spark.sql.DataFrame) = planNodes(df).count(
    _.isInstanceOf[org.apache.spark.sql.execution.exchange.ReusedExchangeExec])

  test("depth over a BAM scan decodes each record once: one scan, one reused exchange") {
    val (text, dir) = bamReads("bam_depth_reuse")
    val depth = graft.pileup.Pileup.depth(bam(dir))
    val got = depth.collect().map(_.toSeq).toSet
    // the final AQE plan: both prefix-sum branches read the one
    // (chrom, pos) events exchange, so the BAM is scanned once
    assert(bamScans(depth).length == 1, depth.queryExecution.executedPlan.toString)
    assert(reused(depth) == 1, depth.queryExecution.executedPlan.toString)
    assert(got == graft.pileup.Pileup.depth(text).collect().map(_.toSeq).toSet)
  }

  test("BAM scans that differ in pruned columns, chrom filter or splits are unequal and do not share") {
    import graft.sources.BamScan
    val (_, dir) = bamReads("bam_scan_eq")
    val schema = graft.sources.BamDataSource.schema
    val pruned = org.apache.spark.sql.types.StructType(schema.take(2))
    val base = new BamScan(dir, Some(Set("chr1")), Some(2), pruned)
    assert(base == new BamScan(dir, Some(Set("chr1")), Some(2), pruned))
    assert(base.hashCode == new BamScan(dir, Some(Set("chr1")), Some(2), pruned).hashCode)
    for (other <- Seq(new BamScan(dir, Some(Set("chr1")), Some(2), schema),
        new BamScan(dir, Some(Set("chr2")), Some(2), pruned),
        new BamScan(dir, None, Some(2), pruned),
        new BamScan(dir, Some(Set("chr1")), Some(3), pruned),
        new BamScan(dir + "_x", Some(Set("chr1")), Some(2), pruned)))
      assert(base != other, other.description())
    // in a plan: two reads whose plans differ only in the scan
    def perFlag(df: org.apache.spark.sql.DataFrame) = df.groupBy("flags").count()
    val same = perFlag(bam(dir).where($"chrom" === "chr1"))
      .union(perFlag(bam(dir).where($"chrom" === "chr1")))
    val n1 = same.collect().map(_.getLong(1)).sum
    assert(bamScans(same).length == 1 && reused(same) == 1)
    val byChrom = perFlag(bam(dir).where($"chrom" === "chr1"))
      .union(perFlag(bam(dir).where($"chrom" === "chr2")))
    val n2 = byChrom.collect().map(_.getLong(1)).sum
    assert(bamScans(byChrom).length == 2 && reused(byChrom) == 0)
    assert(n2 == 400 && n1 == 2 * (400 - 134))
    val bySplits = perFlag(bam(dir, Some(2))).union(perFlag(bam(dir, Some(3))))
    assert(bySplits.collect().map(_.getLong(1)).sum == 800)
    assert(bamScans(bySplits).length == 2 && reused(bySplits) == 0)
    val byCols = bam(dir).groupBy("chrom").count()
      .union(bam(dir).groupBy("chrom").agg(org.apache.spark.sql.functions.max("end")))
    byCols.collect()
    assert(bamScans(byCols).length == 2 && reused(byCols) == 0)
  }
}
