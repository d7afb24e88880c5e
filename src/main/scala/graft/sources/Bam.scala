package graft.sources

import java.io.{EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Minimal alignment record — the slice of a BAM record this library's
  * pileup contract consumes (FIXTURES.md §3): 0-based `pos`, raw
  * `flag`, `mapq`, packed binary CIGAR (little-endian u32 per op,
  * `len << 4 | op`, op order `MIDNSHP=X`), read name. `refId` indexes
  * the file's reference dictionary; -1 = unmapped. */
final case class BamRecord(
    refId: Int, pos: Int, mapq: Int, flag: Int,
    cigarOps: Array[Int], readName: String,
    seq: String = null, qual: String = null,
    tags: Array[(String, String)] = null)

/** Pure-JDK BAM binary codec (SAMv1 spec §4: BGZF container +
  * little-endian record layout) — closes SURVEY §2 S2: the reference
  * ingests BAM through its `datafusion-bio-format-bam` provider; this
  * is the Spark-native equivalent with zero dependencies beyond the
  * JDK ([[Bgzf]] for the container). Sequence/quality/tags are
  * written empty (`l_seq = 0`, legal per spec); on read, `seq`/`qual`
  * decode ONLY when projected (DSv2 column pruning) — depth/pileup
  * needs neither, and the pruned scan stays O(records), not O(bases).
  *
  * Scale shape: writing is per-partition sharded (`writeShards` — one
  * `part-NNNNN.bam` per task, the standard sharded-BAM layout, no
  * driver funnel); reading parallelizes per shard file AND within
  * files ([[BamDataSource]]): a `.gbi` sidecar of record-aligned BGZF
  * virtual offsets ([[buildIndex]] for foreign BAMs, emitted inline by
  * [[writeShards]]) lets the scan cut a monolithic multi-GB .bam —
  * the reference's own benchmark shape (NA12878 chr1, 2.0 GB,
  * README.md:683-685) — into record-exact ranges. */
object Bam {

  /** SAM spec reg2bin (§5.3): the R-tree bin for [beg, end) 0-based. */
  def reg2bin(beg: Int, end0: Int): Int = {
    val end = end0 - 1
    if ((beg >> 14) == (end >> 14)) ((1 << 15) - 1) / 7 + (beg >> 14)
    else if ((beg >> 17) == (end >> 17)) ((1 << 12) - 1) / 7 + (beg >> 17)
    else if ((beg >> 20) == (end >> 20)) ((1 << 9) - 1) / 7 + (beg >> 20)
    else if ((beg >> 23) == (end >> 23)) ((1 << 6) - 1) / 7 + (beg >> 23)
    else if ((beg >> 26) == (end >> 26)) ((1 << 3) - 1) / 7 + (beg >> 26)
    else 0
  }

  /** Reference-consuming span of a packed CIGAR (ops M/D/N/=/X). */
  def refLength(cigarOps: Array[Int]): Int = {
    var i = 0; var n = 0
    while (i < cigarOps.length) {
      val op = cigarOps(i) & 0xf
      if (op == 0 || op == 2 || op == 3 || op == 7 || op == 8)
        n += (cigarOps(i) >>> 4)
      i += 1
    }
    n
  }

  private def writeI32(out: OutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
    out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
  }
  private def writeU16(out: OutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }

  /** Write a complete BAM file: magic, SAM-header text, reference
    * dictionary, records, BGZF EOF marker. */
  def write(sink: OutputStream, refs: Seq[(String, Int)],
      records: Iterator[BamRecord]): Unit = {
    val out = new Bgzf.BlockOutputStream(sink)
    try {
      out.write("BAM".getBytes(UTF_8)); out.write(1)
      val text = ("@HD\tVN:1.6\tSO:unsorted\n" +
        refs.map { case (n, l) => s"@SQ\tSN:$n\tLN:$l\n" }.mkString)
        .getBytes(UTF_8)
      writeI32(out, text.length); out.write(text)
      writeI32(out, refs.size)
      for ((name, len) <- refs) {
        val nb = name.getBytes(UTF_8)
        writeI32(out, nb.length + 1); out.write(nb); out.write(0)
        writeI32(out, len)
      }
      for (r <- records) {
        val nameB = r.readName.getBytes(UTF_8)
        val blockSize = 32 + nameB.length + 1 + 4 * r.cigarOps.length
        writeI32(out, blockSize)
        writeI32(out, r.refId)
        writeI32(out, r.pos)
        out.write(nameB.length + 1) // l_read_name incl NUL
        out.write(r.mapq & 0xff)
        writeU16(out, reg2bin(math.max(r.pos, 0),
          math.max(r.pos, 0) + math.max(refLength(r.cigarOps), 1)))
        writeU16(out, r.cigarOps.length)
        writeU16(out, r.flag)
        writeI32(out, 0)  // l_seq
        writeI32(out, -1) // next_refID
        writeI32(out, -1) // next_pos
        writeI32(out, 0)  // tlen
        out.write(nameB); out.write(0)
        r.cigarOps.foreach(writeI32(out, _))
        // no seq, no qual, no tags
      }
    } finally out.close()
  }

  private final class LeReader(in: InputStream) {
    def readFully(buf: Array[Byte], len: Int): Unit = {
      var o = 0
      while (o < len) {
        val n = in.read(buf, o, len - o)
        if (n < 0) throw new EOFException("truncated BAM stream")
        o += n
      }
    }
    def i32(): Int = {
      val b = new Array[Byte](4); readFully(b, 4)
      (b(0) & 0xff) | ((b(1) & 0xff) << 8) | ((b(2) & 0xff) << 16) | ((b(3) & 0xff) << 24)
    }
    def tryI32(): Option[Int] = {
      val b = new Array[Byte](4)
      val first = in.read()
      if (first < 0) return None
      b(0) = first.toByte; readFully0(b, 1, 3)
      Some((b(0) & 0xff) | ((b(1) & 0xff) << 8) | ((b(2) & 0xff) << 16) | ((b(3) & 0xff) << 24))
    }
    private def readFully0(buf: Array[Byte], off: Int, len: Int): Unit = {
      var o = off
      while (o < off + len) {
        val n = in.read(buf, o, off + len - o)
        if (n < 0) throw new EOFException("truncated BAM stream")
        o += n
      }
    }
    def bytes(len: Int): Array[Byte] = { val b = new Array[Byte](len); readFully(b, len); b }
    def skip(len: Int): Unit = {
      var remaining = len.toLong
      while (remaining > 0) {
        val n = in.skip(remaining)
        if (n <= 0) { if (in.read() < 0) throw new EOFException("truncated BAM stream"); remaining -= 1 }
        else remaining -= n
      }
    }
  }

  private def readRefs(in: LeReader): Seq[(String, Int)] = {
    val magic = in.bytes(4)
    require(magic(0) == 'B' && magic(1) == 'A' && magic(2) == 'M' && magic(3) == 1,
      "not a BAM stream (bad magic)")
    val lText = in.i32()
    in.skip(lText)
    val nRef = in.i32()
    (0 until nRef).map { _ =>
      val lName = in.i32()
      val nameB = in.bytes(lName)
      val name = new String(nameB, 0, lName - 1, UTF_8) // strip NUL
      val lRef = in.i32()
      (name, lRef)
    }
  }

  /** 4-bit base codes of the SAM spec's seq encoding (§4.2.3). */
  private val SeqCodes = "=ACMGRSVTWYHKDBN".toCharArray

  /** Decode a record's aux-field region into SAM-rendered
    * (tag, "TYPE:VALUE") pairs (SAMv1 §4.2.4; samtools convention:
    * every integer width renders as `i`, B arrays as
    * `B:<subtype>,v1,v2,…`). */
  def parseAux(aux: Array[Byte]): Array[(String, String)] = {
    val out = collection.mutable.ArrayBuffer[(String, String)]()
    var p = 0
    def u8 = { val v = aux(p) & 0xff; p += 1; v }
    def i16 = { val v = ((aux(p) & 0xff) | ((aux(p + 1) & 0xff) << 8)).toShort.toInt; p += 2; v }
    def u16 = { val v = (aux(p) & 0xff) | ((aux(p + 1) & 0xff) << 8); p += 2; v }
    def i32 = { val v = (aux(p) & 0xff) | ((aux(p + 1) & 0xff) << 8) |
      ((aux(p + 2) & 0xff) << 16) | ((aux(p + 3) & 0xff) << 24); p += 4; v }
    def zstr = { val e = aux.indexOf(0, p); val s = new String(aux, p, e - p, UTF_8); p = e + 1; s }
    def one(t: Char): String = t match {
      case 'A' => "A:" + u8.toChar
      case 'c' => "i:" + u8.toByte
      case 'C' => "i:" + u8
      case 's' => "i:" + i16
      case 'S' => "i:" + u16
      case 'i' => "i:" + i32
      case 'I' => "i:" + (i32.toLong & 0xffffffffL)
      case 'f' => "f:" + java.lang.Float.intBitsToFloat(i32)
      case 'Z' => "Z:" + zstr
      case 'H' => "H:" + zstr
      case 'B' =>
        val st = u8.toChar
        val n = i32
        val vs = (0 until n).map { _ =>
          st match {
            case 'c' => u8.toByte.toString
            case 'C' => u8.toString
            case 's' => i16.toString
            case 'S' => u16.toString
            case 'i' => i32.toString
            case 'I' => (i32.toLong & 0xffffffffL).toString
            case 'f' => java.lang.Float.intBitsToFloat(i32).toString
          }
        }
        s"B:$st," + vs.mkString(",")
    }
    while (p < aux.length) {
      val tag = new String(aux, p, 2, UTF_8); p += 2
      val t = u8.toChar
      out += ((tag, one(t)))
    }
    out.toArray
  }

  /** Record iterator over `in`, stopping BEFORE the record whose
    * virtual offset (per `blockIn`) reaches `endVirtual` — the ranged
    * half of intra-file splitting: a split point is always a record
    * start, so [start, end) ranges partition a file's records exactly
    * (no duplication, no loss). `wantSeq` decodes seq/qual (otherwise
    * skipped bytewise with the tags). */
  private def records(in: LeReader, blockIn: Bgzf.BlockInputStream,
      endVirtual: Long, wantSeq: Boolean,
      wantTags: Boolean): Iterator[BamRecord] = new Iterator[BamRecord] {
    private var nextRec: BamRecord = _
    private var fetched = false
    private def fetch(): Unit = {
      fetched = true
      nextRec = null
      if (blockIn.nextVirtualOffset >= endVirtual) return
      in.tryI32() match {
        case None => ()
        case Some(blockSize) =>
          val refId = in.i32()
          val pos = in.i32()
          val lReadName = in.i32() // packs l_read_name(u8), mapq(u8), bin(u16)
          val lrn = lReadName & 0xff
          val mapq = (lReadName >> 8) & 0xff
          val flagNc = in.i32() // n_cigar_op(u16) | flag(u16) << 16
          val nCigar = flagNc & 0xffff
          val flag = (flagNc >>> 16) & 0xffff
          val lSeq = in.i32()
          in.skip(12) // next_refID, next_pos, tlen
          val nameB = in.bytes(lrn)
          val name = new String(nameB, 0, lrn - 1, UTF_8)
          val ops = new Array[Int](nCigar)
          var i = 0
          while (i < nCigar) { ops(i) = in.i32(); i += 1 }
          val consumed = 32 + lrn + 4 * nCigar
          val seqQualBytes = (lSeq + 1) / 2 + lSeq
          val auxBytes = blockSize - consumed - seqQualBytes
          var seqS: String = null; var qualS: String = null
          if (wantSeq && lSeq > 0) {
            // seq: 4-bit codes, high nibble first; qual: raw phred
            // scores, 0xff in byte 0 = unavailable (SAM '*')
            val seqB = in.bytes((lSeq + 1) / 2)
            val seqC = new Array[Char](lSeq)
            var b = 0
            while (b < lSeq) {
              val v = seqB(b >> 1) & 0xff
              seqC(b) = SeqCodes(if ((b & 1) == 0) v >>> 4 else v & 0xf)
              b += 1
            }
            seqS = new String(seqC)
            val qualB = in.bytes(lSeq)
            if ((qualB(0) & 0xff) != 0xff) {
              val qc = new Array[Char](lSeq)
              var i = 0
              while (i < lSeq) { qc(i) = ((qualB(i) & 0xff) + 33).toChar; i += 1 }
              qualS = new String(qc)
            }
          }
          // stream position: after qual when seq was decoded, else
          // still before seq — skip to the aux region or past the rest
          val seqDecoded = wantSeq && lSeq > 0
          var tags: Array[(String, String)] = null
          if (wantTags) {
            if (!seqDecoded) in.skip(seqQualBytes)
            tags =
              if (auxBytes > 0) parseAux(in.bytes(auxBytes))
              else Array.empty[(String, String)]
          } else {
            in.skip(auxBytes + (if (seqDecoded) 0 else seqQualBytes))
          }
          nextRec = BamRecord(refId, pos, mapq, flag, ops, name, seqS, qualS, tags)
      }
    }
    override def hasNext: Boolean = { if (!fetched) fetch(); nextRec != null }
    override def next(): BamRecord = {
      if (!hasNext) throw new NoSuchElementException
      fetched = false
      nextRec
    }
  }

  /** Read a BAM stream: (reference dictionary, record iterator). The
    * iterator decodes lazily; seq/qual/tags are skipped bytewise. */
  def read(source: InputStream, wantSeq: Boolean = false,
      wantTags: Boolean = false): (Seq[(String, Int)], Iterator[BamRecord]) = {
    val blockIn = new Bgzf.BlockInputStream(source)
    val in = new LeReader(blockIn)
    (readRefs(in), records(in, blockIn, Long.MaxValue, wantSeq, wantTags))
  }

  /** Decode the records of the virtual-offset range [startVirtual,
    * endVirtual) from `source`, which MUST already be seeked to
    * `startVirtual`'s compressed block offset. Both bounds must be
    * record starts (sidecar split points — [[indexFile]]). */
  def readRange(source: InputStream, startVirtual: Long, endVirtual: Long,
      wantSeq: Boolean = false, wantTags: Boolean = false): Iterator[BamRecord] = {
    val blockIn = new Bgzf.BlockInputStream(source, startVirtual >>> 16)
    val in = new LeReader(blockIn)
    val inBlock = (startVirtual & 0xffff).toInt
    if (inBlock > 0) in.skip(inBlock)
    records(in, blockIn, endVirtual, wantSeq, wantTags)
  }

  /** One linear pass over a .bam: the virtual offsets of every
    * `every`-th record start (the first record always included),
    * ascending — the split points intra-file parallel scans cut on.
    * The analogue of a .bai's virtual-offset chunks, shape-only (no
    * bins: this index exists for SPLITTING, not region queries). */
  def indexOffsets(source: InputStream, every: Int): Seq[Long] = {
    require(every >= 1, s"index stride must be >= 1, got $every")
    val blockIn = new Bgzf.BlockInputStream(source)
    val in = new LeReader(blockIn)
    readRefs(in)
    val out = collection.mutable.ArrayBuffer[Long]()
    var n = 0L
    var voff = blockIn.nextVirtualOffset
    while (voff != Long.MaxValue) {
      in.tryI32() match {
        case None => voff = Long.MaxValue
        case Some(blockSize) =>
          if (n % every == 0) out += voff
          in.skip(blockSize)
          n += 1
          voff = blockIn.nextVirtualOffset
      }
    }
    out.toSeq
  }

  /** Sidecar split-index path for a .bam file. */
  def indexPath(bam: Path): Path = new Path(bam.getParent, bam.getName + ".gbi")

  /** Serialize a `.gbi` sidecar: a `#len=<bam bytes>` staleness header
    * (a rewritten BAM with a leftover sidecar would otherwise cut on
    * mis-aligned virtual offsets — usually a CRC error, but offsets
    * landing on plausible block boundaries could drop or duplicate
    * records silently) followed by one ascending virtual offset per
    * line. */
  def renderIndex(offsets: Seq[Long], bamLen: Long): Array[Byte] =
    (s"#len=$bamLen\n" + offsets.mkString("", "\n", "\n")).getBytes(UTF_8)

  /** Parse a `.gbi` sidecar; `None` when its `#len=` header no longer
    * matches the BAM's current byte length (stale — caller must fall
    * back to the whole-file partition). Headerless legacy sidecars
    * are accepted as-is. */
  def parseIndex(lines: Iterator[String], bamLen: Long): Option[Seq[Long]] = {
    val all = lines.filter(_.nonEmpty).toVector
    val (hdr, offs) = all.partition(_.startsWith("#"))
    val recordedLen = hdr.collectFirst {
      case h if h.startsWith("#len=") => h.stripPrefix("#len=").toLong
    }
    if (recordedLen.exists(_ != bamLen)) None
    else Some(offs.map(_.toLong))
  }

  /** Build the `.gbi` sidecar for every .bam under `path` (or the
    * single file) — one linear scan per file, the same cost profile as
    * `samtools index`. Foreign BAMs (any producer) index the same way:
    * virtual offsets need no cooperation from the writer. */
  def buildIndex(spark: SparkSession, path: String, every: Int = 4096): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(new java.net.URI(path), conf)
    val stat = fs.globStatus(new Path(path, "*.bam"))
    val files =
      if (stat != null && stat.nonEmpty) stat.toSeq
      else Seq(fs.getFileStatus(new Path(path)))
    for (s <- files if s.isFile) {
      val in = fs.open(s.getPath)
      val offsets = try indexOffsets(in, every) finally in.close()
      val w = fs.create(indexPath(s.getPath), true)
      try w.write(renderIndex(offsets, s.getLen))
      finally w.close()
    }
  }

  /** Reference dictionary of a BAM file or shard directory as a
    * `(chrom, length)` DataFrame — the contig-length input
    * [[graft.pileup.Pileup.depthPerBaseFull]] takes. Header-only
    * reads (first BGZF blocks of each shard), driver-side: the
    * dictionary is bounded by contig count, not data. */
  def contigLengths(spark: SparkSession, path: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(new java.net.URI(path), conf)
    val stat = fs.globStatus(new Path(path, "*.bam"))
    val files =
      if (stat != null && stat.nonEmpty) stat.toSeq
      else Seq(fs.getFileStatus(new Path(path)))
    val refs = files.filter(_.isFile).flatMap { s =>
      val in = fs.open(s.getPath)
      try read(in)._1 finally in.close()
    }.distinct
    spark.createDataFrame(
      refs.map { case (n, l) => org.apache.spark.sql.Row(n, l) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("chrom",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("length",
          org.apache.spark.sql.types.IntegerType))))
  }

  /** Parse a text CIGAR ("76M2I5D…") into packed binary ops. */
  def packCigar(cigar: String): Array[Int] = {
    val opIdx = "MIDNSHP=X"
    val out = collection.mutable.ArrayBuffer[Int]()
    var n = 0
    var i = 0
    while (i < cigar.length) {
      val c = cigar.charAt(i)
      if (c.isDigit) n = n * 10 + (c - '0')
      else {
        val op = opIdx.indexOf(c)
        require(op >= 0, s"bad CIGAR op '$c' in $cigar")
        out += (n << 4) | op
        n = 0
      }
      i += 1
    }
    out.toArray
  }

  /** Write `df` as a directory of per-partition BAM shards (the
    * standard sharded-BAM layout; no driver funnel). Expected columns:
    * `chrom` (string), `start` (1-based, any integral type), `flags`,
    * `mapping_quality` (ints), `cigar` (text CIGAR string), and
    * optionally `read_name`. `refs` is the reference dictionary;
    * chroms outside it fail loudly. Returns `path`.
    *
    * Each task also emits its shard's `.gbi` split sidecar
    * (`indexEvery`-record virtual-offset stride; <= 0 disables) — one
    * extra sequential read of the bytes the task just wrote, so a
    * later scan can split WITHIN a shard too (a skewed task can
    * produce a multi-GB shard even in the sharded layout). */
  def writeShards(df: DataFrame, path: String, refs: Seq[(String, Int)],
      indexEvery: Int = 4096): String = {
    val spark = df.sparkSession
    val hconf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val refIdx = refs.zipWithIndex.map { case ((n, _), i) => n -> i }.toMap
    val fs0 = FileSystem.get(new java.net.URI(path), hconf.value)
    fs0.delete(new Path(path), true)
    fs0.mkdirs(new Path(path))
    val hasName = df.columns.contains("read_name")
    val cols = Seq(col("chrom"), col("start").cast("long"),
      col("flags").cast("int"), col("mapping_quality").cast("int"),
      col("cigar")) ++ (if (hasName) Seq(col("read_name")) else Nil)
    val bRefIdx = spark.sparkContext.broadcast(refIdx)
    df.select(cols: _*).rdd.foreachPartition { it =>
      val tid = org.apache.spark.TaskContext.get().partitionId()
      val fs = FileSystem.get(new java.net.URI(path), hconf.value)
      val shard = new Path(path, f"part-$tid%05d.bam")
      val out = fs.create(shard, true)
      val idx = bRefIdx.value
      val recs = it.zipWithIndex.map { case (r, i) =>
        val chrom = r.getString(0)
        val refId = idx.getOrElse(chrom,
          throw new IllegalArgumentException(s"chrom '$chrom' not in reference dictionary"))
        // the library is i64-coordinate end-to-end (SURVEY §7.4.2) but
        // BAM positions are i32 on disk — fail loudly instead of
        // silently wrapping a record negative. start 0 is allowed: it
        // encodes as pos -1 (the BAM unplaced convention) and
        // round-trips back to 0 through the reader's pos+1.
        val start = r.getLong(1)
        require(start >= 0 && start <= Int.MaxValue,
          s"BAM positions are i32: start $start at $chrom out of [0, ${Int.MaxValue}]")
        BamRecord(refId, start.toInt - 1, r.getInt(3), r.getInt(2),
          packCigar(r.getString(4)),
          if (hasName && !r.isNullAt(5)) r.getString(5) else s"r$tid-$i")
      }
      write(out, refs, recs)
      if (indexEvery > 0) {
        val len = fs.getFileStatus(shard).getLen
        val in = fs.open(shard)
        val offsets = try indexOffsets(in, indexEvery) finally in.close()
        val w = fs.create(indexPath(shard), true)
        try w.write(renderIndex(offsets, len))
        finally w.close()
      }
    }
    path
  }
}

/** DataSource V2 reader for BAM (SURVEY §2 S2): one input partition
  * per shard file, contig equality/IN pushdown at the record decoder
  * (rows for other contigs drop before InternalRow materialization —
  * the analogue of the reference's per-contig region queries).
  *
  * Usage: `spark.read.format("graft.sources.BamDataSource")
  * .option("path", dir).load()` → `(chrom, start, end, flags, cigar
  * BINARY packed ops, mapping_quality, read_name)`; `start`/`end`
  * 1-based closed (weak), end derived from the CIGAR's
  * reference-consuming ops — exactly the pileup contract, so
  * `Pileup.depth` consumes the scan directly. */
class BamDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = BamDataSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new BamTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = true
}

object BamDataSource {
  /** `seq`/`qual` (SAM-rendered: base letters, phred+33; null when the
    * record stores none) decode ONLY when projected — column pruning
    * reaches the record decoder, so depth/pileup scans stay
    * O(records) exactly as before the columns existed. */
  val schema: StructType = StructType(Seq(
    StructField("chrom", StringType),
    StructField("start", LongType),
    StructField("end", LongType),
    StructField("flags", IntegerType),
    StructField("cigar", BinaryType),
    StructField("mapping_quality", IntegerType),
    StructField("read_name", StringType),
    StructField("seq", StringType),
    StructField("qual", StringType),
    StructField("tags", MapType(StringType, StringType))))
}

class BamTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"bam($path)"
  override def schema(): StructType = BamDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BamScanBuilder(if (path != null) path else options.get("path"),
      Option(options.get("splits")).map(_.toInt))
}

class BamScanBuilder(path: String, splits: Option[Int] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  private var chromFilter: Option[Set[String]] = None
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = BamDataSource.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // same single-predicate contract as VcfScanBuilder: claim exactly
    // one chrom equality/IN; everything else stays residual
    val first = filters.collectFirst {
      case f @ EqualTo("chrom", _: String) => f
      case f @ In("chrom", vs) if vs.forall(_.isInstanceOf[String]) => f
    }
    first.foreach {
      case EqualTo(_, v: String) => chromFilter = Some(Set(v))
      case In(_, vs) => chromFilter = Some(vs.map(_.asInstanceOf[String]).toSet)
      case _ =>
    }
    pushed = first.toArray
    filters.filterNot(f => first.contains(f))
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new BamScan(path, chromFilter, splits, required)
}

class BamScan(path: String, chromFilter: Option[Set[String]],
    splits: Option[Int] = None,
    requiredSchema: StructType = BamDataSource.schema) extends Scan with Batch {
  private val hadoopConf = new SerializableHadoopConf(
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
  private val maxPartitionBytes =
    try org.apache.spark.sql.SparkSession.active.sessionState.conf.filesMaxPartitionBytes
    catch { case _: Exception => 128L * 1024 * 1024 }
  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"BamScan($path${chromFilter.map(c => s", chrom in ${c.toSeq.sorted.mkString(",")}").getOrElse("")}, cols=${requiredSchema.fieldNames.mkString(",")})"

  /** A monolithic multi-GB .bam no longer scans on one task: when a
    * `.gbi` sidecar exists ([[Bam.buildIndex]] / [[Bam.writeShards]]),
    * the file splits WITHIN itself on record-aligned virtual offsets —
    * grouped to `spark.sql.files.maxPartitionBytes` of compressed
    * bytes, or into exactly `splits` ranges when the read option is
    * set. Files without a sidecar scan whole, as before. */
  override def planInputPartitions(): Array[InputPartition] = {
    val fs = FileSystem.get(new java.net.URI(path), hadoopConf.value)
    val stat = fs.globStatus(new Path(path, "*.bam"))
    val files =
      if (stat != null && stat.nonEmpty) stat.toSeq
      else Seq(fs.getFileStatus(new Path(path)))
    files.filter(_.isFile).flatMap { s =>
      val gbi = Bam.indexPath(s.getPath)
      val offsets: Seq[Long] =
        if (fs.exists(gbi)) {
          val in = fs.open(gbi)
          // stale sidecar (BAM rewritten since indexing) → whole-file
          try Bam.parseIndex(
            scala.io.Source.fromInputStream(in, "UTF-8").getLines(), s.getLen)
            .getOrElse(Nil)
          finally in.close()
        } else Nil
      val endV = s.getLen << 16
      if (offsets.size <= 1)
        Seq(BamInputPartition(s.getPath.toString, -1L, endV): InputPartition)
      else {
        // cut points: every Nth offset for an explicit split count,
        // else the first offset whose compressed distance from the
        // range start reaches maxPartitionBytes
        val starts = splits match {
          case Some(k) if k >= 1 =>
            val step = math.max(1, math.ceil(offsets.size.toDouble / k).toInt)
            offsets.grouped(step).map(_.head).toVector
          case _ =>
            val cuts = collection.mutable.ArrayBuffer(offsets.head)
            for (o <- offsets.tail)
              if ((o >>> 16) - (cuts.last >>> 16) >= maxPartitionBytes) cuts += o
            cuts.toVector
        }
        starts.zipWithIndex.map { case (st, i) =>
          val en = if (i + 1 < starts.size) starts(i + 1) else endV
          BamInputPartition(s.getPath.toString, st, en): InputPartition
        }
      }
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new BamReaderFactory(chromFilter, hadoopConf, requiredSchema)
}

/** `startVirtual` < 0 means the legacy whole-file scan (no sidecar);
  * otherwise [startVirtual, endVirtual) is a record-aligned range. */
case class BamInputPartition(file: String, startVirtual: Long, endVirtual: Long)
    extends InputPartition

class BamReaderFactory(chromFilter: Option[Set[String]], hadoopConf: SerializableHadoopConf,
    requiredSchema: StructType = BamDataSource.schema)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[BamInputPartition]
    val file = part.file
    // pruned scan: seq/qual bytes decode only when one of them is
    // projected; every other column evaluates only into its own slot
    val wantSeq = requiredSchema.fieldNames.exists(f => f == "seq" || f == "qual")
    val wantTags = requiredSchema.fieldNames.contains("tags")
    new PartitionReader[InternalRow] {
      private val fs = FileSystem.get(new java.net.URI(file), hadoopConf.value)
      private val stream = fs.open(new Path(file))
      private val (refs, it) =
        if (part.startVirtual < 0) Bam.read(stream, wantSeq, wantTags)
        else {
          // ranged scan: decode the header for the dictionary (first
          // blocks only — the record iterator is never touched), then
          // seek to the range's compressed block start and decode
          // records until the end virtual offset
          val (r, _) = Bam.read(stream)
          stream.seek(part.startVirtual >>> 16)
          (r, Bam.readRange(stream, part.startVirtual, part.endVirtual, wantSeq, wantTags))
        }
      private val names = refs.map(_._1).toArray
      private val keep: Int => Boolean = chromFilter match {
        case Some(set) =>
          val mask = names.map(set.contains)
          id => id >= 0 && id < mask.length && mask(id)
        case None => _ => true
      }
      // one evaluator per REQUIRED column, in the pruned schema's
      // field order (Spark passes the prune result in table order)
      private val evals: Array[BamRecord => Any] =
        requiredSchema.fieldNames.map[BamRecord => Any] {
          case "chrom" => r =>
            if (r.refId >= 0 && r.refId < names.length)
              UTF8String.fromString(names(r.refId)) else null
          case "start" => r => r.pos.toLong + 1
          case "end" => r => r.pos.toLong + 1 + math.max(Bam.refLength(r.cigarOps), 1) - 1
          case "flags" => r => r.flag
          case "cigar" => r => {
            val bytes = new Array[Byte](4 * r.cigarOps.length)
            var i = 0
            while (i < r.cigarOps.length) {
              val v = r.cigarOps(i)
              bytes(4 * i) = (v & 0xff).toByte
              bytes(4 * i + 1) = ((v >> 8) & 0xff).toByte
              bytes(4 * i + 2) = ((v >> 16) & 0xff).toByte
              bytes(4 * i + 3) = ((v >> 24) & 0xff).toByte
              i += 1
            }
            bytes
          }
          case "mapping_quality" => r => r.mapq
          case "read_name" => r => UTF8String.fromString(r.readName)
          case "seq" => r => if (r.seq == null) null else UTF8String.fromString(r.seq)
          case "qual" => r => if (r.qual == null) null else UTF8String.fromString(r.qual)
          case "tags" => r =>
            if (r.tags == null) null
            else org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
              r.tags.map(t => UTF8String.fromString(t._1)),
              r.tags.map(t => UTF8String.fromString(t._2)))
          case other => throw new IllegalArgumentException(s"unknown BAM column '$other'")
        }
      private var row: InternalRow = _
      override def next(): Boolean = {
        while (it.hasNext) {
          val r = it.next()
          if (keep(r.refId)) {
            row = InternalRow.fromSeq(evals.map(_(r)).toSeq)
            return true
          }
        }
        false
      }
      override def get(): InternalRow = row
      // long-lived executors scan many shards per task lifetime: an
      // unclosed FSDataInputStream is a leaked fd per shard (worst
      // with contig pushdown, where whole files are read and dropped)
      override def close(): Unit = stream.close()
    }
  }
}
