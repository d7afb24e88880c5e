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
    while (i < cigarOps.length) { n += refSpan(cigarOps(i)); i += 1 }
    n
  }

  /** Reference bases one packed op consumes (M/D/N/=/X, else 0). */
  private def refSpan(op: Int): Int = (op & 0xf) match {
    case 0 | 2 | 3 | 7 | 8 => op >>> 4
    case _ => 0
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
    def readFully(buf: Array[Byte], off: Int, len: Int): Unit = {
      var o = off
      while (o < off + len) {
        val n = in.read(buf, o, off + len - o)
        if (n < 0) throw new EOFException("truncated BAM stream")
        o += n
      }
    }
    def i32(): Int = {
      val b = bytes(4)
      (b(0) & 0xff) | ((b(1) & 0xff) << 8) | ((b(2) & 0xff) << 16) | ((b(3) & 0xff) << 24)
    }
    def bytes(len: Int): Array[Byte] = { val b = new Array[Byte](len); readFully(b, 0, len); b }
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

  /** A record cursor over `blockIn`, stopping BEFORE the record whose
    * virtual offset reaches `endVirtual` — the ranged half of
    * intra-file splitting: a split point is always a record start, so
    * [start, end) ranges partition a file's records exactly (no
    * duplication, no loss). Each record is read whole into one reused
    * buffer; the fixed fields decode on access and every
    * variable-length field (name, CIGAR, seq/qual, tags) only when a
    * caller asks for it. */
  private[sources] final class RecordCursor(blockIn: Bgzf.BlockInputStream,
      endVirtual: Long) {
    private val in = new LeReader(blockIn)
    private var buf = new Array[Byte](256)
    private var size = 0

    /** Load the next record; false at the range end or stream end. A
      * record whose `block_size` cannot hold its fixed fields, or whose
      * name, CIGAR and seq/qual lengths run past it, throws
      * `IllegalArgumentException` naming its virtual offset — the
      * buffer is reused, so decoding it would read the previous
      * record's bytes. */
    def advance(): Boolean = {
      val at = blockIn.nextVirtualOffset
      if (at >= endVirtual) return false
      val first = blockIn.read()
      if (first < 0) return false
      buf(0) = first.toByte
      in.readFully(buf, 1, 3)
      size = i32(0)
      require(size >= 32, s"corrupt BAM record at virtual offset $at: block_size $size < 32")
      if (size > buf.length) buf = new Array[Byte](math.max(size, 2 * buf.length))
      in.readFully(buf, 0, size)
      require(nameLen >= 1 && lSeq >= 0 && seqOff + (lSeq + 1L) / 2 + lSeq <= size,
        s"corrupt BAM record at virtual offset $at: l_read_name $nameLen, " +
          s"n_cigar_op $nCigar and l_seq $lSeq overrun block_size $size")
      true
    }

    private def u8(o: Int): Int = buf(o) & 0xff
    private def u16(o: Int): Int = u8(o) | (u8(o + 1) << 8)
    private def i32(o: Int): Int = u16(o) | (u16(o + 2) << 16)

    def refId: Int = i32(0)
    def pos: Int = i32(4)
    def mapq: Int = u8(9)
    def flag: Int = u16(14)
    private def nameLen: Int = u8(8) // NUL included
    private def nCigar: Int = u16(12)
    private def lSeq: Int = i32(16)
    private def cigarOff: Int = 32 + nameLen
    private def seqOff: Int = cigarOff + 4 * nCigar

    def readName: String = new String(buf, 32, nameLen - 1, UTF_8)
    def readNameUtf8: UTF8String = UTF8String.fromBytes(buf, 32, nameLen - 1)
    /** The packed ops as stored: little-endian u32 `len << 4 | op`. */
    def cigarBytes: Array[Byte] = util.Arrays.copyOfRange(buf, cigarOff, seqOff)
    def cigarOps: Array[Int] = {
      val ops = new Array[Int](nCigar)
      var i = 0
      while (i < ops.length) { ops(i) = i32(cigarOff + 4 * i); i += 1 }
      ops
    }
    /** Reference-consuming span ([[refLength]]) read off the buffer. */
    def refLength: Int = {
      var o = cigarOff; var n = 0
      while (o < seqOff) { n += refSpan(i32(o)); o += 4 }
      n
    }

    /** seq: 4-bit codes, high nibble first; null when none stored. */
    def seq: String = {
      val n = lSeq
      if (n <= 0) return null
      val c = new Array[Char](n)
      var b = 0
      while (b < n) {
        val v = u8(seqOff + (b >> 1))
        c(b) = SeqCodes(if ((b & 1) == 0) v >>> 4 else v & 0xf)
        b += 1
      }
      new String(c)
    }
    /** qual: raw phred scores rendered +33; null when none stored or
      * byte 0 is 0xff (SAM '*'). */
    def qual: String = {
      val n = lSeq
      val o = seqOff + (n + 1) / 2
      if (n <= 0 || u8(o) == 0xff) return null
      val c = new Array[Char](n)
      var i = 0
      while (i < n) { c(i) = (u8(o + i) + 33).toChar; i += 1 }
      new String(c)
    }
    def tags: Array[(String, String)] = {
      val o = seqOff + (lSeq + 1) / 2 + lSeq
      if (o < size) parseAux(util.Arrays.copyOfRange(buf, o, size))
      else Array.empty[(String, String)]
    }

    /** The records as [[BamRecord]]s; `wantSeq` decodes seq/qual and
      * `wantTags` the tags (otherwise null). */
    def records(wantSeq: Boolean, wantTags: Boolean): Iterator[BamRecord] = {
      val r = this
      new Iterator[BamRecord] {
        private var ready = false
        private var more = false
        override def hasNext: Boolean = {
          if (!ready) { more = r.advance(); ready = true }
          more
        }
        override def next(): BamRecord = {
          if (!hasNext) throw new NoSuchElementException
          ready = false
          BamRecord(r.refId, r.pos, r.mapq, r.flag, r.cigarOps, r.readName,
            if (wantSeq) r.seq else null, if (wantSeq) r.qual else null,
            if (wantTags) r.tags else null)
        }
      }
    }
  }

  /** Reference dictionary and a record cursor over a whole BAM stream. */
  private[sources] def open(source: InputStream): (Seq[(String, Int)], RecordCursor) = {
    val blockIn = new Bgzf.BlockInputStream(source)
    (readRefs(new LeReader(blockIn)), new RecordCursor(blockIn, Long.MaxValue))
  }

  /** A record cursor over the virtual-offset range [startVirtual,
    * endVirtual) of `source`, which MUST already be seeked to
    * `startVirtual`'s compressed block offset. Both bounds must be
    * record starts (sidecar split points — [[indexOffsets]]). */
  private[sources] def openRange(source: InputStream, startVirtual: Long,
      endVirtual: Long): RecordCursor = {
    val blockIn = new Bgzf.BlockInputStream(source, startVirtual >>> 16)
    val inBlock = (startVirtual & 0xffff).toInt
    if (inBlock > 0) new LeReader(blockIn).skip(inBlock)
    new RecordCursor(blockIn, endVirtual)
  }

  /** Read a BAM stream: (reference dictionary, record iterator). The
    * iterator decodes lazily; seq/qual/tags decode only when asked. */
  def read(source: InputStream, wantSeq: Boolean = false,
      wantTags: Boolean = false): (Seq[(String, Int)], Iterator[BamRecord]) = {
    val (refs, cursor) = open(source)
    (refs, cursor.records(wantSeq, wantTags))
  }

  /** One linear pass over a .bam: the virtual offsets of every
    * `every`-th record start (the first record always included),
    * ascending — the split points intra-file parallel scans cut on.
    * The analogue of a .bai's virtual-offset chunks, shape-only (no
    * bins: this index exists for SPLITTING, not region queries). */
  def indexOffsets(source: InputStream, every: Int): Seq[Long] = {
    require(every >= 1, s"index stride must be >= 1, got $every")
    val blockIn = new Bgzf.BlockInputStream(source)
    readRefs(new LeReader(blockIn))
    val cursor = new RecordCursor(blockIn, Long.MaxValue)
    val out = collection.mutable.ArrayBuffer[Long]()
    var n = 0L
    var voff = blockIn.nextVirtualOffset
    while (cursor.advance()) {
      if (n % every == 0) out += voff
      n += 1
      voff = blockIn.nextVirtualOffset
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

/** Equality: two scans are equal when their path, pushed chrom filter
  * and pruned schema — everything that decides their rows — and their
  * `splits` read option are. Spark's `BatchScanExec` compares its
  * batch (this scan) with `equals`, so two copies of one read in a
  * plan (depth's two prefix-sum branches, any self-join) let
  * ReuseExchange and AQE's stage cache run their shared exchange once;
  * under reference equality they never match. `splits` decides only
  * how the rows are partitioned, not which rows there are; it stays in
  * the key to be conservative, so a read that asks for its own split
  * count gets its own scan. */
class BamScan(path: String, chromFilter: Option[Set[String]],
    splits: Option[Int] = None,
    requiredSchema: StructType = BamDataSource.schema) extends Scan with Batch {
  private def key = (path, chromFilter, splits, requiredSchema)
  override def equals(other: Any): Boolean = other match {
    case o: BamScan => key == o.key
    case _ => false
  }
  override def hashCode(): Int = key.hashCode()
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
    new PartitionReader[InternalRow] {
      private val fs = FileSystem.get(new java.net.URI(file), hadoopConf.value)
      private val stream = fs.open(new Path(file))
      private val (refs, cursor) =
        if (part.startVirtual < 0) Bam.open(stream)
        else {
          // ranged scan: decode the header for the dictionary (first
          // blocks only — its cursor is never advanced), then seek to
          // the range's compressed block start and decode records
          // until the end virtual offset
          val (r, _) = Bam.open(stream)
          stream.seek(part.startVirtual >>> 16)
          (r, Bam.openRange(stream, part.startVirtual, part.endVirtual))
        }
      // one engine string per reference id, shared by its rows
      private val chroms = refs.map(r => UTF8String.fromString(r._1)).toArray
      private val keep: Int => Boolean = chromFilter match {
        case Some(set) =>
          val mask = refs.map(r => set.contains(r._1)).toArray
          id => id >= 0 && id < mask.length && mask(id)
        case None => _ => true
      }
      // pruned scan: one evaluator per REQUIRED column, in the pruned
      // schema's field order (Spark passes the prune result in table
      // order); a variable-length field decodes only when projected
      private val evals: Array[Bam.RecordCursor => Any] =
        requiredSchema.fieldNames.map[Bam.RecordCursor => Any] {
          case "chrom" => r =>
            val id = r.refId
            if (id >= 0 && id < chroms.length) chroms(id) else null
          case "start" => r => r.pos.toLong + 1
          case "end" => r => r.pos.toLong + 1 + math.max(r.refLength, 1) - 1
          case "flags" => r => r.flag
          case "cigar" => r => r.cigarBytes
          case "mapping_quality" => r => r.mapq
          case "read_name" => r => r.readNameUtf8
          case "seq" => r => UTF8String.fromString(r.seq)
          case "qual" => r => UTF8String.fromString(r.qual)
          case "tags" => r =>
            val t = r.tags
            org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
              t.map(x => UTF8String.fromString(x._1)),
              t.map(x => UTF8String.fromString(x._2)))
          case other => throw new IllegalArgumentException(s"unknown BAM column '$other'")
        }
      private var row: InternalRow = _
      override def next(): Boolean = {
        while (cursor.advance()) {
          if (keep(cursor.refId)) {
            val values = new Array[Any](evals.length)
            var i = 0
            while (i < values.length) { values(i) = evals(i)(cursor); i += 1 }
            row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
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
