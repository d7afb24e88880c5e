package graft.pileup

import scala.collection.immutable.ArraySeq
import org.apache.spark.unsafe.types.UTF8String

/** CIGAR walking for depth-of-coverage.
  *
  * Op semantics (reference pileup/src/cigar.rs:41-66,101-118):
  * `M`,`X`,`=` consume reference AND emit coverage; `D`,`N` consume
  * reference without coverage; `I`,`S`,`H`,`P` consume nothing.
  * Binary CIGARs are packed little-endian u32 ops `len<<4 | op`
  * (cigar.rs:170-210) with op codes M=0 I=1 D=2 N=3 S=4 H=5 P=6 ==7 X=8.
  * [[CigarWalk]] is the one walker; the functions here and the depth
  * generator ([[graft.plans.CigarEvents]]) call it.
  */
object Cigar {

  /** Coverage segments [s, e) in reference coordinates for a read
    * aligned at `start` (0-based). Adjacent M runs split by I (which
    * consumes nothing) coalesce; runs split by D/N do not. */
  def coveredSegments(start: Long, cigar: String): Seq[(Long, Long)] = {
    val w = new CigarWalk
    segments(w, w.walkText(start, UTF8String.fromString(cigar)))
  }

  /** Binary packed form: little-endian u32 per op, `len<<4 | op`. */
  def coveredSegmentsBinary(start: Long, packed: Array[Byte]): Seq[(Long, Long)] = {
    val w = new CigarWalk
    segments(w, w.walkPacked(start, packed))
  }

  private def segments(w: CigarWalk, n: Int): Seq[(Long, Long)] = {
    val out = new Array[(Long, Long)](n / 2)
    var i = 0
    while (i < out.length) { out(i) = (w.bound(2 * i), w.bound(2 * i + 1)); i += 1 }
    ArraySeq.unsafeWrapArray(out)
  }

  /** SAM-flag + MAPQ read filter (reference pileup/src/filter.rs:1-34):
    * keep iff `(flags & filterFlag) == 0 && mapq >= minMapq`;
    * default mask 1796 = unmapped|secondary|qcfail|dup. */
  def passes(flags: Int, mapq: Int, filterFlag: Int = 1796, minMapq: Int = 0): Boolean =
    (flags & filterFlag) == 0 && mapq >= minMapq
}

/** Reusable CIGAR cursor: a walk fills a primitive buffer with the
  * covered segments' boundaries `s0, e0, s1, e1, …` (see
  * [[Cigar.coveredSegments]] for the rule) and returns their count,
  * so a caller that walks many reads allocates nothing per read. The
  * packed form decodes its u32 ops in place; the text form parses
  * digits and op letters off the engine's `UTF8String` bytes without
  * decoding them (a CIGAR is ASCII, so one byte is one character). A
  * bad op letter or op code throws `IllegalArgumentException`. */
final class CigarWalk {
  private var bounds = new Array[Long](4)
  private var n = 0
  private var pos = 0L
  private var segStart = -1L
  private var len = 0L // pending text op length

  /** Boundary `i` of the last walk (even = segment start, odd = end). */
  def bound(i: Int): Long = bounds(i)

  def walkPacked(start: Long, packed: Array[Byte]): Int = {
    begin(start)
    var i = 0
    while (i + 3 < packed.length) {
      val v = (packed(i) & 0xffL) | ((packed(i + 1) & 0xffL) << 8) |
        ((packed(i + 2) & 0xffL) << 16) | ((packed(i + 3) & 0xffL) << 24)
      val code = (v & 0xf).toInt
      if (!op(code, v >>> 4))
        throw new IllegalArgumentException(s"bad packed CIGAR op code $code")
      i += 4
    }
    finish()
  }

  def walkText(start: Long, cigar: UTF8String): Int = {
    begin(start)
    var i = 0
    val end = cigar.numBytes
    while (i < end) {
      val c = cigar.getByte(i)
      if (!textChar(c))
        throw new IllegalArgumentException(s"bad CIGAR op '${(c & 0xff).toChar}' in '$cigar'")
      i += 1
    }
    finish()
  }

  private def begin(start: Long): Unit = {
    n = 0; pos = start; segStart = -1L; len = 0L
  }

  /** Apply one op (code order `MIDNSHP=X`); false for an unknown code. */
  private def op(code: Int, oplen: Long): Boolean = code match {
    case 0 | 7 | 8 =>
      if (segStart < 0) segStart = pos
      pos += oplen; true
    case 2 | 3 =>
      if (segStart >= 0) close()
      pos += oplen; true
    case 1 | 4 | 5 | 6 => true
    case _ => false
  }

  /** A digit extends the pending length; an op letter applies it. */
  private def textChar(c: Int): Boolean =
    if (c >= '0' && c <= '9') { len = len * 10 + (c - '0'); true }
    else {
      val code = c match {
        case 'M' => 0; case 'I' => 1; case 'D' => 2; case 'N' => 3; case 'S' => 4
        case 'H' => 5; case 'P' => 6; case '=' => 7; case 'X' => 8; case _ => -1
      }
      val ok = op(code, len)
      len = 0L
      ok
    }

  private def close(): Unit = {
    if (n + 2 > bounds.length) bounds = java.util.Arrays.copyOf(bounds, 2 * bounds.length)
    bounds(n) = segStart; bounds(n + 1) = pos
    n += 2; segStart = -1L
  }

  private def finish(): Int = { if (segStart >= 0) close(); n }
}
