package perfbench

import java.util.SplittableRandom

import graft.index._

/** Single-thread microbenchmarks of the hot kernels, called directly
  * (no Spark scheduler) on seeded inputs after a JIT warm-up. Each
  * timing repeats its loop until at least `MinNs` has elapsed. */
object Kernels {
  private val MinNs = 100000000L
  @volatile private var sink = 0L

  private def timePer(units: Long)(body: => Long): Double = {
    for (_ <- 0 until 3) sink += body // warm-up
    var reps = 0
    val t0 = System.nanoTime()
    var t = t0
    while (t - t0 < MinNs || reps < 2) { sink += body; reps += 1; t = System.nanoTime() }
    (t - t0).toDouble / reps / units
  }

  val Algos = Seq("superintervals", "eytzinger", "lapper", "ailist", "coitrees", "arrayintervaltree", "linear")

  final case class Ivs(s: Array[Long], e: Array[Long])

  /** One contig's worth of the ranges_probe shapes. */
  private def intervals(rnd: SplittableRandom, n: Int, tail: Boolean): Ivs = {
    import RangesShape._
    val s = new Array[Long](n); val e = new Array[Long](n)
    for (i <- 0 until n) {
      s(i) = (rnd.nextDouble() * ContigLen).toLong
      val len = if (!tail || rnd.nextDouble() >= TailShare) ShortMin + (rnd.nextDouble() * ShortSpan).toLong
        else math.min(TailCap, (TailMin / math.pow(1.0 - rnd.nextDouble(), 1.0 / TailAlpha)).toLong)
      e(i) = s(i) + len
    }
    Ivs(s, e)
  }

  private def probes(rnd: SplittableRandom, n: Int): Ivs = {
    import RangesShape._
    val centers = Array.fill((Clusters / Contigs).toInt)(5000 + (rnd.nextDouble() * (ContigLen - 10000)).toLong)
    val s = new Array[Long](n); val e = new Array[Long](n)
    for (i <- 0 until n) {
      val off = ((rnd.nextDouble() + rnd.nextDouble() + rnd.nextDouble() - 1.5) * Spread).toLong
      s(i) = math.max(1L, centers(rnd.nextInt(centers.length)) + off)
      e(i) = s(i) + ReadMin + rnd.nextInt(ReadSpan)
    }
    Ivs(s, e)
  }

  /** index.* metrics; None when the stabbers disagree on a match count. */
  def index(seed: Long): Option[Map[String, Double]] = {
    val rnd = new SplittableRandom(seed * 7919 + 1)
    val n = (RangesShape.AnnoRows / RangesShape.Contigs).toInt
    val q = probes(rnd, (RangesShape.ProbeRows / RangesShape.Contigs / 10).toInt)
    val qSmall = Ivs(q.s.take(2000), q.e.take(2000))
    val payload = Array.range(0, n)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var agree = true
    for ((subset, tail) <- Seq("uniform" -> false, "longtail" -> true)) {
      val iv = intervals(rnd, n, tail)
      def matches(ix: IntervalStabber, p: Ivs): Long = {
        var m = 0L; var i = 0
        while (i < p.s.length) { ix.query(p.s(i), p.e(i))(_ => m += 1); i += 1 }
        m
      }
      val counts = Algos.map { algo =>
        val ix = IntervalIndexFactory.build(algo, iv.s, iv.e, payload)
        val p = if (algo == "linear") qSmall else q
        out(s"index.$algo.$subset.build_ns_per_iv") =
          timePer(n)(IntervalIndexFactory.build(algo, iv.s, iv.e, payload).hashCode.toLong)
        out(s"index.$algo.$subset.probe_ns") = timePer(p.s.length)(matches(ix, p))
        (matches(ix, qSmall), if (algo == "linear") -1L else matches(ix, q))
      }
      agree &&= counts.map(_._1).distinct.size == 1 && counts.map(_._2).filter(_ >= 0).distinct.size == 1
      if (tail) {
        out("index.matches_per_probe") = counts.head._2.toDouble / q.s.length
        val cnt = CountOverlapIndex.build(iv.s, iv.e)
        out("index.count_ns") = timePer(q.s.length) {
          var t = 0L; var i = 0; while (i < q.s.length) { t += cnt.count(q.s(i), q.e(i)); i += 1 }; t }
        val cov = CoverageIndex.build(iv.s, iv.e)
        out("index.coverage_ns") = timePer(q.s.length) {
          var t = 0L; var i = 0; while (i < q.s.length) { t += cov.coverage(q.s(i), q.e(i)); i += 1 }; t }
        val near = NearestIndex.build(iv.s, iv.e, payload)
        out("index.nearest_ns") = timePer(q.s.length) {
          var t = 0L; var i = 0
          while (i < q.s.length) { near.nearestK(q.s(i), q.e(i), 1, includeOverlaps = true)((p, d) => t += p + d); i += 1 }
          t }
      }
    }
    if (agree) Some(out.toMap) else None
  }

  /** CIGAR strings with the depth_bam template mix. */
  private def cigars(rnd: SplittableRandom, n: Int): Array[String] = Array.fill(n) {
    val a = 30 + rnd.nextInt(70); val b = 30 + rnd.nextInt(70); val c = 5 + rnd.nextInt(20)
    val u = rnd.nextDouble()
    if (u < 0.5) s"${a + b}M"
    else if (u < 0.6) s"${a}M${1 + rnd.nextInt(5)}I${b}M"
    else if (u < 0.7) s"${a}M${1 + rnd.nextInt(8)}D${b}M"
    else if (u < 0.8) s"${a}M${200 + rnd.nextInt(4800)}N${b}M"
    else if (u < 0.88) s"${c}S${a + b}M"
    else if (u < 0.94) s"${a + b}M${c}S"
    else s"${c}S${a}M${1 + rnd.nextInt(8)}D${b}M${1 + rnd.nextInt(5)}I${10 + rnd.nextInt(30)}M"
  }

  private def packed(cigar: String): Array[Byte] = {
    val ops = graft.sources.Bam.packCigar(cigar)
    val bb = java.nio.ByteBuffer.allocate(ops.length * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ops.foreach(bb.putInt)
    bb.array()
  }

  def pileup(seed: Long): Map[String, Double] = {
    import graft.pileup.Cigar
    val cs = cigars(new SplittableRandom(seed * 31 + 2), 100000)
    val bin = cs.map(packed)
    Map(
      "pileup.cigar_ns_per_read" -> timePer(cs.length) {
        var t = 0L; var i = 0; while (i < cs.length) { t += Cigar.coveredSegments(i, cs(i)).size; i += 1 }; t },
      "pileup.cigar_bin_ns_per_read" -> timePer(bin.length) {
        var t = 0L; var i = 0; while (i < bin.length) { t += Cigar.coveredSegmentsBinary(i, bin(i)).size; i += 1 }; t })
  }

  def bamDecode(seed: Long): Map[String, Double] = {
    import graft.sources.{Bam, BamRecord}
    val rnd = new SplittableRandom(seed * 131 + 3)
    val cs = cigars(rnd, 200000)
    val recs = cs.zipWithIndex.map { case (c, i) =>
      BamRecord(rnd.nextInt(4), rnd.nextInt(10000000), rnd.nextInt(61), if (rnd.nextDouble() < 0.1) 1024 else 0,
        Bam.packCigar(c), s"r$i") }
    val buf = new java.io.ByteArrayOutputStream()
    Bam.write(buf, (1 to 4).map(i => (s"chr$i", 10000000)), recs.iterator)
    val bytes = buf.toByteArray
    val perByteNs = timePer(bytes.length) {
      val (_, it) = Bam.read(new java.io.ByteArrayInputStream(bytes))
      var t = 0L; while (it.hasNext) t += it.next().pos; t }
    Map("sources.bam_decode_mb_per_s" -> 1000.0 / perByteNs)
  }

  def allele(seed: Long): Map[String, Double] = {
    import graft.vep.Allele
    val rnd = new SplittableRandom(seed * 17 + 4)
    val bases = "ACGT"
    def seq(n: Int) = (0 until n).map(_ => bases.charAt(rnd.nextInt(4))).mkString
    val n = 100000
    val refs = new Array[String](n); val alts = new Array[String](n); val strs = new Array[String](n)
    for (i <- 0 until n) {
      val kind = rnd.nextInt(3)
      val anchor = seq(1)
      refs(i) = if (kind == 2) anchor + seq(1 + rnd.nextInt(4)) else anchor
      alts(i) = if (kind == 1) anchor + seq(1 + rnd.nextInt(4)) else if (kind == 2) anchor else seq(1)
      val (r, a) = Allele.vcfToVepAllele(refs(i), alts(i))
      strs(i) = if (rnd.nextInt(4) == 0) s"$a/$r" else s"$r/$a"
    }
    Map("vep.allele_ns" -> timePer(n) {
      var t = 0L; var i = 0
      while (i < n) {
        val (r, a) = Allele.vcfToVepAllele(refs(i), alts(i))
        t += r.length + a.length + Allele.vepNormStart(1000L + i, refs(i), alts(i))
        if (Allele.matches(refs(i), alts(i), strs(i))) t += 1
        i += 1
      }
      t })
  }
}
