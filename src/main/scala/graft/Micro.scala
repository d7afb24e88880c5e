package graft

import java.util.SplittableRandom
import scala.util.Random
import graft.index.{IntervalIndexFactory, IntervalStabber, NearestIndex}
import graft.obs.Json

/** Scratch micro-benchmarks (not part of the library surface), no
  * query execution; per-query timings are [[Profile]]'s job.
  *
  * Usage: graft.Micro                          nearest-index kernel, then every
  *                                             interval-join algorithm name over
  *                                             the uniform, longtail and hot layouts
  *        graft.Micro realprobe <sfDir>        the same kernels over sf intervals
  *        graft.Micro codec [n=1000] [threads=1]  JDK codec fixture encoders */
object Micro {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("realprobe") => realprobe(args(1))
    case Some("codec") =>
      codec(args.lift(1).map(_.toInt).getOrElse(1000), args.lift(2).map(_.toInt).getOrElse(1))
    case _ =>
      kernel()
      for (l <- Seq("uniform", "longtail", "hot")) stabbers(l, Seq(layout(l, new SplittableRandom(7))))
  }

  private def kernel(): Unit = {
    val rnd = new Random(7)
    val n = 150000
    val s = Array.fill(n)(rnd.nextInt(1000000).toLong)
    val e = s.map(x => x + rnd.nextInt(300))
    val idx = NearestIndex.build(s, e, Array.range(0, n).map(_.toLong), Array.range(0, n))
    val probes = Array.fill(4000)(rnd.nextInt(1000000).toLong)
    var sink = 0L
    for (warm <- 0 until 3) {
      val t0 = System.nanoTime()
      probes.foreach { p =>
        idx.nearestK(p, p + rnd.nextInt(500), 1, includeOverlaps = false)((pp, d) => sink += pp + d)
      }
      println(s"pass $warm: ${(System.nanoTime() - t0) / 1e6} ms for 4000 probes (sink=$sink)")
    }
  }

  /** The kernel over the REAL derived intervals, collected out of Spark
    * to isolate index cost. */
  private def realprobe(d: String): Unit = {
    val spark = graft.obs.Session(8)
    val a = Tables.ivA(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val b = Tables.ivBSample(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    spark.stop()
    val byContig = a.groupBy(_._1).map { case (c, rows) =>
      c -> NearestIndex.build(rows.map(_._2), rows.map(_._3),
        Array.range(0, rows.length).map(_.toLong), Array.range(0, rows.length))
    }
    var sink = 0L; var calls = 0L
    for (pass <- 0 until 2) {
      val t0 = System.nanoTime()
      b.foreach { case (c, qs, qe) =>
        byContig(c).nearestK(qs, qe, 1, includeOverlaps = false) { (p, dd) =>
          sink += p + dd; calls += 1
        }
      }
      println(f"realprobe pass $pass: ${(System.nanoTime() - t0) / 1e6}%.1f ms for ${b.length} probes, $calls emits (sink=$sink)")
    }
    val probesBy = b.groupBy(_._1)
    stabbers(new java.io.File(d).getName, a.groupBy(_._1).toSeq.sortBy(_._1).map { case (c, rows) =>
      val q = probesBy.getOrElse(c, Array.empty)
      Contig(rows.map(_._2), rows.map(_._3), q.map(_._2), q.map(_._3))
    })
  }

  /** One contig's intervals `[s, e]` and probes `[qs, qe]`. */
  private final case class Contig(s: Array[Long], e: Array[Long], qs: Array[Long], qe: Array[Long])

  /** One contig of the benchmark's ranges shape: 12,500 intervals over
    * 25 Mb and 3,750 read-like probes (100-300 bp) around 2,500 cluster
    * centres. `uniform` intervals are 100-3,000 bp; `longtail` draws 20%
    * of them from a Pareto tail (alpha 1.1, 1 kb up to 2 Mb); `hot` is
    * `longtail` with 1% of the intervals spanning half the contig. */
  private def layout(kind: String, rnd: SplittableRandom): Contig = {
    val len = 25000000L; val n = 12500; val nq = 3750
    val s = new Array[Long](n); val e = new Array[Long](n)
    for (i <- 0 until n) {
      if (kind == "hot" && rnd.nextDouble() < 0.01) {
        s(i) = (rnd.nextDouble() * len / 2).toLong; e(i) = s(i) + len / 2
      } else {
        s(i) = (rnd.nextDouble() * len).toLong
        e(i) = s(i) + (if (kind == "uniform" || rnd.nextDouble() >= 0.2) 100 + (rnd.nextDouble() * 2900).toLong
          else math.min(2000000L, (1000.0 / math.pow(1.0 - rnd.nextDouble(), 1.0 / 1.1)).toLong))
      }
    }
    val centres = Array.fill(2500)(5000 + (rnd.nextDouble() * (len - 10000)).toLong)
    val qs = Array.fill(nq)(math.max(1L, centres(rnd.nextInt(centres.length)) +
      ((rnd.nextDouble() + rnd.nextDouble() + rnd.nextDouble() - 1.5) * 4000).toLong))
    Contig(s, e, qs, qs.map(_ + 100 + rnd.nextInt(200)))
  }

  /** One JSON line per interval-join algorithm name: ns per interval to
    * build every contig's index, ns per probe to query it, and the match
    * count, which every name must report alike. The names are timed in
    * seven rounds, each starting one name later than the last, and
    * each figure is the median of the per-round figures: a name's place
    * in the run (JIT and heap state) then biases no name more than
    * another, so two names that select one kernel read alike. */
  private def stabbers(layout: String, contigs: Seq[Contig]): Unit = {
    val rounds = 7
    val nIv = contigs.map(_.s.length).sum; val nQ = contigs.map(_.qs.length).sum
    val payloads = contigs.map(c => Array.range(0, c.s.length))
    val names = IntervalIndexFactory.Names
    def build(algo: String): Seq[IntervalStabber] =
      contigs.zip(payloads).map { case (c, p) => IntervalIndexFactory.build(algo, c.s, c.e, p) }
    def matches(ix: Seq[IntervalStabber]): Long = {
      var m = 0L
      for ((c, x) <- contigs.zip(ix)) {
        var i = 0
        while (i < c.qs.length) { x.query(c.qs(i), c.qe(i))(_ => m += 1); i += 1 }
      }
      m
    }
    val ix = names.map(a => a -> build(a)).toMap
    val buildNs = names.map(_ -> Array.newBuilder[Double]).toMap
    val probeNs = names.map(_ -> Array.newBuilder[Double]).toMap
    for (r <- 0 until rounds; algo <- names.drop(r % names.size) ++ names.take(r % names.size)) {
      buildNs(algo) += meanNs(build(algo).length.toLong) / nIv
      probeNs(algo) += meanNs(matches(ix(algo))) / nQ
    }
    def median(b: scala.collection.mutable.ArrayBuilder[Double]): Double = {
      val xs = b.result().sorted
      (xs((xs.length - 1) / 2) + xs(xs.length / 2)) / 2
    }
    for (algo <- names)
      Json.line("micro" -> "stabber", "layout" -> layout, "algo" -> algo,
        "intervals" -> nIv, "probes" -> nQ, "rounds" -> rounds,
        "build_ns_per_iv" -> median(buildNs(algo)),
        "probe_ns" -> median(probeNs(algo)), "matches" -> matches(ix(algo)))
  }

  @volatile private var sink = 0L

  /** Mean ns of one `body` call: three warm-up calls, then repeats for
    * at least 50 ms. */
  private def meanNs(body: => Long): Double = {
    for (_ <- 0 until 3) sink += body
    var reps = 0
    val t0 = System.nanoTime()
    var t = t0
    while (t - t0 < 50000000L || reps < 2) { sink += body; reps += 1; t = System.nanoTime() }
    (t - t0).toDouble / reps
  }

  /** Per-call timings of the JDK codec fixture encoders and
    * decoders (the mm_real_codecs hot loop), no Spark session. */
  private def codec(n: Int, threads: Int): Unit = {
    def time(tag: String)(f: Int => Unit): Unit = {
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { _ =>
        val th = new Thread(() => {
          var i = 0
          while (i < n) { f(i); i += 1 }
        })
        th.start(); th
      }
      ts.foreach(_.join())
      println(f"$tag%12s ${(System.nanoTime() - t0) / 1e6 / n}%8.3f ms/call (x$threads threads)")
    }
    val C = graft.multimodal.Multimodal.JdkCodec
    (1 to 50).foreach { _ =>
      C.encodePng(64, 48); C.encodeWav(800); C.encodeMp4(1920, 1080, 5000)
      C.imageDims(C.encodePng(64, 48)); C.audioDurationMs(C.encodeWav(800))
    }
    val png = C.encodePng(64, 48)
    val wav = C.encodeWav(800)
    time("png")(i => C.encodePng((i % 64) + 1, (i % 48) + 1))
    time("wav")(i => C.encodeWav((i % 800) + 8))
    time("mp4")(i => C.encodeMp4((i % 3840) + 16, (i % 2160) + 16, i % 10000 + 40))
    time("dec-png")(_ => C.imageDims(png))
    time("dec-wav")(_ => C.audioDurationMs(wav))
  }
}
