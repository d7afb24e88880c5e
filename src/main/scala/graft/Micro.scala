package graft

import scala.util.Random
import graft.index.NearestIndex

/** Scratch micro-benchmarks (not part of the library surface), no
  * query execution; per-query timings are [[Profile]]'s job.
  *
  * Usage: graft.Micro                          nearest-index kernel, synthetic
  *        graft.Micro realprobe <sfDir>        the same kernel over sf intervals
  *        graft.Micro codec [n=1000] [threads=1]  JDK codec fixture encoders */
object Micro {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("realprobe") => realprobe(args(1))
    case Some("codec") =>
      codec(args.lift(1).map(_.toInt).getOrElse(1000), args.lift(2).map(_.toInt).getOrElse(1))
    case _ => kernel()
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
