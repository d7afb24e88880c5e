package graft

import graft.core.GraftConf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.ml.Similarity
import graft.multimodal.Multimodal
import graft.text.TextFunctions

class MlSuite extends SparkSpec {
  import spark.implicits._

  lazy val docsDf = Seq(
    (1L, "The quick brown fox jumps over the lazy dog"),
    (2L, "the  QUICK brown fox jumps over the lazy dog"),  // ws/case variant of 1
    (3L, "der hund ist nicht mit der katze und der maus"),
    (4L, "completely different content about spark engines"),
    (5L, "tiny"),
  ).toDF("doc_id", "text")

  test("token counting and BPE estimate") {
    val r = docsDf.select($"doc_id", TextFunctions.tokenCount($"text").as("n"),
      TextFunctions.bpeTokenEstimate($"text").as("b")).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(1L)._1 == 9)
    assert(r(5L)._1 == 1)
    // "don't-stop 3x!" style punctuation splits in bpe mode
    val b = Seq((1L, "ab3 c!d")).toDF("doc_id", "text")
      .select(TextFunctions.bpeTokenEstimate($"text")).head().getLong(0)
    assert(b == 5) // ab, 3, c, !, d
  }

  test("topNgrams: normalized counts, lexicographic tie-break, k-cut") {
    val top = TextFunctions.topNgrams(docsDf, "text", n = 2, k = 3).collect()
    // "the lazy" and "lazy dog" both occur twice (docs 1+2 normalize
    // identically); ties order lexicographically
    assert(top.map(_.getString(0)).take(2).sorted.toSeq ==
      top.map(_.getString(0)).take(2).toSeq)
    assert(top.forall(_.getLong(1) >= 1))
    assert(top.length == 3)
    val all = TextFunctions.topNgrams(docsDf, "text", n = 2, k = 1000)
    val counts = all.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("lazy dog") == 2L)
    assert(counts("quick brown") == 2L)
    assert(!counts.contains("tiny")) // < n words yields nothing
    // unigram mode degrades to word counts
    val uni = TextFunctions.topNgrams(docsDf, "text", n = 1, k = 1).head()
    assert(uni.getString(0) == "the" && uni.getLong(1) == 4L)
  }

  test("truncateTokens: word-boundary clamp on the normalized text") {
    def tr(t: String, n: Int): String = Seq((1L, t)).toDF("doc_id", "text")
      .select(TextFunctions.truncateTokens($"text", n)).head().getString(0)
    assert(tr("The  quick   Brown fox", 3) == "the quick brown")
    assert(tr("one two", 5) == "one two")
    assert(tr("", 4) == "")
    assert(tr("a b c", 0) == "")
  }

  test("removeNearDuplicatesSimhash: min id survives, strings rejected") {
    val kept = Dedup.removeNearDuplicatesSimhash(docsDf, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // docs 1 and 2 share a signature (Hamming 0): min id 1 survives
    assert(kept.contains(1L) && !kept.contains(2L))
    assert(kept.contains(3L) && kept.contains(4L) && kept.contains(5L))
    val strIds = docsDf.select(concat(lit("doc"), $"doc_id").as("doc_id"), $"text")
    val e = intercept[IllegalArgumentException] {
      Dedup.removeNearDuplicatesSimhash(strIds, "text", "doc_id")
    }
    assert(e.getMessage.contains("numeric id column"))
  }

  test("repetition ratio: 1 - distinct/total tokens, 0 for empty") {
    def rr(t: String): Double = Seq((1L, t)).toDF("doc_id", "text")
      .select(TextFunctions.repetitionRatio($"text")).head().getDouble(0)
    assert(rr("a b c d") == 0.0)
    assert(math.abs(rr("spam spam spam spam") - 0.75) < 1e-9)
    assert(math.abs(rr("the cat the dog") - 0.25) < 1e-9)
    assert(rr("") == 0.0)
    assert(rr("   ") == 0.0)
  }

  test("langId picks stopword-dominant language") {
    val r = docsDf.select($"doc_id", TextFunctions.langId($"text")).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(1L) == "en")
    assert(r(3L) == "de")
  }

  test("fingerprint is whitespace/case-insensitive") {
    val fps = docsDf.select(TextFunctions.fingerprint($"text")).collect().map(_.getString(0))
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(3))
  }

  test("exact dedup groups normalized-identical docs") {
    val got = Dedup.exactDuplicates(docsDf, "text", "doc_id")
      .orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(got.forall(_.getLong(2) == 2L))
    assert(got.forall(_.getLong(3) == 1L))
  }

  test("exact-dedup filter keeps one representative per fingerprint") {
    val kept = Dedup.removeExactDuplicates(docsDf, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // docs 1 and 2 are normalized-identical: min id 1 survives
    assert(!kept.contains(2L) && kept.contains(1L))
    assert(kept == docsDf.select("doc_id").collect().map(_.getLong(0)).toSet - 2L)
  }

  test("PII redaction scrubs emails, IPs, phones; counts match") {
    import graft.text.TextFunctions
    val df = Seq(
      (1L, "mail me at a.b+c@foo-bar.org or 10.0.0.1 then 555-123-4567 twice 555-123-4567"),
      (2L, "no pii here, just 1.2 and 123-45 fragments")
    ).toDF("id", "text")
    val got = df.select(col("id"),
        TextFunctions.redactPii(col("text")).as("clean"),
        TextFunctions.piiCount(col("text"), "email").as("ne"),
        TextFunctions.piiCount(col("text"), "ip").as("ni"),
        TextFunctions.piiCount(col("text"), "phone").as("np"))
      .orderBy("id").collect()
    assert(got(0).getString(1) ==
      "mail me at <EMAIL> or <IP> then <PHONE> twice <PHONE>")
    assert((got(0).getLong(2), got(0).getLong(3), got(0).getLong(4)) == ((1L, 1L, 2L)))
    assert(got(1).getString(1) == "no pii here, just 1.2 and 123-45 fragments")
    assert((got(1).getLong(2), got(1).getLong(3), got(1).getLong(4)) == ((0L, 0L, 0L)))
  }

  test("shingles + LSH: near-dups collide, unrelated don't") {
    val pairs = Dedup.lshCandidatePairs(docsDf, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    val j = Dedup.ngramJaccard(docsDf,
      Seq((1L, 2L)).toDF("id1", "id2"), "text", "doc_id").head()
    assert(j.getDouble(2) == 1.0) // identical after normalization
  }

  test("ngramJaccard edges: short or absent ids drop, repeats stay, disjoint is 0") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"), // shares 1 of 3 distinct shingles with 1
      (3L, "one two three four"),       // disjoint from 1
      (4L, "too short"),                // fewer than k = 3 words: no shingles
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 99L), (2L, 3L), (2L, 3L))
      .toDF("id1", "id2")
    val got = Dedup.ngramJaccard(docs, pairs, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toSeq
    assert(got.map(_._1).sorted == Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 3L)),
      s"got $got")
    val byPair = got.toMap
    assert(byPair((1L, 2L)) == 0.333333)
    assert(byPair((1L, 3L)) == 0.0)
    assert(got.filter(_._1 == ((2L, 3L))).map(_._2).distinct.size == 1)
  }

  test("ngramJaccard: a repeated pair keeps its own value on every copy") {
    // the intersection is sized per pair row, never summed over the
    // copies of a pair (which overstates it, and divides by zero for
    // identical sets)
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma epsilon"),
      (3L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 2L), (1L, 3L), (1L, 3L)).toDF("id1", "id2")
    val got = Dedup.ngramJaccard(docs, pairs, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(got == Seq((1L, 2L, 0.333333), (1L, 2L, 0.333333), (1L, 3L, 1.0), (1L, 3L, 1.0)))
  }

  test("ngramJaccard over LSH pairs: no sort-merge join, no hash-array filter below the round-robin") {
    import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, Size}
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // one file: the scan under-parallelises, so the input is widened
    // by a round-robin exchange, as at gate scale
    val dir = tempDir("jaccard") + "/docs"
    docsDf.coalesce(1).write.parquet(dir)
    val docs = spark.read.parquet(dir)
    val j = Dedup.ngramJaccard(docs, Dedup.lshCandidatePairs(docs, "text", "doc_id"),
      "text", "doc_id")
    assert(j.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      == Set((1L, 2L, 1.0)))
    val nodes = planNodes(j)
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]), j.queryExecution.executedPlan)
    val roundRobin = nodes.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
    }
    assert(roundRobin.nonEmpty, j.queryExecution.executedPlan)
    val pushed = roundRobin.flatMap(_.collect {
      case f: FilterExec if f.condition.exists {
        case _: Size | _: HigherOrderFunction => true
        case _ => false
      } => f
    })
    assert(pushed.isEmpty, s"filter pushed below the input's round-robin: $pushed")
  }

  test("simhash: identical docs equal, 64-bit variant consistent") {
    def sigs(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sh16 = sigs(Dedup.simhash16(docsDf, "text", "doc_id"))
    val sh64 = sigs(Dedup.simhash64Df(docsDf, "text", "doc_id"))
    assert(sh16(1L) == sh16(2L) && sh64(1L) == sh64(2L))
    assert(sh16.values.forall(v => v >= 0 && v < 65536))
    // bit i of the 16-bit signature is bit 4i of the 64-bit one
    def gather(s: Long): Long = (0 until 16).map(i => ((s >>> (4 * i)) & 1L) << i).sum
    assert(sh64.keySet == Set(1L, 2L, 3L, 4L, 5L) && sh16.keySet == sh64.keySet)
    sh64.foreach { case (id, s) => assert(sh16(id) == gather(s), s"doc $id") }
    // order-independent: reversing every document's tokens keeps its signature
    val reversed = docsDf.select($"doc_id",
      concat_ws(" ", reverse(split($"text", " "))).as("text"))
    assert(sigs(Dedup.simhash64Df(reversed, "text", "doc_id")) == sh64)
  }

  test("simhash64Pairs: a huge identical-signature class emits a linear star, not a clique") {
    // the 100 TB degenerate case (round-11 verdict #5): 100K documents
    // with VERBATIM-identical text share one signature; the clique
    // formulation would materialize ~5e9 pairs on the hot (band, chunk)
    // keys. The guard emits |class|-1 star pairs at Hamming 0 instead —
    // at both signature widths, which share one banded join.
    val n = 100000
    val hot = spark.range(0, n).selectExpr("id AS doc_id",
      "'spark spark engines engines graft' AS text")
    val small = spark.range(0, 5).selectExpr("id AS doc_id",
      "'spark spark engines engines graft' AS text")
    val outsider = spark.range(n, n + 1).selectExpr("id AS doc_id",
      "'completely different text entirely' AS text")
    for ((width, pairsOf) <- Seq[(Int, DataFrame => DataFrame)](
        64 -> (Dedup.simhash64Pairs(_, "text", "doc_id")),
        16 -> (Dedup.simhashPairs(_, "text", "doc_id")))) withClue(s"$width-bit: ") {
      val out = pairsOf(hot)
      assert(out.count() == (n - 1).toLong)
      val sample = out.limit(5).collect()
      assert(sample.forall(r => r.getLong(0) == 0L && r.getInt(2) == 0))
      // below the cap the full clique is preserved (gate semantics)
      assert(pairsOf(small).count() == 10L)
      // connected components are unchanged by star compression
      val clusters = Dedup.duplicateClusters(pairsOf(hot.limit(3000).union(outsider)))
        .agg(countDistinct(col("cluster_id"))).head().getLong(0)
      assert(clusters == 1L)
    }
  }

  test("brute-force cosine top-k ranks an exact duplicate first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.001f, 0.0f)),   // nearly identical to 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.where($"vec_id" === 0), 3)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(top == Seq(1L, 2L, 3L))
  }

  test("multimodal: unrecognized payloads fall back to the synthetic header") {
    def be(i: Int) = Array[Byte](((i >> 24) & 0xff).toByte, ((i >> 16) & 0xff).toByte,
      ((i >> 8) & 0xff).toByte, (i & 0xff).toByte)
    // not a real image/audio container: the JDK decoders return None
    // and the synthetic 16-byte header parse takes over
    val payload = be(640) ++ be(480) ++ be(0) ++ be(12345) ++ Array[Byte](1, 2, 3)
    val assets = Seq((1L, "image", payload), (2L, "audio", payload))
      .toDF("asset_id", "media_type", "payload")
    val f = Multimodal.extractFeatures(assets).orderBy("asset_id").collect()
    assert(f(0).getInt(3) == 640 && f(0).getInt(4) == 480)   // image: w/h
    assert(f(0).isNullAt(5))                                  // image: no duration
    assert(f(1).isNullAt(3) && f(1).getLong(5) == 12345L)     // audio: duration only
    assert(f(0).getLong(2) == 19L)
    val offs = Multimodal.sampleFrameOffsets(
      Multimodal.extractFeatures(assets), 3).collect()
    assert(offs.length == 3 && offs.forall(_.getLong(0) == 2L))
  }

  test("multimodal: real JDK codecs decode PNG dimensions and WAV duration") {
    import graft.multimodal.Multimodal.JdkCodec
    // direct codec round-trips
    assert(JdkCodec.imageDims(JdkCodec.encodePng(37, 21)) == Some((37, 21)))
    assert(JdkCodec.audioDurationMs(JdkCodec.encodeWav(250)) == Some(250L))
    assert(JdkCodec.imageDims(Array[Byte](1, 2, 3, 4)).isEmpty)
    assert(JdkCodec.audioDurationMs(Array[Byte](1, 2, 3, 4)).isEmpty)
    // ISO-BMFF: real box structure round-trips through the box walk
    assert(JdkCodec.mp4Meta(JdkCodec.encodeMp4(1920, 1080, 123456L))
      == Some((1920, 1080, 123456L)))
    assert(JdkCodec.mp4Meta(Array[Byte](1, 2, 3, 4)).isEmpty)       // too short
    assert(JdkCodec.mp4Meta(Array.fill(32)(9.toByte)).isEmpty)      // no box magic
    // a synthetic 16-byte header is NOT a BMFF container: falls back
    val syn = java.nio.ByteBuffer.allocate(16)
      .putInt(640).putInt(480).putLong(5000L).array()
    assert(JdkCodec.mp4Meta(syn).isEmpty)
    // VERSION-1 boxes (64-bit times) and a 64-bit-largesize sibling:
    // hand-built per the public layout, since encodeMp4 emits v0
    locally {
      val bb = java.nio.ByteBuffer.allocate(4096)
      def box(t: String)(body: java.nio.ByteBuffer => Unit): Array[Byte] = {
        val b = java.nio.ByteBuffer.allocate(2048)
        body(b); b.flip()
        val payload = new Array[Byte](b.remaining()); b.get(payload)
        java.nio.ByteBuffer.allocate(8 + payload.length)
          .putInt(8 + payload.length).put(t.getBytes("US-ASCII")).put(payload)
          .array()
      }
      val mvhd1 = box("mvhd") { b =>
        b.putInt(0x01000000)            // version 1
        b.putLong(0L).putLong(0L)       // creation/modification (64-bit)
        b.putInt(90000)                 // timescale 90 kHz
        b.putLong(90000L * 7)           // duration = 7 s (64-bit)
        b.putInt(0x00010000).putShort(0x0100.toShort).putShort(0)
        b.putLong(0L)
        for (v <- Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)) b.putInt(v)
        for (_ <- 0 until 6) b.putInt(0)
        b.putInt(2)
      }
      val tkhd1 = box("tkhd") { b =>
        b.putInt(0x01000007)            // version 1 + flags
        b.putLong(0L).putLong(0L)       // creation/modification (64-bit)
        b.putInt(1).putInt(0)           // track_ID + reserved
        b.putLong(90000L * 7)           // duration (64-bit)
        b.putLong(0L).putInt(0).putInt(0)
        for (v <- Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)) b.putInt(v)
        b.putInt(320 << 16).putInt(240 << 16)
      }
      val trak = box("trak")(_.put(tkhd1))
      val moov = box("moov") { b => b.put(mvhd1).put(trak) }
      // ftyp, then an mdat using the size==1 + 64-bit largesize form
      bb.put(box("ftyp")(b => { b.put("isom".getBytes); b.putInt(0); b.put("isom".getBytes) }))
      val mdatBody = Array.fill(24)(0x5a.toByte)
      bb.putInt(1).put("mdat".getBytes("US-ASCII")).putLong(16L + mdatBody.length)
        .put(mdatBody)
      bb.put(moov); bb.flip()
      val mp4v1 = new Array[Byte](bb.remaining()); bb.get(mp4v1)
      assert(JdkCodec.mp4Meta(mp4v1) == Some((320, 240, 7000L)),
        s"v1 + largesize walk failed: ${JdkCodec.mp4Meta(mp4v1)}")
    }
    // through the distributed pipeline: real payloads, real headers
    val assets = Seq(
      (1L, "image", JdkCodec.encodePng(123, 45)),
      (2L, "audio", JdkCodec.encodeWav(777)),
      (3L, "video", JdkCodec.encodeMp4(1280, 720, 9000L)),
      (4L, "video", syn) // unrecognized container -> FakeCodec fallback
    ).toDF("asset_id", "media_type", "payload")
    val f = Multimodal.extractFeatures(assets).orderBy("asset_id").collect()
    assert(f(0).getInt(3) == 123 && f(0).getInt(4) == 45 && f(0).isNullAt(5))
    assert(f(1).isNullAt(3) && f(1).getLong(5) == 777L)
    assert(f(2).getInt(3) == 1280 && f(2).getInt(4) == 720 && f(2).getLong(5) == 9000L)
    assert(f(3).getInt(3) == 640 && f(3).getInt(4) == 480 && f(3).getLong(5) == 5000L)
    // byte_length/checksum are over the actual container bytes
    assert(f(0).getLong(2) > 16L)
  }

  test("near-dedup filter: transitive chains collapse to the min-id survivor") {
    import graft.dedup.Dedup
    val base = "the quick brown fox jumps over the lazy dog again and again tonight"
    val docs = Seq(
      (5L, base + " one"),        // near-dup class: 5, 7, 9 chain
      (7L, base + " two"),
      (9L, base + " one"),        // exact text of 5 modulo suffix
      (2L, "completely unrelated prose about catalyst plan optimization rules"),
      (4L, "short")               // too few words to shingle: always kept
    ).toDF("doc_id", "text")
    val kept = Dedup.removeNearDuplicates(docs, "text", "doc_id", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 5 is the component minimum; 7 and 9 drop; unpaired docs survive
    assert(kept == Set(5L, 2L, 4L), s"got $kept")
    // idempotent: filtering the filtered corpus drops nothing more
    val again = Dedup.removeNearDuplicates(
        docs.where(col("doc_id").isin(kept.toSeq: _*)), "text", "doc_id",
        threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept)
  }

  test("stratified sample: deterministic, per-stratum rates, 0/1 extremes exact") {
    import graft.text.Packing
    val rows = (0 until 400).map(i => (i.toLong, s"s${i % 4}"))
      .toDF("id", "stratum")
    val fr = Seq("s0" -> 1.0, "s1" -> 0.0, "s2" -> 0.5)
    def run() = Packing.stratifiedSample(rows, "id", "stratum", fr,
      defaultFraction = 0.25).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val a = run(); val b = run()
    assert(a == b, "sampling must be deterministic")
    val byStratum = a.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byStratum.getOrElse("s0", 0) == 100, "fraction 1.0 keeps every row")
    assert(!byStratum.contains("s1"), "fraction 0.0 drops the stratum")
    val s2 = byStratum.getOrElse("s2", 0); val s3 = byStratum.getOrElse("s3", 0)
    assert(s2 > 25 && s2 < 75, s"s2 rate ~0.5, got $s2/100")
    assert(s3 > 5 && s3 < 50, s"default rate ~0.25, got $s3/100")
  }

  test("duplicate clusters: min-label propagation finds components") {
    import graft.dedup.Dedup
    // chain 1-2-3-4 (diameter forces >1 iteration), pair 10-11,
    // triangle 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id1", "id2")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("duplicate clusters: null vertex ids are dropped, not silently lost mid-loop") {
    import graft.dedup.Dedup
    // a null id cannot ride the propagation equi-join (null === null
    // is SQL null): the contract drops it up front and clusters the
    // remaining vertices normally (ADVICE r16)
    val pairs = Seq((java.lang.Long.valueOf(1L), java.lang.Long.valueOf(2L)),
      (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(3L)),
      (java.lang.Long.valueOf(3L), java.lang.Long.valueOf(4L)))
      .toDF("id1", "id2")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("duplicate clusters: deep path component converges exactly") {
    import graft.dedup.Dedup
    // path graph 1-2-...-31: diameter 30 > the 21 hops the round-6
    // cap allowed — the loop must iterate to convergence (round-6
    // defect: it exited silently at the cap with changed > 0)
    val pairs = (1L until 31L).map(i => (i, i + 1)).toDF("id1", "id2")
    val got = Dedup.duplicateClusters(pairs).collect()
    assert(got.length == 31 && got.forall(_.getLong(1) == 1L))
  }

  test("duplicate clusters: reliable checkpoint mode matches and requires a dir") {
    import graft.dedup.Dedup
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    // without a checkpoint dir the reliable path must refuse loudly —
    // a silent local-checkpoint fallback would keep the executor-loss
    // fragility the flag exists to remove
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val e = intercept[IllegalArgumentException] {
        Dedup.duplicateClusters(pairs, reliable = true).collect()
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    }
    val dir = tempDir("ckpt")
    spark.sparkContext.setCheckpointDir(dir)
    val expected = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dedup.duplicateClusters(pairs, reliable = true).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("duplicate clusters: pointer jump converges deep chains in O(log d) rounds") {
    import graft.dedup.Dedup
    // path graph 1-2-...-100 (diameter 99): pure 3-hop propagation
    // needs ~33 materialized rounds; with the per-round pointer jump
    // the covered radius roughly doubles each round
    // (3, 9, 21, 45, 93, 189, ...), so 8 rounds (6 to converge + 1 to
    // confirm + 1 slack) is ample — without the jump this maxRounds
    // would throw the runaway guard
    val pairs = (1L until 100L).map(i => (i, i + 1)).toDF("id1", "id2")
    val got = Dedup.duplicateClusters(pairs, maxRounds = 8).collect()
    assert(got.length == 100 && got.forall(_.getLong(1) == 1L))
  }

  test("duplicate clusters: pre-loop stages run at the loop width, not the input's") {
    import graft.dedup.Dedup
    // 100 pairs in 64 partitions: ten stars, hub 1000 + k over leaves
    // k, k + 10, ..., k + 90
    val pairs = spark.range(0, 100, 1, 64)
      .select(col("id").as("id1"), (col("id") % 10 + 1000).as("id2"))
    val (got, p) = graft.obs.Profiler.measure(spark)(Dedup.duplicateClusters(pairs).collect())
    assert(got.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      ((0L until 100L).map(i => i -> i % 10) ++ (0L until 10L).map(k => (1000 + k) -> k)).toMap)
    // only the input materialization (the first stage) runs at the
    // input's 64 partitions; every later stage fits the session width
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val wide = p.stageList.filter(_.tasks > width)
    assert(wide.map(s => (s.id, s.tasks)) == Seq((p.stageList.head.id, 64)),
      s"stages wider than $width: ${wide.map(s => s"${s.id}:${s.tasks} ${s.name}")}")
  }

  test("duplicate clusters: runaway guard fails loudly") {
    import graft.dedup.Dedup
    val pairs = (1L until 31L).map(i => (i, i + 1)).toDF("id1", "id2")
    val e = intercept[IllegalStateException] {
      Dedup.duplicateClusters(pairs, maxRounds = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("prepared registry: memoized queries re-execute; checkpointed plans rebuild") {
    // round-13 regression: the FIRST registry implementation memoized
    // every Dataset, and d_dup_clusters (checkpointed iteration state
    // in its plan leaves) FAILED on re-invocation once inter-query
    // cleanup reclaimed its blocks — two consecutive invocations must
    // both produce rows, and file-backed queries must reuse one plan
    val d = "/root/testdata/sf0.001"
    val q = SparkEntry.queries
    val dup1 = q("d_dup_clusters")(spark, d)
    val n1 = dup1.count()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    System.gc()
    val dup2 = q("d_dup_clusters")(spark, d)
    assert(dup2.count() == n1, "checkpointed query must survive re-invocation")
    assert(!(dup1 eq dup2), "checkpointed plans must NOT be memoized")
    val a1 = q("f11_maxaf")(spark, d)
    val a2 = q("f11_maxaf")(spark, d)
    assert(a1 eq a2, "file-backed queries must return the prepared Dataset")
    assert(a2.count() > 0)
    // explicit eviction (round-14 ADVICE: weak keys can never reclaim
    // an entry whose cached Datasets reference the session) — after
    // invalidate, the registry hands out a freshly-built plan
    SparkEntry.invalidate(spark)
    val a3 = q("f11_maxaf")(spark, d)
    assert(!(a2 eq a3), "invalidate must drop the session's prepared plans")
    assert(a3.count() > 0)
  }

  test("decontamination: ngram sets and contamination pairs") {
    import graft.text.Decontaminate
    // ngramSet edges: exact-n text -> one gram; shorter -> empty;
    // duplicates within a doc collapse (array_distinct)
    val g = Seq(
      (1L, "a b c d e"), (2L, "a b"), (3L, "x y x y x y")
    ).toDF("doc_id", "text")
      .select($"doc_id", Decontaminate.ngramSet($"text", 3).as("ng"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(g(1L) == Set("a b c", "b c d", "c d e"))
    assert(g(2L) == Set.empty)
    assert(g(3L) == Set("x y x", "y x y"))

    // contamination vs a naive Scala model over random word salads
    val vocab = Array("aa", "bb", "cc", "dd", "ee")
    val rnd = new scala.util.Random(11)
    val corpus = (0L until 40L).map { i =>
      (i, Seq.fill(12)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val docsF = corpus.toDF("doc_id", "text")
    val benchF = docsF.where("doc_id % 5 = 0")
    val got = Decontaminate.contaminationPairs(
        docsF, benchF, "text", "doc_id", "doc_id", n = 3, minShared = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def grams(t: String) =
      t.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    val naive = (for {
      (di, dt) <- corpus; (bi, bt) <- corpus if bi % 5 == 0
      shared = (grams(dt) & grams(bt)).size if shared >= 2
    } yield (di, bi, shared.toLong)).toSet
    assert(got == naive, s"got ${got.size} vs naive ${naive.size}")
    assert(naive.exists { case (d, b, _) => d != b }, "fixture must cross-contaminate")

    // summary rolls pairs up per doc
    val sum = Decontaminate.contaminationSummary(
        docsF, benchF, "text", "doc_id", "doc_id", n = 3, minShared = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val naiveSum = naive.groupBy(_._1).map { case (d, ps) =>
      (d, ps.size.toLong, ps.toSeq.map(_._3).sum) }.toSet
    assert(sum == naiveSum)
  }

  test("packing: bucket-width-invariant contiguous bins; hash split is stable") {
    import graft.text.Packing
    val docsF = (0L until 200L).map { i =>
      (i, Seq.fill(1 + (i % 17).toInt)("w").mkString(" "))
    }.toDF("doc_id", "text")
    // naive model: running token count in doc_id order
    val naive = {
      var run = 0L
      (0L until 200L).map { i =>
        val n = 1 + (i % 17)
        val off = run; run += n
        (i, n, off, off / 64)
      }.toSet
    }
    val p0 = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (w <- Seq(3L, 64L, 1L << 62); parts <- Seq("1", "7")) {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        spark.conf.set(GraftConf.PackIdBucketWidth, w.toString)
        val got = Packing.packSequences(docsF, "text", "doc_id", 64L)
          .select("doc_id", "n_tokens", "stream_offset", "bin")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        assert(got == naive, s"width=$w parts=$parts")
      }
    } finally {
      spark.conf.unset(GraftConf.PackIdBucketWidth)
      spark.conf.set("spark.sql.shuffle.partitions", p0)
    }
    // hash split: deterministic, complete, roughly proportional
    val sp = Packing.hashSplit(docsF.select("doc_id"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = sp.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 200L)
    assert(counts.getOrElse("train", 0L) > 120L, s"train share off: $counts")
    val again = Packing.hashSplit(docsF.select("doc_id"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(again == sp.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
  }
}
