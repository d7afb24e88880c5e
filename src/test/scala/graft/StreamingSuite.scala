package graft

import graft.core.GraftConf
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{EventStreams, IntervalStreams}
import graft.streaming.EventStreams.Event

case class Iv(contig: String, pos_start: Long, pos_end: Long, id: Long)

case class Doc(doc_id: Long, text: String, ts: Timestamp)

class StreamingSuite extends SparkSpec {
  import spark.implicits._

  test("streaming interval annotation matches the batch count operator") {
    implicit val sqlCtx = spark.sqlContext
    val statics = Seq(
      Iv("c1", 100, 200, 1), Iv("c1", 150, 250, 2), Iv("c2", 10, 20, 3))
      .toDF("contig", "pos_start", "pos_end", "id")
    val input = MemoryStream[Iv]
    val annotated = IntervalStreams.countOverlaps(input.toDF(), statics)
    assert(annotated.isStreaming, "must stay a streaming plan")
    val q = annotated.writeStream.format("memory").queryName("ann")
      .outputMode("append").start()
    try {
      input.addData(
        Iv("c1", 180, 190, 100), // overlaps both c1 intervals
        Iv("c1", 240, 260, 101), // overlaps the second only
        Iv("c1", 300, 310, 102), // none
        Iv("c2", 5, 10, 103),    // touches [10,20] -> weak overlap
        Iv("c3", 1, 2, 104))     // unknown contig
      q.processAllAvailable()
      val got = spark.table("ann").collect()
        .map(r => r.getLong(3) -> r.getLong(4)).toMap
      assert(got == Map(100L -> 2L, 101L -> 1L, 102L -> 0L, 103L -> 1L, 104L -> 0L))
      // batch operator agrees on the same rows
      val batch = graft.ranges.Ranges.countOverlaps(
          statics, Seq(Iv("c1", 180, 190, 100), Iv("c1", 240, 260, 101)).toDF(
            "contig", "pos_start", "pos_end", "id"))
        .collect().map(r => r.getLong(3) -> r.getLong(4)).toMap
      assert(batch == Map(100L -> 2L, 101L -> 1L))
    } finally q.stop()
  }

  test("streaming transcript-context probe labels overlap/upstream/downstream") {
    implicit val sqlCtx = spark.sqlContext
    val tx = Seq(
      ("c1", 1000L, 2000L, "T1", 1),
      ("c1", 9000L, 9500L, "T2", -1),
    ).toDF("chrom", "start", "end", "transcript_id", "strand")
    val input = MemoryStream[Iv]
    val ann = IntervalStreams.annotateTranscripts(input.toDF(), tx)
    assert(ann.isStreaming)
    val q = ann.writeStream.format("memory").queryName("txctx")
      .outputMode("append").start()
    try {
      input.addData(
        Iv("c1", 1500, 1500, 1), // inside T1
        Iv("c1", 500, 500, 2),   // 500 before T1 ('+' -> upstream)
        Iv("c1", 9800, 9800, 3), // 300 after T2 ('-' -> upstream)
        Iv("c1", 50000, 50000, 4)) // out of reach
      q.processAllAvailable()
      val got = spark.table("txctx").collect()
        .map(r => (r.getLong(3), r.getString(4), r.getString(5), r.getLong(6))).toSet
      assert(got == Set(
        (1L, "T1", "overlap", 0L),
        (2L, "T1", "upstream", 500L),
        (3L, "T2", "upstream", 300L)))
    } finally q.stop()
  }

  test("streaming transcript-context probe never indexes a null-bound transcript") {
    implicit val sqlCtx = spark.sqlContext
    val tx = Seq[(Option[String], Option[Long], Option[Long], String, Int)](
      (Some("c1"), Some(1000L), Some(2000L), "T1", 1),
      (Some("c1"), None, Some(2000L), "T_NULL_START", 1),
      (Some("c1"), Some(3000L), None, "T_NULL_END", 1),
      (None, Some(1000L), Some(2000L), "T_NULL_CHROM", 1),
    ).toDF("chrom", "start", "end", "transcript_id", "strand")
    val input = MemoryStream[Iv]
    val q = IntervalStreams.annotateTranscripts(input.toDF(), tx)
      .writeStream.format("memory").queryName("txnull").outputMode("append").start()
    try {
      input.addData(Iv("c1", 1500, 1500, 1), Iv("c1", 100, 100, 2))
      q.processAllAvailable()
      val got = spark.table("txnull").collect()
        .map(r => (r.getLong(3), r.getString(4), r.getString(5), r.getLong(6))).toSet
      assert(got == Set((1L, "T1", "overlap", 0L), (2L, "T1", "upstream", 900L)))
    } finally q.stop()
  }

  test("streaming semi-join filter keeps only overlapping rows") {
    implicit val sqlCtx = spark.sqlContext
    val statics = Seq(Iv("c1", 100, 200, 1)).toDF("contig", "pos_start", "pos_end", "id")
    val input = MemoryStream[Iv]
    val q = IntervalStreams.filterOverlapping(input.toDF(), statics)
      .writeStream.format("memory").queryName("semi").outputMode("append").start()
    try {
      input.addData(Iv("c1", 150, 160, 1), Iv("c1", 500, 600, 2))
      q.processAllAvailable()
      assert(spark.table("semi").collect().map(_.getLong(3)).toSeq == Seq(1L))
    } finally q.stop()
  }

  // offset from epoch: an event at exactly ts=0 sits on the initial
  // watermark and is discarded as late
  private val Base = 100000L
  private def ts(min: Long): Timestamp = new Timestamp((Base + min) * 60000L)

  test("windowed counts aggregate per tumbling window with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.windowedCounts(input.toDF(), window = "10 minutes")
      .writeStream.format("memory").queryName("wc").outputMode("update").start()
    try {
      input.addData(
        Event(1, ts(1), 10, "click", 1.0),
        Event(2, ts(3), 10, "click", 2.0),
        Event(3, ts(12), 11, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("wc").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000 - Base, r.getString(2), r.getLong(3))).toSet
      assert(rows == Set((0L, "click", 2L), (10L, "view", 1L)))
    } finally q.stop()
  }

  test("stateful sessionization closes sessions after the gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS(), gapMs = 30 * 60000L)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // user 10: events at minute 0 and 10 (one session), then minute 100
      input.addData(
        Event(1, ts(0), 10, "a", 1.0),
        Event(2, ts(10), 10, "a", 1.0))
      q.processAllAvailable()
      input.addData(Event(3, ts(100), 10, "a", 1.0))
      q.processAllAvailable()
      // advance watermark far enough to time the second session out
      input.addData(Event(4, ts(500), 99, "a", 1.0))
      q.processAllAvailable()
      input.addData(Event(5, ts(900), 98, "a", 1.0))
      q.processAllAvailable()
      val sessions = spark.table("sess").collect()
        .map(r => (r.getLong(0), r.getLong(1) / 60000 - Base, r.getLong(2) / 60000 - Base, r.getInt(3))).toSet
      assert(sessions.contains((10L, 0L, 10L, 2)))   // first session: closed by gap
      assert(sessions.contains((10L, 100L, 100L, 1))) // second: closed by timeout
    } finally q.stop()
  }

  test("streaming dedup keeps first occurrences; watermark variant ages state out") {
    implicit val sqlCtx = spark.sqlContext
    // unwatermarked: duplicates suppressed forever
    val in1 = MemoryStream[Doc]
    val q1 = graft.streaming.StreamDedup.firstOccurrences(in1.toDF(), "text")
      .select("doc_id", "fp")
      .writeStream.format("memory").queryName("dd1").outputMode("append").start()
    try {
      in1.addData(Doc(1, "aa bb", ts(0)), Doc(2, "cc dd", ts(1)), Doc(3, "aa bb", ts(2)))
      q1.processAllAvailable()
      in1.addData(Doc(4, "aa bb", ts(500)))
      q1.processAllAvailable()
      val ids = spark.table("dd1").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L), s"late duplicate must stay suppressed, got $ids")
    } finally q1.stop()
    // watermarked: a duplicate arriving after the watermark passed the
    // first occurrence's event time is treated as new (state aged out)
    val in2 = MemoryStream[Doc]
    val q2 = graft.streaming.StreamDedup
      .firstOccurrencesWithinWatermark(in2.toDF(), "text", "ts", "10 minutes")
      .select("doc_id", "fp")
      .writeStream.format("memory").queryName("dd2").outputMode("append").start()
    try {
      in2.addData(Doc(1, "aa bb", ts(0)), Doc(2, "aa bb", ts(1)))
      q2.processAllAvailable()
      // advance the watermark far past ts(0)+10min, then repeat the text
      in2.addData(Doc(3, "zz", ts(1000)))
      q2.processAllAvailable()
      in2.addData(Doc(4, "aa bb", ts(1001)))
      q2.processAllAvailable()
      val ids2 = spark.table("dd2").collect().map(_.getLong(0)).toSet
      assert(ids2.contains(1L) && !ids2.contains(2L),
        s"in-watermark duplicate must be suppressed, got $ids2")
      assert(ids2.contains(4L),
        s"post-watermark repeat must be re-admitted (state aged out), got $ids2")
    } finally q2.stop()
  }

  test("streaming LSH: cross-batch state reproduces the batch pair set") {
    implicit val sqlCtx = spark.sqlContext
    case class D(doc_id: Long, text: String)
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> "the quick brown fox jumps over the lazy dog today",
      3L -> "completely unrelated text about spark catalyst planning",
      4L -> "the quick brown fox jumps over the lazy dog tonight",
      5L -> "another unrelated document mentioning parquet row groups")
    val input = MemoryStream[(Long, String)]
    val pairs = graft.streaming.StreamLsh.candidatePairs(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id")
    assert(pairs.isStreaming)
    val q = pairs.writeStream.format("memory").queryName("lshp")
      .outputMode("append").start()
    try {
      // arrival split across THREE micro-batches, shuffled order: the
      // bucket state must pair late arrivals with everything earlier
      input.addData(docs(3), docs(2))
      q.processAllAvailable()
      input.addData(docs(0))
      q.processAllAvailable()
      input.addData(docs(4), docs(1))
      q.processAllAvailable()
      val got = spark.table("lshp").select("id1", "id2").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.dedup.Dedup.lshCandidatePairs(
          docs.toDF("doc_id", "text"), "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got.contains((1L, 4L)) && got.contains((1L, 2L)))
      assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
    } finally q.stop()
  }

  test("streaming LSH watermarked: bucket state ages out past the delay") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val near = "the quick brown fox jumps over the lazy dog tonight"
    val near2 = "the quick brown fox jumps over the lazy dog today"
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val pairs = graft.streaming.StreamLsh.candidatePairsWithinWatermark(
      input.toDF().toDF("doc_id", "text", "ts"), "text", "doc_id",
      "ts", "10 minutes")
    assert(pairs.isStreaming)
    val q = pairs.writeStream.format("memory").queryName("lshw")
      .outputMode("append").start()
    try {
      // within the window: 1 and 2 land in shared buckets and pair
      input.addData((1L, near, ts(10)), (2L, near2, ts(11)))
      q.processAllAvailable()
      // push the watermark far past ts(1) + 10 min (unrelated doc)
      input.addData((3L, "completely unrelated text about catalyst", ts(1000)))
      q.processAllAvailable()
      input.addData((4L, "another unrelated doc mentioning parquet", ts(1001)))
      q.processAllAvailable()
      // 5 matches 1/2 but their buckets aged out: no cross-window pair;
      // 6 arrives in the SAME window as 5 and must still pair with it
      input.addData((5L, near, ts(1002)))
      q.processAllAvailable()
      input.addData((6L, near, ts(1003)))
      q.processAllAvailable()
      val got = spark.table("lshw").select("id1", "id2").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((1L, 2L)), s"in-window pair missing: $got")
      assert(got.contains((5L, 6L)), s"post-expiry in-window pair missing: $got")
      assert(!got.exists(p => p._1 <= 2L && p._2 >= 5L),
        s"expired bucket must not pair across the watermark: $got")
    } finally q.stop()
  }

  test("streaming LSH watermarked: bucket lease refreshes monotonically") {
    // ADVICE r17: a later in-window batch holding only OLDER event
    // times must not LOWER the bucket's lease. doc1 (t=100) promises
    // lease 160 under a 60-minute delay; doc2 (t=50, still in window)
    // would rewrite it to 110 if the refresh read only the current
    // batch's max. The watermark then moves to 140 — past the buggy
    // lease, short of the monotonic one — and doc3 must still pair
    // with BOTH early members.
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val near = "the quick brown fox jumps over the lazy dog tonight"
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val pairs = graft.streaming.StreamLsh.candidatePairsWithinWatermark(
      input.toDF().toDF("doc_id", "text", "ts"), "text", "doc_id",
      "ts", "60 minutes")
    val q = pairs.writeStream.format("memory").queryName("lshm")
      .outputMode("append").start()
    try {
      input.addData((1L, near, ts(100)))
      q.processAllAvailable()
      // older-but-in-window arrival (watermark is 40 here)
      input.addData((2L, near, ts(50)))
      q.processAllAvailable()
      // unrelated docs push the watermark to 140, then give expiry a
      // dataless batch to fire in (the bucket must NOT expire: its
      // monotonic lease is 100 + 60 = 160)
      input.addData((8L, "completely unrelated text about catalyst", ts(200)))
      q.processAllAvailable()
      input.addData((9L, "another unrelated doc mentioning parquet", ts(201)))
      q.processAllAvailable()
      input.addData((3L, near, ts(150)))
      q.processAllAvailable()
      val got = spark.table("lshm").select("id1", "id2").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((1L, 2L)), s"in-window pair missing: $got")
      assert(got.contains((1L, 3L)) && got.contains((2L, 3L)),
        s"monotonic lease must keep early members alive at t=150: $got")
    } finally q.stop()
  }

  test("streaming LSH watermarked: a trailing no-data batch emits zero rows") {
    // Pins the invariant the s12 gate's noDataMicroBatches=false
    // optimization depends on (ADVICE r18): candidatePairsWithinWatermark
    // emits only on data arrival — watermark-driven EXPIRY drops state
    // but never emits rows, so skipping the auto no-data batch cannot
    // change the output. If a future change makes expiry itself emit,
    // this test fails before the oracle does.
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val near = "the quick brown fox jumps over the lazy dog tonight"
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val pairs = graft.streaming.StreamLsh.candidatePairsWithinWatermark(
      input.toDF().toDF("doc_id", "text", "ts"), "text", "doc_id",
      "ts", "10 minutes")
    val q = pairs.writeStream.format("memory").queryName("lshnd")
      .outputMode("append").start()
    try {
      input.addData((1L, near, ts(10)), (2L, near, ts(11)))
      q.processAllAvailable()
      val afterData = spark.table("lshnd").count()
      // push the watermark far past the bucket leases, then give the
      // engine a dataless batch (the s12 tick shape: < k shingles) —
      // expiry fires in it, and MUST emit nothing
      input.addData((3L, "completely unrelated text about catalyst", ts(1000)))
      q.processAllAvailable()
      val beforeTick = spark.table("lshnd").count()
      input.addData((-1L, "", ts(1001)))
      q.processAllAvailable()
      val afterTick = spark.table("lshnd").count()
      assert(afterData > 0, "sanity: the in-window pair must have emitted")
      assert(afterTick == beforeTick,
        s"dataless expiry batch emitted rows: $beforeTick -> $afterTick")
    } finally q.stop()
  }

  test("stream state width derives from batch volume, conf overrides") {
    val s = spark
    val dp = s.sparkContext.defaultParallelism
    // small gate-scale volume floors at 4 (the r18 bench width)
    assert(graft.streaming.StreamWidth.derive(s, 600L << 10) == 4)
    // a cluster-scale batch volume derives width >= defaultParallelism
    // (the checkpoint pins the width forever — a static small default
    // would trap a production stream at toy width)
    assert(graft.streaming.StreamWidth.derive(s, 4L << 30) >= dp)
    // the cap keeps the derivation bounded
    assert(graft.streaming.StreamWidth.derive(s, Long.MaxValue) <= 8 * dp)
    // explicit conf wins outright
    val ns = s.newSession()
    ns.conf.set(GraftConf.StatePartitions, "7")
    assert(graft.streaming.StreamWidth.derive(ns, 4L << 30) == 7)
    // scoped() isolates the width from the parent session's conf
    val scoped = graft.streaming.StreamWidth.scoped(s, 4L << 30)
    assert(scoped.conf.get("spark.sql.shuffle.partitions").toInt >= dp)
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
