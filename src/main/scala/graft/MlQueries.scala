package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.ml.Similarity
import graft.multimodal.Multimodal
import graft.text.TextFunctions

/** Training-data pipeline operators (dedup / text analysis / ANN /
  * multimodal) gate entries over the `documents`, `embeddings` and
  * `events` tables. */
object MlQueries {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  /** Documents plus exact duplicates of every 5th doc (id+100000) so
    * exact-dedup has guaranteed non-trivial groups. */
  private def corpus(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    base.unionByName(base.where("doc_id % 5 = 0")
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  // NOTE (round 18): trailing orderBys dropped from the wide-output
  // gates — the oracle gate compares a canonicalized row MULTISET
  // (driver recomputes both sides each round), so presentation order
  // is not part of what a query computes, and each trailing sort cost
  // a range exchange (sampling pass + sort) over the full output.
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_token_count" -> ((s, d) => docs(s, d).select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.bpeTokenEstimate(col("text")).as("n_bpe"))),
    "t_lang_id" -> ((s, d) => docs(s, d).select(
      col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))),
    "t_quality" -> ((s, d) => docs(s, d).select(
      col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"))),
    "t_fingerprint" -> ((s, d) => docs(s, d).select(
      col("doc_id"), TextFunctions.fingerprint(col("text")).as("fingerprint"))),
    "t_repetition" -> ((s, d) => docs(s, d).select(
      col("doc_id"),
      TextFunctions.repetitionRatio(col("text")).as("rep_ratio"))),
    // benchmark decontamination: every 7th doc doubles as the "eval
    // set"; a doc is contaminated when it shares >= 2 distinct
    // 5-token n-grams with a benchmark text
    "t_decontaminate" -> ((s, d) => {
      val base = docs(s, d)
      graft.text.Decontaminate.contaminationPairs(
        base, base.where("doc_id % 7 = 0"), "text", "doc_id", "doc_id",
        n = 5, minShared = 2L)
        .orderBy("doc_id", "bench_id")
    }),
    // streaming exact-dedup: the same documents source unioned with
    // itself (every text arrives twice) -> first-occurrence digests;
    // output is the distinct content-fingerprint set, deterministic
    // regardless of which arrival wins
    "s10_stream_dedup" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val batch = Tables.load(s, d, "documents")
      val schema = batch.schema
      // scale-adaptive stateful width on an ISOLATED child session
      // (round 19, [[graft.streaming.StreamWidth]]): derived from the
      // batch volume (x2 — the gate doubles the stream), overridable
      // via spark.bio.stream.statePartitions; the child session means
      // batch-0 planning deterministically sees the width without the
      // round-18 save/restore on the shared session conf
      val ns = graft.streaming.StreamWidth.scoped(s,
        2L * graft.streaming.StreamWidth.estimatedBytes(batch))
      def src = ns.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val doubled = src.unionByName(src)
      val out = graft.streaming.StreamDedup.firstOccurrences(doubled, "text")
        .select(col("fp"))
      // fixed sink name (ADVICE r15: UUID sinks retained one output
      // copy per bench pass); registered on the throwaway child
      // session, which dies with this invocation
      val name = "s10dedup_sink"
      val sq = out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      sq.awaitTermination()
      ns.table(name)
    }),
    // streaming LSH candidate generation: the same documents arriving
    // as a stream must yield EXACTLY the batch operator's candidate
    // pair set (stateful (band, minhash)-bucket emission; the batch
    // distinct over the sink collapses cross-bucket repeats)
    "s11_stream_lsh" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val batch = Tables.load(s, d, "documents")
      val schema = batch.schema
      // scale-adaptive stateful width on an isolated child session
      // (round 19, [[graft.streaming.StreamWidth]]): 32 state-store
      // instances per stage were pure overhead for one ~40k-row batch
      // (round 18); the width is derived from the batch volume now,
      // and the child session replaces the save/restore race fix —
      // batch-0 planning reads the width off a conf nobody mutates
      val ns = graft.streaming.StreamWidth.scoped(s,
        graft.streaming.StreamWidth.estimatedBytes(batch))
      val src = ns.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val pairs = graft.streaming.StreamLsh.candidatePairs(
        src, "text", "doc_id", k = 3, bands = 8)
      val name = "s11lsh_sink"
      val sq = pairs.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      sq.awaitTermination()
      ns.table(name).select(col("id1"), col("id2")).distinct()
    }),
    // WATERMARKED streaming LSH (VERDICT r17 #6): the bounded-state
    // 24/7 variant, driven as three event-timed micro-batches (doc_id
    // tertiles, event time = doc_id seconds) with a shingle-less
    // "tick" batch after each — the tick carries the already-reached
    // max event time through the watermark node but feeds no bucket,
    // so a batch deterministically EXECUTES with the advanced
    // watermark while every bucket is dataless and expiry fires
    // (otherwise expiry rides Spark's auto-inserted empty batch,
    // which races addData). A bucket whose lease (max event time
    // seen + delay) the watermark passed drops its members; the
    // DuckDB oracle replays exactly that per-bucket algebra.
    "s12_stream_lsh_wm" -> ((s, d) => {
      // the corpus is driver-fed by construction here (a MemoryStream
      // is the only deterministic multi-batch source); BuildGuard caps
      // it like the streaming interval gates' static sides
      val docsDf = Tables.load(s, d, "documents")
        .select(col("doc_id").cast("long"), col("text"))
      graft.ranges.BuildGuard.requireFits(docsDf, "s12_stream_lsh_wm",
        "the watermarked-LSH gate feeds a MemoryStream from the driver")
      val rows = docsDf.collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val n = rows.map(_._1).max + 1
      val (s1, s2, dly) = (n / 3, 2 * n / 3, n / 12)
      val epoch = 1700000000L
      // scale-adaptive stateful width on an isolated child session
      // (round 19, [[graft.streaming.StreamWidth]]): 32 state-store
      // instances per stateful stage PER BATCH were pure overhead at
      // six ~40k-row micro-batches (the committed r18 run shows 328
      // tasks / taskSec 170+ at width 32 vs 103 / ~13 at width 8).
      // Width derives from the driver-fed tertile volume; the child
      // session replaces the round-18 save/restore (batch-0 planning
      // reads the width off a conf nobody mutates). Auto no-data
      // batches are OFF: the explicit tick batches are the
      // deterministic expiry points (same watermark algebra — the
      // auto batch fired the same expiry one batch earlier, emitted
      // nothing, and cost a full stateful pass per trigger;
      // StreamingSuite pins that a trailing no-data batch emits zero
      // rows for this gate shape).
      val estBytes = rows.map(_._2.length + 24L).sum / 3
      val ns = graft.streaming.StreamWidth.scoped(s, estBytes,
        noDataMicroBatches = Some(false))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      import ns.implicits._
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, Long)]
      val src = input.toDF().toDF("doc_id", "text", "_evs")
        .withColumn("ev", timestamp_seconds(col("_evs")))
      val pairs = graft.streaming.StreamLsh.candidatePairsWithinWatermark(
        src, "text", "doc_id", "ev", s"$dly seconds")
      val name = "s12lshwm_sink"
      val sq = pairs.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        val batches = Seq(
          rows.filter(_._1 < s1), rows.filter(r => r._1 >= s1 && r._1 < s2),
          rows.filter(_._1 >= s2))
        for ((b, i) <- batches.zipWithIndex) {
          input.addData(b.map { case (id, t) => (id, t, epoch + id) }.toSeq)
          sq.processAllAvailable()
          // tick: same max event time, zero shingles (< k words) — a
          // deterministic dataless batch for expiry to fire in before
          // the next tertile arrives (pointless after the last one)
          if (i < batches.size - 1) {
            input.addData((-1L, "", epoch + b.map(_._1).max))
            sq.processAllAvailable()
          }
        }
      } finally sq.stop()
      ns.table(name).select(col("id1"), col("id2")).distinct()
    }),
    // deterministic training-batch assembly: contiguous greedy
    // packing into 256-token bins, and a stable md5 train/val/test
    // split (no RNG - rebuildable shards)
    "t_pack_sequences" -> ((s, d) =>
      graft.text.Packing.packSequences(docs(s, d), "text", "doc_id", 256L)
        .select("doc_id", "n_tokens", "stream_offset", "bin")),
    "t_hash_split" -> ((s, d) =>
      graft.text.Packing.hashSplit(docs(s, d).select("doc_id"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))),
    "d_exact_dups" -> ((s, d) =>
      Dedup.exactDuplicates(corpus(s, d), "text", "doc_id")),
    // the filter step on the same duplicated corpus: one representative
    // (min id) per content fingerprint survives
    "d_dedup_filter" -> ((s, d) =>
      Dedup.removeExactDuplicates(corpus(s, d), "text", "doc_id")),
    // PII scrub over text with deterministically injected email / IPv4
    // / phone strings (the base corpus carries none, so the gate would
    // otherwise pass on a no-op); counts come from the ORIGINAL text
    "t_pii_redact" -> ((s, d) => {
      val injected = docs(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or 555-867-530"),
          col("doc_id") % 10, lit(" ip 10.2."), col("doc_id") % 256, lit(".77"))
          .as("text"))
      injected.select(col("doc_id"),
        TextFunctions.redactPii(col("text")).as("clean"),
        TextFunctions.piiCount(col("text"), "email").as("n_email"),
        TextFunctions.piiCount(col("text"), "ip").as("n_ip"),
        TextFunctions.piiCount(col("text"), "phone").as("n_phone"))
    }),
    // the end-to-end near-dup REMOVAL pipeline: LSH candidates ->
    // jaccard-verified edges -> connected components -> keep each
    // cluster's min id + every unclustered doc
    "d_near_dedup_filter" -> ((s, d) =>
      Dedup.removeNearDuplicates(docs(s, d), "text", "doc_id", threshold = 0.5)
        .select(col("doc_id"))),
    // the SimHash sibling of the removal pipeline: 64-bit banded
    // Hamming edges -> connected components -> min-id survivors
    "d_near_dedup_simhash" -> ((s, d) =>
      Dedup.removeNearDuplicatesSimhash(docs(s, d), "text", "doc_id")
        .select(col("doc_id"))),
    // tokenizer-corpus statistics: top-50 word trigrams by count,
    // lexicographic tie-break (engine-independent cut at rank k)
    "t_top_ngrams" -> ((s, d) =>
      graft.text.TextFunctions.topNgrams(docs(s, d), "text", n = 3, k = 50)),
    // pre-packing context clamp: first 20 whitespace tokens of the
    // normalized text, cut at a word boundary
    "t_truncate" -> ((s, d) => docs(s, d).select(col("doc_id"),
      TextFunctions.truncateTokens(col("text"), 20).as("clipped"),
      least(TextFunctions.tokenCount(col("text")), lit(20L)).as("n_kept"))),
    // deterministic training-mix sampling: per-SOURCE keep rates with
    // an md5 uniform salted by the stratum (independent of hashSplit)
    "t_stratified_sample" -> ((s, d) =>
      graft.text.Packing.stratifiedSample(docs(s, d), "doc_id", "source",
        Seq("src0" -> 0.9, "src1" -> 0.5, "src2" -> 0.25),
        defaultFraction = 0.1)
        .select(col("doc_id"), col("source"))),
    "d_lsh_pairs" -> ((s, d) =>
      Dedup.lshCandidatePairs(docs(s, d), "text", "doc_id")),
    "d_jaccard" -> ((s, d) => {
      val pairs = Dedup.lshCandidatePairs(docs(s, d), "text", "doc_id")
      Dedup.ngramJaccard(docs(s, d), pairs, "text", "doc_id")
    }),
    "d_simhash16" -> ((s, d) => Dedup.simhash16(docs(s, d), "text", "doc_id")),
    "d_simhash_pairs" -> ((s, d) => Dedup.simhashPairs(docs(s, d), "text", "doc_id")),
    "d_simhash64_pairs" -> ((s, d) => Dedup.simhash64Pairs(docs(s, d), "text", "doc_id")),
    "d_dup_clusters" -> ((s, d) =>
      graft.dedup.Dedup.duplicateClusters(Similarity.nearDuplicatePairs(
        Tables.load(s, d, "embeddings"), threshold = 0.3, planes = 8, dim = 64)
        .select("id1", "id2"))),
    "d_embed_dups" -> ((s, d) =>
      Similarity.nearDuplicatePairs(
        Tables.load(s, d, "embeddings"), threshold = 0.3, planes = 8, dim = 64)),
    "ann_topk" -> ((s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.where("vec_id % 100 = 0"), 5)
    }),
    "ann_ivf_topk" -> ((s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      Similarity.ivfTopK(emb, emb.where("vec_id % 100 = 0"), 5,
        centEvery = 40, nprobe = 3)
    }),
    "ann_lsh_topk" -> ((s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      Similarity.lshTopK(emb, emb.where("vec_id % 100 = 0"), 5, planes = 8, dim = 64)
    }),
    "mm_features" -> ((s, d) => {
      val assets = Tables.load(s, d, "events").selectExpr(
        "event_id AS asset_id",
        "CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type",
        "CAST(props AS BINARY) AS payload")
      Multimodal.extractFeatures(assets)
        .select(col("asset_id"), col("media_type"), col("byte_length"), col("checksum"))
    }),
    // REAL-codec gate: payloads are genuine PNG (ImageIO-encoded) and
    // WAV (javax.sound-encoded) bytes whose dimensions derive from the
    // id; extractFeatures must recover them through the real JDK
    // header decoders — the oracle recomputes the expected dimensions
    // from the id arithmetic, so a silent fall-back to the
    // synthetic-header parse cannot pass. Video keeps the synthetic
    // 16-byte header (the JDK ships no video codec). Subsampled 1/7
    // to keep the per-round encode cost bounded at bench scale.
    "mm_real_codecs" -> ((s, d) => {
      import s.implicits._
      val ids = graft.core.Parallelism.ensure(
          Tables.load(s, d, "events").where("event_id % 7 = 0"))
        .select(col("event_id").cast("long")).as[Long]
      val assets = ids.mapPartitions { it =>
        it.map { id =>
          (id % 3) match {
            case 0L => (id, "image",
              Multimodal.JdkCodec.encodePng((id % 64 + 1).toInt, (id % 48 + 1).toInt))
            case 1L => (id, "audio",
              Multimodal.JdkCodec.encodeWav((id % 800 + 8).toInt))
            case _ => (id, "video", Multimodal.JdkCodec.encodeMp4(
              (id % 3840 + 16).toInt, (id % 2160 + 16).toInt, id % 10000 + 40))
          }
        }
      }.toDF("asset_id", "media_type", "payload")
      Multimodal.extractFeatures(assets)
        .select(col("asset_id"), col("media_type"), col("width"),
          col("height"), col("duration_ms"))
    }),
    // frame-sample plumbing over a SQL-derived duration (the header
    // codec is the declared stub; the explode shape is the operator)
    "mm_frame_sample" -> ((s, d) => {
      val feats = Tables.load(s, d, "events").where("event_id % 3 = 2").selectExpr(
        "event_id AS asset_id", "CAST(event_id % 10000 + 40 AS BIGINT) AS duration_ms")
      Multimodal.sampleFrameOffsets(feats, 4)
    }),
    // aspect-preserving resize planning over SQL-derived dimensions
    "mm_resize_plan" -> ((s, d) => {
      val feats = Tables.load(s, d, "events").where("event_id % 3 = 0").selectExpr(
        "event_id AS asset_id",
        "CAST(event_id % 3840 + 16 AS INT) AS width",
        "CAST(event_id % 2160 + 16 AS INT) AS height")
      Multimodal.resizePlan(feats, maxDim = 512)
    }),
  )

  // ---- DuckDB oracle fragments --------------------------------------

  private val norm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
  private val corpusCte =
    "corp AS (SELECT doc_id, text FROM documents UNION ALL " +
    "SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0)"

  /** words → 3-shingles → 8-band minhash (affine hash of the md5
    * prefix, minimum per band), shared by the LSH/jaccard oracles. */
  private val shinglesCte =
    s"""w AS (SELECT doc_id, string_split($norm, ' ') AS words FROM documents),
       |sh AS (SELECT doc_id, array_to_string(words[CAST(i AS INT):CAST(i AS INT)+2], ' ') AS sh
       |  FROM w, UNNEST(generate_series(1, len(words)-2)) AS t(i) WHERE len(words) >= 3),
       |sh2 AS (SELECT doc_id, CAST(concat('0x', substr(md5(sh), 1, 7)) AS BIGINT) AS hv FROM sh),
       |mh AS (SELECT doc_id, b, MIN(((2 * b + 1) * hv + b * 7919 + 13) % 1000000007) AS h
       |  FROM sh2, UNNEST(generate_series(0, 7)) AS u(b) GROUP BY doc_id, b),
       |pairs AS (SELECT DISTINCT a.doc_id AS id1, bb.doc_id AS id2 FROM mh a
       |  JOIN mh bb ON a.b = bb.b AND a.h = bb.h AND a.doc_id < bb.doc_id)"""
      .stripMargin.replace("\n", " ")

  private val stop = Map(
    "en" -> "\\b(the|and|of|to|in|is|that|it)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht|mit|ein)\\b",
    "es" -> "\\b(el|la|los|de|que|y|en|un)\\b",
    "fr" -> "\\b(le|la|les|et|est|que|dans|un)\\b")
  private def hits(lang: String) =
    s"CAST(len(regexp_extract_all(lower(text), '${stop(lang)}')) AS BIGINT)"

  /** 16-bit simhash signatures `sg(id, simhash)` — shared by the
    * simhash16 / simhash-pairs oracles. */
  private val simhashCte =
    s"""w2 AS (SELECT doc_id, $norm AS norm FROM documents),
       |toks AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM
       |  (SELECT doc_id, UNNEST(string_split(norm, ' ')) AS tok FROM w2)
       |  WHERE tok <> '' GROUP BY doc_id, tok),
       |bits AS (SELECT doc_id, j,
       |  SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), CAST(j AS INT) + 1, 1)) - 1) % 2 = 1
       |      THEN cnt ELSE -cnt END) AS vote
       |  FROM toks, UNNEST(generate_series(0, 15)) AS t(j) GROUP BY doc_id, j),
       |sg AS (SELECT doc_id AS id,
       |  CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id)""".stripMargin.replace("\n", " ")

  /** Quantized embeddings + integer dot/norm machinery (exact,
    * order-independent — mirrors Similarity's fixed-point design). */
  private val quantCte =
    """qd AS (SELECT vec_id, list_transform(embedding,
      |  x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qv FROM embeddings),
      |norms AS (SELECT vec_id, SUM(qv[CAST(i AS INT)] * qv[CAST(i AS INT)]) AS n2
      |  FROM qd, UNNEST(generate_series(1, 64)) AS t(i) GROUP BY vec_id)"""
      .stripMargin.replace("\n", " ")

  /** 64-bit simhash signatures `sg64(id, simhash)` — the production
    * width ([[graft.dedup.Dedup.simhash64Df]]): hex digit `j // 4`'s
    * bit `j % 4` votes for signature bit j; bit 63 contributes the
    * explicit Long.MinValue constant (DuckDB errors on `1 << 63`). */
  private val simhash64Cte =
    s"""w2 AS (SELECT doc_id, $norm AS norm FROM documents),
       |toks AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM
       |  (SELECT doc_id, UNNEST(string_split(norm, ' ')) AS tok FROM w2)
       |  WHERE tok <> '' GROUP BY doc_id, tok),
       |bits AS (SELECT doc_id, j,
       |  SUM(CASE WHEN ((strpos('0123456789abcdef', substr(md5(tok), CAST(j // 4 AS INT) + 1, 1)) - 1)
       |      >> (CAST(j AS INT) % 4)) & 1 = 1
       |      THEN cnt ELSE -cnt END) AS vote
       |  FROM toks, UNNEST(generate_series(0, 63)) AS t(j) GROUP BY doc_id, j),
       |sg64 AS (SELECT doc_id AS id,
       |  CAST(SUM(CASE WHEN vote > 0 THEN
       |    CASE WHEN j = 63 THEN -9223372036854775807 - 1
       |         ELSE CAST(1 AS BIGINT) << CAST(j AS INT) END
       |    ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id)""".stripMargin.replace("\n", " ")

  val oracleSql: Map[String, String] = Map(
    "t_repetition" ->
      ("SELECT doc_id, CASE WHEN len(regexp_extract_all(text, '\\S+')) = 0 THEN 0.0 " +
       "ELSE 1.0 - CAST(len(list_distinct(regexp_extract_all(text, '\\S+'))) AS DOUBLE) " +
       "/ CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) END AS rep_ratio " +
       "FROM documents ORDER BY doc_id"),
    "t_token_count" ->
      ("SELECT doc_id, CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens, " +
       "CAST(len(regexp_extract_all(text, '\\p{L}+|\\p{N}|[^\\s\\p{L}\\p{N}]')) AS BIGINT) AS n_bpe " +
       "FROM documents ORDER BY doc_id"),
    "t_lang_id" ->
      s"""SELECT doc_id, CASE
         | WHEN ${hits("en")} >= ${hits("de")} AND ${hits("en")} >= ${hits("es")} AND ${hits("en")} >= ${hits("fr")} THEN 'en'
         | WHEN ${hits("de")} >= ${hits("es")} AND ${hits("de")} >= ${hits("fr")} THEN 'de'
         | WHEN ${hits("es")} >= ${hits("fr")} THEN 'es'
         | ELSE 'fr' END AS lang_pred FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "t_quality" ->
      s"""SELECT doc_id, round(
         |  least(CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) / 20.0, 1.0) * 0.3
         |  + CASE WHEN CAST(length(text) AS DOUBLE) / greatest(CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE), 1.0) >= 3.0
         |     AND CAST(length(text) AS DOUBLE) / greatest(CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE), 1.0) <= 10.0
         |     THEN 1.0 ELSE 0.5 END * 0.2
         |  + (1.0 - least(CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
         |     / greatest(CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE), 1.0), 1.0)) * 0.2
         |  + least(CAST(${hits("en")} AS DOUBLE) * 4.0
         |     / greatest(CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE), 1.0), 1.0) * 0.3
         |, 6) AS quality FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "t_fingerprint" ->
      s"SELECT doc_id, md5($norm) AS fingerprint FROM documents ORDER BY doc_id",
    "t_decontaminate" ->
      ("""WITH dt AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks FROM documents),
         |dn AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS ng
         |  FROM dt, UNNEST(range(1, len(toks) - 3)) AS t(i))
         |SELECT d.doc_id, b.doc_id AS bench_id, CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM dn d JOIN dn b ON b.ng = d.ng AND b.doc_id % 7 = 0
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY 1, 2""")
        .stripMargin.replace("\n", " "),
    "s10_stream_dedup" ->
      "SELECT DISTINCT md5(text) AS fp FROM documents ORDER BY fp",
    "t_pack_sequences" ->
      ("""WITH t AS (SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS stream_offset
         |  FROM t)
         |SELECT doc_id, n_tokens, stream_offset,
         |  CAST(stream_offset // 256 AS BIGINT) AS bin FROM c ORDER BY doc_id""")
        .stripMargin.replace("\n", " "),
    "t_hash_split" ->
      ("""WITH u AS (SELECT doc_id,
         |  CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
         |    / 1152921504606846976.0 AS h FROM documents)
         |SELECT doc_id, CASE WHEN h < 0.8 THEN 'train'
         |  WHEN h < 0.9 THEN 'val' ELSE 'test' END AS split
         |FROM u ORDER BY doc_id""").stripMargin.replace("\n", " "),
    "d_exact_dups" ->
      s"""WITH $corpusCte,
         |fp AS (SELECT doc_id AS id, md5($norm) AS fingerprint FROM corp)
         |SELECT id, fingerprint,
         | CAST(COUNT(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS group_size,
         | MIN(id) OVER (PARTITION BY fingerprint) AS canonical_id
         |FROM fp QUALIFY group_size > 1 ORDER BY id""".stripMargin.replace("\n", " "),
    "d_dedup_filter" ->
      s"""WITH $corpusCte,
         |f AS (SELECT doc_id, text, md5($norm) AS fp FROM corp)
         |SELECT doc_id, text FROM f
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1
         |ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "t_pii_redact" ->
      ("""WITH t AS (SELECT doc_id, concat(text, ' contact user', CAST(doc_id AS VARCHAR),
         |  '@example.com or 555-867-530', CAST(doc_id % 10 AS VARCHAR),
         |  ' ip 10.2.', CAST(doc_id % 256 AS VARCHAR), '.77') AS text FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
         |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS clean,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
         |  CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone
         |FROM t ORDER BY doc_id""").stripMargin.replace("\n", " "),
    "d_lsh_pairs" ->
      s"WITH $shinglesCte SELECT id1, id2 FROM pairs ORDER BY id1, id2",
    // the stream must reproduce the batch LSH pair set exactly
    "s11_stream_lsh" ->
      s"WITH $shinglesCte SELECT id1, id2 FROM pairs ORDER BY id1, id2",
    // the watermarked stream's per-bucket expiry algebra, replayed:
    // batches are doc_id tertiles with event time = doc_id seconds
    // and delay D = n/12; a bucket's lease after a batch is
    // (max id seen) + D, the watermark entering the next data batch
    // is (previous tertile max) - D, and a deterministic dataless
    // batch between tertiles fires expiry — so a bucket's earlier
    // members pair forward iff lease >= watermark at every boundary
    // crossed (ids are batch-ordered, so the running max a surviving
    // bucket carries is just its newest member)
    "s12_stream_lsh_wm" ->
      s"""WITH $shinglesCte,
         |prm AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
         |mem AS (SELECT m.doc_id, m.b, m.h,
         |  CASE WHEN m.doc_id < p.n // 3 THEN 0
         |       WHEN m.doc_id < 2 * p.n // 3 THEN 1 ELSE 2 END AS bt
         |  FROM mh m, prm p),
         |g AS (SELECT b, h,
         |  MAX(CASE WHEN bt = 0 THEN doc_id END) AS mx0,
         |  MAX(CASE WHEN bt = 1 THEN doc_id END) AS mx1
         |  FROM mem GROUP BY b, h),
         |pr AS (SELECT m1.doc_id AS id1, m2.doc_id AS id2,
         |  m1.bt AS bt1, m2.bt AS bt2, g.mx0, g.mx1, p.n
         |  FROM mem m1
         |  JOIN mem m2 ON m1.b = m2.b AND m1.h = m2.h AND m1.doc_id < m2.doc_id
         |  JOIN g ON g.b = m1.b AND g.h = m1.h, prm p)
         |SELECT DISTINCT id1, id2 FROM pr
         |WHERE bt2 = bt1
         |   OR (bt2 = 1 AND bt1 = 0 AND mx0 + 2 * (n // 12) >= n // 3 - 1)
         |   OR (bt2 = 2 AND bt1 = 1 AND mx1 + 2 * (n // 12) >= 2 * n // 3 - 1)
         |   OR (bt2 = 2 AND bt1 = 0 AND mx0 + 2 * (n // 12) >= n // 3 - 1
         |       AND COALESCE(mx1, mx0) + 2 * (n // 12) >= 2 * n // 3 - 1)
         |ORDER BY id1, id2""".stripMargin.replace("\n", " "),
    "d_jaccard" ->
      s"""WITH $shinglesCte,
         |shd AS (SELECT DISTINCT doc_id,
         |  CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) AS sh FROM sh),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
         |inter AS (SELECT p.id1, p.id2, COUNT(*) AS ix FROM pairs p
         |  JOIN shd s1 ON s1.doc_id = p.id1 JOIN shd s2 ON s2.doc_id = p.id2 AND s2.sh = s1.sh
         |  GROUP BY p.id1, p.id2)
         |SELECT p.id1, p.id2,
         |  round(CAST(COALESCE(i.ix, 0) AS DOUBLE)
         |    / CAST(c1.n + c2.n - COALESCE(i.ix, 0) AS DOUBLE), 6) AS jaccard
         |FROM pairs p LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
         |JOIN cnt c1 ON c1.doc_id = p.id1 JOIN cnt c2 ON c2.doc_id = p.id2
         |ORDER BY p.id1, p.id2""".stripMargin.replace("\n", " "),
    "d_near_dedup_filter" ->
      s"""WITH RECURSIVE $shinglesCte,
         |shd AS (SELECT DISTINCT doc_id,
         |  CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) AS sh FROM sh),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
         |inter AS (SELECT p.id1, p.id2, COUNT(*) AS ix FROM pairs p
         |  JOIN shd s1 ON s1.doc_id = p.id1 JOIN shd s2 ON s2.doc_id = p.id2 AND s2.sh = s1.sh
         |  GROUP BY p.id1, p.id2),
         |jac AS (SELECT p.id1, p.id2 FROM pairs p
         |  LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
         |  JOIN cnt c1 ON c1.doc_id = p.id1 JOIN cnt c2 ON c2.doc_id = p.id2
         |  WHERE round(CAST(COALESCE(i.ix, 0) AS DOUBLE)
         |    / CAST(c1.n + c2.n - COALESCE(i.ix, 0) AS DOUBLE), 6) >= 0.5),
         |e AS (SELECT id1 AS a, id2 AS b FROM jac UNION ALL SELECT id2, id1 FROM jac),
         |nodes AS (SELECT DISTINCT a AS id FROM e),
         |cc AS (SELECT id, id AS lbl FROM nodes
         |  UNION
         |  SELECT e.a, cc.lbl FROM cc JOIN e ON cc.id = e.b),
         |drp AS (SELECT id FROM (SELECT id, MIN(lbl) AS cl FROM cc GROUP BY id)
         |  WHERE id <> cl)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM drp) ORDER BY doc_id"""
        .stripMargin.replace("\n", " "),
    "t_stratified_sample" ->
      ("""WITH u AS (SELECT doc_id, source,
         |  CAST(CAST(concat('0x', substr(md5(concat(source, ':', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS DOUBLE)
         |    / 1152921504606846976.0 AS h FROM documents)
         |SELECT doc_id, source FROM u
         |WHERE h < CASE source WHEN 'src0' THEN 0.9 WHEN 'src1' THEN 0.5
         |  WHEN 'src2' THEN 0.25 ELSE 0.1 END
         |ORDER BY doc_id""").stripMargin.replace("\n", " "),
    "d_simhash16" ->
      s"WITH $simhashCte SELECT id, simhash FROM sg ORDER BY id",
    "d_simhash_pairs" ->
      s"""WITH $simhashCte,
         |bd AS (SELECT id, simhash, b, (simhash >> (CAST(b AS INT) * 4)) & 15 AS ck
         |  FROM sg, UNNEST(generate_series(0, 3)) AS t(b))
         |SELECT DISTINCT a.id AS id1, bb.id AS id2,
         |  CAST(bit_count(xor(a.simhash, bb.simhash)) AS INT) AS hamming
         |FROM bd a JOIN bd bb ON a.b = bb.b AND a.ck = bb.ck AND a.id < bb.id
         |WHERE bit_count(xor(a.simhash, bb.simhash)) <= 3
         |ORDER BY id1, id2""".stripMargin.replace("\n", " "),
    "d_simhash64_pairs" ->
      s"""WITH $simhash64Cte,
         |bd AS (SELECT id, simhash, b, (simhash >> (CAST(b AS INT) * 16)) & 65535 AS ck
         |  FROM sg64, UNNEST(generate_series(0, 3)) AS t(b))
         |SELECT DISTINCT a.id AS id1, bb.id AS id2,
         |  CAST(bit_count(xor(a.simhash, bb.simhash)) AS INT) AS hamming
         |FROM bd a JOIN bd bb ON a.b = bb.b AND a.ck = bb.ck AND a.id < bb.id
         |WHERE bit_count(xor(a.simhash, bb.simhash)) <= 3
         |ORDER BY id1, id2""".stripMargin.replace("\n", " "),
    "d_near_dedup_simhash" ->
      s"""WITH RECURSIVE $simhash64Cte,
         |bd AS (SELECT id, simhash, b, (simhash >> (CAST(b AS INT) * 16)) & 65535 AS ck
         |  FROM sg64, UNNEST(generate_series(0, 3)) AS t(b)),
         |sp AS (SELECT DISTINCT a.id AS id1, bb.id AS id2
         |  FROM bd a JOIN bd bb ON a.b = bb.b AND a.ck = bb.ck AND a.id < bb.id
         |  WHERE bit_count(xor(a.simhash, bb.simhash)) <= 3),
         |e AS (SELECT id1 AS a, id2 AS b FROM sp UNION ALL SELECT id2, id1 FROM sp),
         |nodes AS (SELECT DISTINCT a AS id FROM e),
         |cc AS (SELECT id, id AS lbl FROM nodes
         |  UNION
         |  SELECT e.a, cc.lbl FROM cc JOIN e ON cc.id = e.b),
         |drp AS (SELECT id FROM (SELECT id, MIN(lbl) AS cl FROM cc GROUP BY id)
         |  WHERE id <> cl)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM drp) ORDER BY doc_id"""
        .stripMargin.replace("\n", " "),
    "t_truncate" ->
      s"""SELECT doc_id,
         |array_to_string((string_split($norm, ' '))[1:20], ' ') AS clipped,
         |CAST(LEAST(len(regexp_extract_all(text, '\\S+')), 20) AS BIGINT) AS n_kept
         |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "t_top_ngrams" ->
      s"""WITH w AS (SELECT string_split($norm, ' ') AS words FROM documents),
         |ng AS (SELECT array_to_string(words[CAST(i AS INT):CAST(i AS INT)+2], ' ') AS ngram
         |  FROM w, UNNEST(generate_series(1, len(words)-2)) AS t(i) WHERE len(words) >= 3)
         |SELECT ngram, CAST(COUNT(*) AS BIGINT) AS cnt FROM ng WHERE ngram <> ''
         |GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 50"""
        .stripMargin.replace("\n", " "),
    "ann_topk" ->
      s"""WITH $quantCte,
         |dots AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |   SUM(q.qv[CAST(i AS INT)] * c.qv[CAST(i AS INT)]) AS dot
         | FROM qd q JOIN qd c ON q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id,
         |   UNNEST(generate_series(1, 64)) AS t(i)
         | GROUP BY q.vec_id, c.vec_id),
         |sel AS (SELECT q_id, n_id, round(CAST(dot AS DOUBLE)
         |  / sqrt(CAST(nq.n2 AS DOUBLE)) / sqrt(CAST(nc.n2 AS DOUBLE)), 9) AS cos
         |  FROM dots JOIN norms nq ON nq.vec_id = q_id JOIN norms nc ON nc.vec_id = n_id)
         |SELECT q_id, n_id, CAST(rn AS INT) AS rank FROM
         | (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn FROM sel)
         |WHERE rn <= 5 ORDER BY q_id, rank""".stripMargin.replace("\n", " "),
    "d_dup_clusters" ->
      s"""WITH RECURSIVE $quantCte,
         |pl AS (SELECT h, i, CAST(strpos('0123456789abcdef',
         |   substr(md5(concat(CAST(h AS VARCHAR), '_', CAST(i AS VARCHAR))), 1, 1)) - 1 AS BIGINT) * 2 - 15 AS wv
         | FROM UNNEST(generate_series(0, 7)) AS t1(h), UNNEST(generate_series(0, 63)) AS t2(i)),
         |sig AS (SELECT e.vec_id, pl.h,
         |   CASE WHEN SUM(e.qv[CAST(pl.i AS INT) + 1] * pl.wv) > 0 THEN 1 ELSE 0 END AS bit
         | FROM qd e, pl GROUP BY e.vec_id, pl.h),
         |sigs AS (SELECT vec_id, string_agg(CAST(bit AS VARCHAR), '' ORDER BY h) AS s FROM sig GROUP BY vec_id),
         |cand AS (SELECT a.vec_id AS id1, b.vec_id AS id2 FROM sigs a
         |  JOIN sigs b ON a.s = b.s AND a.vec_id < b.vec_id),
         |dots AS (SELECT cand.id1, cand.id2, SUM(x.qv[CAST(i AS INT)] * y.qv[CAST(i AS INT)]) AS dot
         | FROM cand JOIN qd x ON x.vec_id = cand.id1 JOIN qd y ON y.vec_id = cand.id2,
         |   UNNEST(generate_series(1, 64)) AS t(i)
         | GROUP BY cand.id1, cand.id2),
         |pairs AS (SELECT id1, id2 FROM (SELECT id1, id2, round(CAST(dot AS DOUBLE)
         |  / sqrt(CAST(n1.n2 AS DOUBLE)) / sqrt(CAST(n2_.n2 AS DOUBLE)), 9) AS cos
         |  FROM dots JOIN norms n1 ON n1.vec_id = id1 JOIN norms n2_ ON n2_.vec_id = id2)
         |  WHERE cos >= 0.3),
         |e AS (SELECT id1 AS a, id2 AS b FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
         |nodes AS (SELECT DISTINCT a AS id FROM e),
         |cc AS (SELECT id, id AS lbl FROM nodes
         |  UNION
         |  SELECT e.a, cc.lbl FROM cc JOIN e ON cc.id = e.b)
         |SELECT id, CAST(MIN(lbl) AS BIGINT) AS cluster_id FROM cc GROUP BY id
         |ORDER BY id""".stripMargin.replace("\n", " "),
    "d_embed_dups" ->
      s"""WITH $quantCte,
         |pl AS (SELECT h, i, CAST(strpos('0123456789abcdef',
         |   substr(md5(concat(CAST(h AS VARCHAR), '_', CAST(i AS VARCHAR))), 1, 1)) - 1 AS BIGINT) * 2 - 15 AS wv
         | FROM UNNEST(generate_series(0, 7)) AS t1(h), UNNEST(generate_series(0, 63)) AS t2(i)),
         |sig AS (SELECT e.vec_id, pl.h,
         |   CASE WHEN SUM(e.qv[CAST(pl.i AS INT) + 1] * pl.wv) > 0 THEN 1 ELSE 0 END AS bit
         | FROM qd e, pl GROUP BY e.vec_id, pl.h),
         |sigs AS (SELECT vec_id, string_agg(CAST(bit AS VARCHAR), '' ORDER BY h) AS s FROM sig GROUP BY vec_id),
         |cand AS (SELECT a.vec_id AS id1, b.vec_id AS id2 FROM sigs a
         |  JOIN sigs b ON a.s = b.s AND a.vec_id < b.vec_id),
         |dots AS (SELECT cand.id1, cand.id2, SUM(x.qv[CAST(i AS INT)] * y.qv[CAST(i AS INT)]) AS dot
         | FROM cand JOIN qd x ON x.vec_id = cand.id1 JOIN qd y ON y.vec_id = cand.id2,
         |   UNNEST(generate_series(1, 64)) AS t(i)
         | GROUP BY cand.id1, cand.id2),
         |sel AS (SELECT id1, id2, round(CAST(dot AS DOUBLE)
         |  / sqrt(CAST(n1.n2 AS DOUBLE)) / sqrt(CAST(n2_.n2 AS DOUBLE)), 9) AS cos
         |  FROM dots JOIN norms n1 ON n1.vec_id = id1 JOIN norms n2_ ON n2_.vec_id = id2)
         |SELECT id1, id2, cos FROM sel WHERE cos >= 0.3 ORDER BY id1, id2""".stripMargin.replace("\n", " "),
    "ann_ivf_topk" ->
      s"""WITH $quantCte,
         |cent AS (SELECT vec_id AS c_id FROM qd WHERE vec_id % 40 = 1),
         |adots AS (SELECT n.vec_id AS n_id, cent.c_id,
         |   SUM(n.qv[CAST(i AS INT)] * cq.qv[CAST(i AS INT)]) AS dot
         | FROM qd n, cent JOIN qd cq ON cq.vec_id = cent.c_id,
         |   UNNEST(generate_series(1, 64)) AS t(i)
         | GROUP BY n.vec_id, cent.c_id),
         |asim AS (SELECT n_id, c_id, round(CAST(dot AS DOUBLE)
         |  / sqrt(CAST(nn.n2 AS DOUBLE)) / sqrt(CAST(nc.n2 AS DOUBLE)), 9) AS sim
         |  FROM adots JOIN norms nn ON nn.vec_id = n_id JOIN norms nc ON nc.vec_id = c_id),
         |inv AS (SELECT n_id, c_id AS cell FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY n_id ORDER BY sim DESC, c_id) AS r FROM asim)
         |  WHERE r = 1),
         |probes AS (SELECT q_id, cell FROM
         |  (SELECT n_id AS q_id, c_id AS cell,
         |    ROW_NUMBER() OVER (PARTITION BY n_id ORDER BY sim DESC, c_id) AS r FROM asim
         |   WHERE n_id % 100 = 0)
         |  WHERE r <= 3),
         |cand AS (SELECT p.q_id, inv.n_id FROM probes p JOIN inv ON inv.cell = p.cell
         |  WHERE p.q_id <> inv.n_id),
         |dots AS (SELECT cand.q_id, cand.n_id,
         |   SUM(a.qv[CAST(i AS INT)] * b.qv[CAST(i AS INT)]) AS dot
         | FROM cand JOIN qd a ON a.vec_id = cand.q_id JOIN qd b ON b.vec_id = cand.n_id,
         |   UNNEST(generate_series(1, 64)) AS t(i)
         | GROUP BY cand.q_id, cand.n_id),
         |sel AS (SELECT q_id, n_id, round(CAST(dot AS DOUBLE)
         |  / sqrt(CAST(nq.n2 AS DOUBLE)) / sqrt(CAST(nc.n2 AS DOUBLE)), 9) AS cos
         |  FROM dots JOIN norms nq ON nq.vec_id = q_id JOIN norms nc ON nc.vec_id = n_id)
         |SELECT q_id, n_id, CAST(rn AS INT) AS rank FROM
         | (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn FROM sel)
         |WHERE rn <= 5 ORDER BY q_id, rank""".stripMargin.replace("\n", " "),
    "ann_lsh_topk" ->
      s"""WITH $quantCte,
         |pl AS (SELECT h, i, CAST(strpos('0123456789abcdef',
         |   substr(md5(concat(CAST(h AS VARCHAR), '_', CAST(i AS VARCHAR))), 1, 1)) - 1 AS BIGINT) * 2 - 15 AS wv
         | FROM UNNEST(generate_series(0, 7)) AS t1(h), UNNEST(generate_series(0, 63)) AS t2(i)),
         |sig AS (SELECT e.vec_id, pl.h,
         |   CASE WHEN SUM(e.qv[CAST(pl.i AS INT) + 1] * pl.wv) > 0 THEN 1 ELSE 0 END AS bit
         | FROM qd e, pl GROUP BY e.vec_id, pl.h),
         |sigs AS (SELECT vec_id, string_agg(CAST(bit AS VARCHAR), '' ORDER BY h) AS s FROM sig GROUP BY vec_id),
         |cand AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id FROM sigs q
         |  JOIN sigs c ON q.vec_id % 100 = 0 AND q.s = c.s AND c.vec_id <> q.vec_id),
         |dots AS (SELECT cand.q_id, cand.n_id, SUM(a.qv[CAST(i AS INT)] * b.qv[CAST(i AS INT)]) AS dot
         | FROM cand JOIN qd a ON a.vec_id = cand.q_id JOIN qd b ON b.vec_id = cand.n_id,
         |   UNNEST(generate_series(1, 64)) AS t(i)
         | GROUP BY cand.q_id, cand.n_id),
         |sel AS (SELECT q_id, n_id, round(CAST(dot AS DOUBLE)
         |  / sqrt(CAST(nq.n2 AS DOUBLE)) / sqrt(CAST(nc.n2 AS DOUBLE)), 9) AS cos
         |  FROM dots JOIN norms nq ON nq.vec_id = q_id JOIN norms nc ON nc.vec_id = n_id)
         |SELECT q_id, n_id, CAST(rn AS INT) AS rank FROM
         | (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn FROM sel)
         |WHERE rn <= 5 ORDER BY q_id, rank""".stripMargin.replace("\n", " "),
    "mm_features" ->
      ("SELECT event_id AS asset_id, CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'image' " +
       "WHEN 1 THEN 'audio' ELSE 'video' END AS media_type, " +
       "CAST(octet_length(encode(props)) AS BIGINT) AS byte_length, md5(props) AS checksum " +
       "FROM events ORDER BY asset_id"),
    // expected dimensions recomputed from the id arithmetic the PNG/
    // WAV fixture encoders used — passes only if the JDK decoders
    // recover the true header values
    "mm_real_codecs" ->
      ("SELECT event_id AS asset_id, " +
       "CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type, " +
       "CASE CAST(event_id % 3 AS INT) WHEN 0 THEN CAST(event_id % 64 + 1 AS INT) " +
       " WHEN 2 THEN CAST(event_id % 3840 + 16 AS INT) END AS width, " +
       "CASE CAST(event_id % 3 AS INT) WHEN 0 THEN CAST(event_id % 48 + 1 AS INT) " +
       " WHEN 2 THEN CAST(event_id % 2160 + 16 AS INT) END AS height, " +
       "CASE CAST(event_id % 3 AS INT) WHEN 1 THEN CAST(event_id % 800 + 8 AS BIGINT) " +
       " WHEN 2 THEN CAST(event_id % 10000 + 40 AS BIGINT) END AS duration_ms " +
       "FROM events WHERE event_id % 7 = 0 ORDER BY asset_id"),
    "mm_frame_sample" ->
      ("WITH f AS (SELECT event_id AS asset_id, " +
       "CAST(event_id % 10000 + 40 AS BIGINT) AS duration_ms " +
       "FROM events WHERE event_id % 3 = 2) " +
       "SELECT asset_id, CAST(t.i AS INT) AS frame_idx, " +
       "CAST(duration_ms * t.i // 4 AS BIGINT) AS offset_ms " +
       "FROM f, range(4) t(i) ORDER BY asset_id, frame_idx"),
    "mm_resize_plan" ->
      ("WITH f AS (SELECT event_id AS asset_id, " +
       "CAST(event_id % 3840 + 16 AS BIGINT) AS w, " +
       "CAST(event_id % 2160 + 16 AS BIGINT) AS h " +
       "FROM events WHERE event_id % 3 = 0) " +
       "SELECT asset_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
       "CAST(CASE WHEN greatest(w, h) > 512 THEN (w * 512) // greatest(w, h) ELSE w END AS INT) AS new_width, " +
       "CAST(CASE WHEN greatest(w, h) > 512 THEN (h * 512) // greatest(w, h) ELSE h END AS INT) AS new_height " +
       "FROM f ORDER BY asset_id"),
  )
}
