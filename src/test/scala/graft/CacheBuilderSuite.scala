package graft

import graft.sources.PositionCache
import graft.vep.CacheBuilder

/** The writer half of the reference's raw-cache ETL
  * (cache_builder.rs:1-30): per-entity partitioned parquet — own
  * partition per main chromosome, everything else pooled into `other`
  * (cache_builder.rs:296-320), bare chrom names, start-sorted files —
  * plus the variation KV dual sink and the `OnProgress` callback
  * contract (cache_builder.rs:43-50). */
class CacheBuilderSuite extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) = tempDir(s"cb_$tag")

  test("positional entity: main chroms shard individually, other contigs pool, chroms go bare") {
    val out = tmp("layout")
    val df = Seq(
      ("chr1", 30L, 35L, "v3"), ("chr1", 10L, 15L, "v1"), ("1", 20L, 25L, "v2"),
      ("X", 5L, 6L, "vx"),
      ("GL000194.1", 7L, 8L, "vo1"), ("KI270713.1", 9L, 10L, "vo2"))
      .toDF("chrom", "start", "end", "variation_name")
    val n = CacheBuilder.buildEntity(df, out, "variation")
    assert(n == 6)
    val shards = new java.io.File(s"$out/variation").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(shards == Seq("_shard=chr1", "_shard=chrX", "_shard=other"))
    val back = CacheBuilder.openEntity(spark, out, "variation")
    assert(back.columns.toSeq == df.columns.toSeq)
    // chr-prefixed and bare spellings of chromosome 1 landed together, bare
    assert(back.where($"chrom" === "1").count() == 3)
    assert(back.where($"chrom".startsWith("chr")).count() == 0)
    val others = back.where($"chrom".isin("GL000194.1", "KI270713.1"))
    assert(others.count() == 2)
  }

  test("rows are start-sorted within each written file (tight row-group stats)") {
    val out = tmp("sorted")
    val df = (1 to 500).map(i => ("1", (997L * i) % 10000L, 1L, s"v$i"))
      .toDF("chrom", "start", "end", "variation_name")
    CacheBuilder.buildEntity(df, out, "variation")
    val files = new java.io.File(s"$out/variation/_shard=chr1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val ranges = for (f <- files) yield {
      val starts = spark.read.parquet(f.getAbsolutePath)
        .select($"start").as[Long].collect()
      assert(starts.sameElements(starts.sorted), s"${f.getName} not start-sorted")
      (starts.head, starts.last)
    }
    // range partitioning: non-empty files cover DISJOINT start ranges
    // (file-level min/max pruning on top of row-group pruning)
    val nonEmpty = ranges.filter(r => r._1 <= r._2).sortBy(_._1).toSeq
    for (pair <- nonEmpty.sliding(2) if pair.size == 2)
      assert(pair(0)._2 <= pair(1)._1, s"file start ranges overlap: $nonEmpty")
  }

  test("keyed entity (no chrom) clusters and sorts by transcript_id") {
    val out = tmp("keyed")
    val df = Seq(("T9", 1, 0.1), ("T1", 2, 0.2), ("T9", 3, 0.3), ("T1", 1, 0.9))
      .toDF("transcript_id", "protein_pos", "sift_score")
    assert(CacheBuilder.buildEntity(df, out, "translation_sift") == 4)
    val back = CacheBuilder.openEntity(spark, out, "translation_sift")
    assert(back.count() == 4)
    val files = new java.io.File(s"$out/translation_sift").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    for (f <- files) {
      val tids = spark.read.parquet(f.getAbsolutePath)
        .select($"transcript_id").as[String].collect()
      assert(tids.sameElements(tids.sorted), s"${f.getName} not id-sorted")
    }
  }

  test("translation entity dedups to one row per transcript, home region first") {
    val out = tmp("xdedup")
    // T1 spans a 1 Mb region boundary: Ensembl caches write it into
    // BOTH region files; the home-region row (the one whose file name
    // covers its start) must win (cache_builder.rs:77-88)
    val df = Seq(
      ("T1", 999500L, 10L, "/cache/1/1-1000000.gz"),
      ("T1", 999500L, 20L, "/cache/1/1000001-2000000.gz"),
      ("T2", 5L, 30L, "/cache/1/1-1000000.gz"))
      .toDF("transcript_id", "start", "cdna_coding_start", "source_file")
    assert(CacheBuilder.buildEntity(df, out, "translation") == 2)
    val back = CacheBuilder.openEntity(spark, out, "translation")
      .select($"transcript_id", $"cdna_coding_start").as[(String, Long)]
      .collect().toMap
    assert(back == Map("T1" -> 10L, "T2" -> 30L))
    // sift matrices are NOT deduped (many rows per transcript)
    val sift = Seq(("T1", 1, 0.1), ("T1", 2, 0.2))
      .toDF("transcript_id", "protein_pos", "sift_score")
    assert(CacheBuilder.buildEntity(sift, tmp("xsift"), "translation_sift") == 2)
  }

  test("transcript dedups per stable_id, exon per (transcript_id, exon_number)") {
    // pinned by the reference's export-query tests
    // (cache_builder.rs:2421-2434, 2470-2477): transcript keeps one
    // row per stable_id, exon one per (transcript_id, exon_number);
    // variation never dedups (rs:2406-2409, covered by the layout test
    // above writing duplicate-free counts verbatim)
    import spark.implicits._
    val tx = Seq(
      ("1", 100L, "ENST1", 5L), ("1", 100L, "ENST1", 9L), ("1", 300L, "ENST2", 7L))
      .toDF("chrom", "start", "stable_id", "cdna_coding_start")
    val outTx = tmp("txdedup")
    assert(CacheBuilder.buildEntity(tx, outTx, "transcript") == 2)
    val backTx = CacheBuilder.openEntity(spark, outTx, "transcript")
      .select($"stable_id", $"cdna_coding_start").as[(String, Long)].collect().toMap
    assert(backTx == Map("ENST1" -> 5L, "ENST2" -> 7L)) // lowest cdna_coding_start wins
    val ex = Seq(
      ("1", 100L, "ENST1", 1, "a"), ("1", 100L, "ENST1", 1, "b"),
      ("1", 200L, "ENST1", 2, "c"), ("1", 100L, "ENST2", 1, "d"))
      .toDF("chrom", "start", "transcript_id", "exon_number", "tag")
    val outEx = tmp("exdedup")
    assert(CacheBuilder.buildEntity(ex, outEx, "exon") == 3)
    val backEx = CacheBuilder.openEntity(spark, outEx, "exon")
      .select($"transcript_id", $"exon_number", $"tag").as[(String, Int, String)]
      .collect().toSet
    assert(backEx == Set(("ENST1", 1, "a"), ("ENST1", 2, "c"), ("ENST2", 1, "d")))
  }

  test("overwrite=false skips existing parquet; buildAll rebuilds only a missing KV") {
    // the reference's resumable-build semantics
    // (cache_builder.rs:3460-3556): existing parquet skips, existing
    // parquet + missing KV rebuilds the KV FROM that parquet
    import spark.implicits._
    val out = tmp("skip")
    val v1 = Seq(("1", 100L, 101L, "A/T", "rs1"))
      .toDF("chrom", "start", "end", "allele_string", "variation_name")
    assert(CacheBuilder.buildEntity(v1, out, "variation") == 1)
    val v2 = Seq(("1", 100L, 101L, "A/T", "rs1"), ("1", 200L, 201L, "C/G", "rs2"))
      .toDF("chrom", "start", "end", "allele_string", "variation_name")
    // default: skip — dir content unchanged
    assert(CacheBuilder.buildEntity(v2, out, "variation") == 0)
    assert(CacheBuilder.openEntity(spark, out, "variation").count() == 1)
    // overwrite: rebuild
    assert(CacheBuilder.buildEntity(v2, out, "variation", overwrite = true) == 2)
    assert(CacheBuilder.openEntity(spark, out, "variation").count() == 2)
    // buildAll over existing parquet: entity skips (0 written) but the
    // MISSING KV store is built from the existing parquet
    val totals = CacheBuilder.buildAll(Map("variation" -> v1), out)
    assert(totals == Map("variation" -> 0L))
    val stored = graft.sources.PositionCache.open(spark, s"$out/variation.kv")
    val hit = graft.sources.PositionCache.lookup(stored, "1", 200L)
      .select($"variation_name").as[String].collect()
    assert(hit.toSeq == Seq("rs2")) // KV reflects the PARQUET, not v1
    // second buildAll: both exist now — everything skips (rs2 still there)
    CacheBuilder.buildAll(Map("variation" -> v1), out)
    val stored2 = graft.sources.PositionCache.open(spark, s"$out/variation.kv")
    assert(graft.sources.PositionCache.lookup(stored2, "1", 200L).count() == 1)
  }

  test("an entity with neither chrom nor transcript_id fails loudly") {
    val ex = intercept[IllegalArgumentException] {
      CacheBuilder.buildEntity(Seq((1, 2)).toDF("a", "b"), tmp("bad"), "mystery")
    }
    assert(ex.getMessage.contains("mystery"))
  }

  test("buildAll writes the variation KV dual sink, probe-able via PositionCache") {
    val out = tmp("kv")
    val df = Seq(("chr2", 100L, 101L, "A/T", "rs1"), ("2", 200L, 202L, "C/G", "rs2"))
      .toDF("chrom", "start", "end", "allele_string", "variation_name")
    CacheBuilder.buildAll(Map("variation" -> df), out)
    val stored = PositionCache.open(spark, s"$out/variation.kv")
    val hit = PositionCache.lookup(stored, "chr2", 100L)
      .select($"variation_name").as[String].collect()
    assert(hit.toSeq == Seq("rs1"))
    val batch = PositionCache.lookupBatch(stored,
      Seq(("2", 200L)).toDF("chrom", "start"))
    assert(batch.select($"variation_name").as[String].collect().toSeq == Seq("rs2"))
  }

  test("written files carry the reference's physical parameters: zstd + row-group caps") {
    // cache_builder.rs:449-451,1903-1909: ZSTD compression and
    // per-entity max row-group sizes (row_group_size(), pinned by the
    // reference's test_row_group_size: transcript = 8_000). 34k rows
    // over the 4-way test range partition gives ~8.5k rows per file —
    // every file must split its groups at the 8k cap.
    val out = tmp("phys")
    val df = (1 to 34000).map(i => ("1", i.toLong, i + 50L, s"T$i"))
      .toDF("chrom", "start", "end", "transcript_id")
    CacheBuilder.buildEntity(df, out, "transcript")
    val files = new java.io.File(s"$out/transcript").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val conf = spark.sessionState.newHadoopConf()
    var multiGroupFiles = 0
    var totalRows = 0L
    for (f <- files) {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = r.getFooter.getBlocks
        if (blocks.size() > 1) multiGroupFiles += 1
        blocks.forEach { b =>
          totalRows += b.getRowCount
          assert(b.getRowCount <= 8000,
            s"${f.getName}: row group of ${b.getRowCount} rows exceeds the 8k transcript cap")
          b.getColumns.forEach(c => assert(c.getCodec.name == "ZSTD",
            s"${f.getName}: codec ${c.getCodec.name}, expected ZSTD"))
        }
      } finally r.close()
    }
    assert(totalRows == 34000)
    assert(multiGroupFiles > 0, "no file exercised the row-group cap")
    // the per-entity table mirrors the reference exactly
    assert(CacheBuilder.rowGroupRows("variation").contains(100000))
    assert(CacheBuilder.rowGroupRows("transcript").contains(8000))
    assert(CacheBuilder.rowGroupRows("exon").contains(45000))
    assert(CacheBuilder.rowGroupRows("translation").contains(6000))
    assert(CacheBuilder.rowGroupRows("translation_sift").contains(6000))
    assert(CacheBuilder.rowGroupRows("regulatory").contains(9000))
    assert(CacheBuilder.rowGroupRows("motif").contains(10000))
    assert(CacheBuilder.rowGroupRows("unknown_entity").isEmpty)
  }

  test("translation dedup without tie-break columns is deterministic across partitioning") {
    // the reference's dedup query always has source_file +
    // cdna_coding_start; without them the pick must still be a pure
    // function of the data (order by all remaining columns), invariant
    // under spark.sql.shuffle.partitions
    def run(parts: String): Map[String, Long] = {
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        val out = tmp(s"xdet$parts")
        val df = Seq(("T1", 30L), ("T1", 10L), ("T1", 20L), ("T2", 5L))
          .toDF("transcript_id", "protein_start")
        assert(CacheBuilder.buildEntity(df, out, "translation") == 2)
        CacheBuilder.openEntity(spark, out, "translation")
          .select($"transcript_id", $"protein_start").as[(String, Long)]
          .collect().toMap
      } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    }
    val one = run("1")
    val seven = run("7")
    assert(one == seven)
    assert(one == Map("T1" -> 10L, "T2" -> 5L)) // lowest remaining-column order wins
  }

  test("progress callback is per-entity, monotone, and ends at the written total") {
    val out = tmp("prog")
    val df = (1 to 100).map(i => ("1", i.toLong, i + 1L, s"v$i"))
      .toDF("chrom", "start", "end", "variation_name")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val totals = CacheBuilder.buildAll(Map("variation" -> df), out,
      onProgress = (e, f, n) => seen.synchronized { seen += ((e, f, n)) })
    assert(totals == Map("variation" -> 100L))
    val parquetTicks = seen.filter(t => t._1 == "variation" && t._2 == "parquet").map(_._3)
    assert(parquetTicks.nonEmpty && parquetTicks.last == 100L)
    assert(parquetTicks == parquetTicks.sorted, "progress must be monotone")
    val kvTicks = seen.filter(_._2 == "kv").map(_._3)
    assert(kvTicks.nonEmpty && kvTicks.last == 100L)
  }
}
