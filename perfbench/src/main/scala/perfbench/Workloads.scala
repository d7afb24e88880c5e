package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One operator call of a pass: `build` is the library call that returns
  * the DataFrame (plans.build), the digest is the action that executes
  * it and checks it against the oracle entry `expectKey`. `extras` are
  * additional sums the same action returns (layer counters). */
final case class Op(name: String, build: () => DataFrame, digest: Digest,
    expectKey: String, extras: Seq[String] = Nil)

trait Workload {
  def name: String
  /** Input rows one pass processes (probe intervals, reads or variants). */
  def inputRows: Long
  /** The timed set-up: write every input the passes read. */
  def generate(spark: SparkSession): Unit
  /** Inputs the oracle reply depends on; replies are cached under it. */
  def oracleKey: String
  /** Off the clock: files and SQL the oracle needs. */
  def oracleRequest(spark: SparkSession): OracleRequest
  /** Off the clock: expected digests per check key from the oracle reply. */
  def expected(spark: SparkSession, reply: Map[String, (Long, Long)]): Map[String, (Long, Long)] = reply
  /** The operator calls of pass `pass` (0 = the cold pass). */
  def ops(spark: SparkSession, pass: Int): Seq[Op]
  /** Traced runs only: isolated layer timings, name -> (seconds or count). */
  def layerProbes(spark: SparkSession, run: (Op, String) => (Double, Outcome)): Map[String, Double] = Map.empty
  /** Traced runs only: layer timings taken during set-up. */
  def layerSetup: Map[String, Double] = Map.empty
}

/** Seeded uniform draws as SQL: the same (seed, stream, key) always
  * gives the same value in [0, 1), independent of partitioning. */
final class Draw(seed: Long) {
  def u(stream: Int, key: String = "id"): String =
    s"(pmod(xxhash64($key, CAST(${seed}L AS BIGINT), $stream), 9007199254740992L) / 9007199254740992.0D)"
  def pick(stream: Int, key: String, mod: Long): String =
    s"pmod(xxhash64($key, CAST(${seed}L AS BIGINT), $stream), ${mod}L)"
}

object Workloads {
  def apply(name: String, dir: Path, seed: Long): Workload = name match {
    case "ranges_probe" => new RangesProbe(dir, seed)
    case "depth_bam" => new DepthBam(dir, seed)
    case "annotate_vep" => new AnnotateVep(dir, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Bucket-join CTE pieces for DuckDB: an interval relation exploded
    * onto fixed-width buckets, joined on (contig, bucket), deduplicated
    * on the bucket holding the larger start. */
  def bucketed(src: String, out: String, width: Long): String =
    s"$out AS (SELECT *, unnest(range(pos_start // $width, pos_end // $width + 1)) AS bk FROM $src)"
}

/** Interval shapes shared by the ranges_probe generator and the index
  * kernels, so both measure the same length tail and clustering. */
object RangesShape {
  val Contigs = 8
  val ContigLen = 25000000L
  val AnnoRows = 100000L
  val ProbeRows = 300000L
  val Clusters = 20000L
  val ShortMin = 100; val ShortSpan = 2900
  val TailShare = 0.2; val TailMin = 1000.0; val TailAlpha = 1.1; val TailCap = 2000000L
  val ReadMin = 100; val ReadSpan = 200; val Spread = 4000
}

/** `scale` shrinks both sides (the self-test uses a small copy). */
final class RangesProbe(dir: Path, seed: Long, scale: Double = 1.0) extends Workload {
  import RangesShape._
  val name = "ranges_probe"
  private val nAnno = math.max(1000L, (AnnoRows * scale).toLong)
  private val nProbe = math.max(10000L, (ProbeRows * scale).toLong)
  val inputRows: Long = nProbe
  val oracleKey = s"seed$seed"
  private val annoPath = dir.resolve("anno.parquet").toString
  private val probePath = dir.resolve("probes.parquet").toString
  private val d = new Draw(seed)

  def generate(spark: SparkSession): Unit = {
    spark.range(0, nAnno, 1, 1).selectExpr(
        s"concat('chr', CAST(1 + floor(${d.u(1)} * $Contigs) AS STRING)) AS contig",
        s"CAST(floor(${d.u(2)} * $ContigLen) AS BIGINT) AS pos_start",
        s"""CAST(CASE WHEN ${d.u(3)} >= $TailShare THEN $ShortMin + floor(${d.u(4)} * $ShortSpan)
           ELSE least($TailCap, floor($TailMin / pow(1.0D - ${d.u(4)}, 1.0D / $TailAlpha))) END AS BIGINT) AS len""",
        "id")
      .selectExpr("contig", "pos_start", "pos_start + len AS pos_end", "id")
      .write.mode("overwrite").parquet(annoPath)
    spark.range(0, nProbe, 1, 4).selectExpr("id",
        s"floor(${d.u(11)} * $Clusters) AS cl",
        s"floor((${d.u(12)} + ${d.u(13)} + ${d.u(14)} - 1.5D) * $Spread) AS off",
        s"$ReadMin + floor(${d.u(15)} * $ReadSpan) AS len")
      .selectExpr(
        s"concat('chr', CAST(1 + ${d.pick(16, "cl", Contigs)} AS STRING)) AS contig",
        s"greatest(1L, ${d.pick(17, "cl", ContigLen - 10000)} + 5000 + off) AS pos_start",
        "len", "id")
      .selectExpr("contig", "pos_start", "pos_start + len AS pos_end", "id")
      .write.mode("overwrite").parquet(probePath)
  }

  private def anno(spark: SparkSession) = spark.read.parquet(annoPath)
  private def probes(spark: SparkSession) = spark.read.parquet(probePath)

  def ops(spark: SparkSession, pass: Int): Seq[Op] = {
    import graft.ranges.Ranges
    Seq(
      Op("overlap", () => Ranges.overlap(anno(spark), probes(spark)),
        Digest.Ints(Seq("left_id", "right_id")), "overlap"),
      Op("count_overlaps", () => Ranges.countOverlaps(anno(spark), probes(spark)),
        Digest.Ints(Seq("id", "count")), "count_overlaps"),
      Op("coverage", () => Ranges.coverage(anno(spark), probes(spark)),
        Digest.Ints(Seq("id", "coverage")), "coverage"),
      Op("nearest", () => Ranges.nearest(anno(spark), probes(spark), k = 1, tieBreakCol = Some("id")),
        Digest.Ints(Seq("right_id", "left_id", "distance")), "nearest"))
  }

  def oracleRequest(spark: SparkSession): OracleRequest = {
    val w = 20000L
    val pairs =
      s"""CREATE TEMP TABLE pairs AS WITH ${Workloads.bucketed("a", "ab", w)}, ${Workloads.bucketed("b", "bb", w)}
         |SELECT ab.id AS left_id, bb.id AS right_id FROM ab JOIN bb
         | ON ab.contig = bb.contig AND ab.bk = bb.bk
         | AND ab.pos_start <= bb.pos_end AND ab.pos_end >= bb.pos_start
         | AND ab.bk = greatest(ab.pos_start, bb.pos_start) // $w""".stripMargin
    // the library's coverage contract: per merged run of the build side,
    // max(1, min(runEnd, qe + 1) - max(runStart, qs - 1))
    val runs = s"CREATE TEMP TABLE runs AS WITH ${graft.Oracle.mergedCte("a", "m")} SELECT contig, pos_start, pos_end FROM m"
    val cov =
      s"""CREATE TEMP TABLE cov AS WITH ${Workloads.bucketed("runs", "mb", w)}, ${Workloads.bucketed("b", "bb", w)}
         |SELECT bb.id, sum(GREATEST(1, LEAST(mb.pos_end, bb.pos_end + 1) - GREATEST(mb.pos_start, bb.pos_start - 1))) AS c
         |FROM mb JOIN bb ON mb.contig = bb.contig AND mb.bk = bb.bk
         | AND mb.pos_start <= bb.pos_end AND mb.pos_end >= bb.pos_start
         | AND mb.bk = greatest(mb.pos_start, bb.pos_start) // $w GROUP BY bb.id""".stripMargin
    // nearest: overlaps at distance 0, else the closest interval ending
    // before the probe or starting after it (all ties kept), then the
    // library's order (distance, start, end, id)
    val nearest =
      """WITH l AS (SELECT b.id AS rid, b.contig, x.pos_end AS pe, b.pos_start - x.pos_end AS d
        |  FROM b ASOF JOIN a x ON b.contig = x.contig AND b.pos_start > x.pos_end),
        |r AS (SELECT b.id AS rid, b.contig, x.pos_start AS ps, x.pos_start - b.pos_end AS d
        |  FROM b ASOF JOIN a x ON b.contig = x.contig AND b.pos_end < x.pos_start),
        |cand AS (SELECT right_id AS rid, left_id AS lid, 0 AS d FROM pairs
        |  UNION ALL SELECT l.rid, a.id, l.d FROM l JOIN a ON a.contig = l.contig AND a.pos_end = l.pe
        |  UNION ALL SELECT r.rid, a.id, r.d FROM r JOIN a ON a.contig = r.contig AND a.pos_start = r.ps),
        |ranked AS (SELECT c.rid, c.lid, c.d, row_number() OVER (PARTITION BY c.rid
        |  ORDER BY c.d, a.pos_start, a.pos_end, a.id) AS rn FROM cand c JOIN a ON a.id = c.lid)
        |SELECT rid AS right_id, lid AS left_id, d AS distance FROM ranked WHERE rn = 1""".stripMargin
    OracleRequest(
      views = Seq("a" -> s"SELECT * FROM read_parquet('$annoPath/*.parquet')",
        "b" -> s"SELECT * FROM read_parquet('$probePath/*.parquet')"),
      setup = Seq(pairs, runs, cov),
      checks = Seq(
        OracleCheck("overlap", "SELECT left_id, right_id FROM pairs", Digest.Ints(Seq("left_id", "right_id"))),
        OracleCheck("count_overlaps",
          "SELECT b.id, coalesce(c.n, 0) AS count FROM b LEFT JOIN (SELECT right_id, count(*) AS n FROM pairs GROUP BY right_id) c ON b.id = c.right_id",
          Digest.Ints(Seq("id", "count"))),
        OracleCheck("coverage", "SELECT b.id, coalesce(cov.c, 0) AS coverage FROM b LEFT JOIN cov ON b.id = cov.id",
          Digest.Ints(Seq("id", "coverage"))),
        OracleCheck("nearest", nearest, Digest.Ints(Seq("right_id", "left_id", "distance")))))
  }
}

object DepthShape {
  val Contigs = 4
  val ContigLen = 10000000L
  val Reads = 150000L
  val HotShare = 0.15; val HotStart = 5000000L; val HotSpan = 2000
  val Targets = 3000L
  val Shards = 8
}

final class DepthBam(dir: Path, seed: Long) extends Workload {
  import DepthShape._
  val name = "depth_bam"
  val inputRows: Long = Reads
  val oracleKey = s"seed$seed"
  private val bamPath = dir.resolve("reads.bam.d").toString
  private val truthPath = dir.resolve("reads_truth.parquet").toString
  private val targetPath = dir.resolve("targets.parquet").toString
  private val blocksPath = dir.resolve("blocks.parquet").toString
  private val d = new Draw(seed)
  private val refs = (1 to Contigs).map(i => (s"chr$i", ContigLen.toInt))

  /** Reads with a CIGAR drawn from seven templates (M, I, D, N splice,
    * soft clips, a mixed one), ~10% duplicates, ~3% qc-fail/secondary,
    * a MAPQ spread, and one hot amplicon. The two reference segments of
    * each template are carried alongside for the oracle. */
  private def reads(spark: SparkSession): DataFrame = {
    val hot = s"${d.u(1)} < $HotShare"
    spark.range(0, Reads, 1, Shards).selectExpr("id",
        s"CASE WHEN $hot THEN 'chr1' ELSE concat('chr', CAST(1 + floor(${d.u(2)} * $Contigs) AS STRING)) END AS chrom",
        s"CAST(CASE WHEN $hot THEN $HotStart + floor(${d.u(3)} * $HotSpan) ELSE 1 + floor(${d.u(3)} * ${ContigLen - 20000}) END AS BIGINT) AS start",
        s"""CASE WHEN ${d.u(4)} < 0.5 THEN 0 WHEN ${d.u(4)} < 0.6 THEN 1 WHEN ${d.u(4)} < 0.7 THEN 2
           WHEN ${d.u(4)} < 0.8 THEN 3 WHEN ${d.u(4)} < 0.88 THEN 4 WHEN ${d.u(4)} < 0.94 THEN 5 ELSE 6 END AS t""",
        s"CAST(30 + floor(${d.u(5)} * 70) AS BIGINT) AS a",
        s"CAST(30 + floor(${d.u(6)} * 70) AS BIGINT) AS b",
        s"${d.u(7)} AS x",
        s"CAST(10 + floor(${d.u(8)} * 30) AS BIGINT) AS e",
        s"""CAST(CASE WHEN ${d.u(9)} < 0.10 THEN 1024 WHEN ${d.u(9)} < 0.12 THEN 512
           WHEN ${d.u(9)} < 0.13 THEN 256 ELSE 0 END
           + CASE WHEN ${d.u(10)} < 0.5 THEN 16 ELSE 0 END AS INT) AS flags""",
        s"CAST(CASE WHEN ${d.u(11)} < 0.1 THEN 0 ELSE 1 + floor(${d.u(12)} * 60) END AS INT) AS mapping_quality")
      .selectExpr("*", "CAST(1 + floor(x * 5) AS BIGINT) AS i", "CAST(1 + floor(x * 8) AS BIGINT) AS dl",
        "CAST(200 + floor(x * 4800) AS BIGINT) AS n", "CAST(5 + floor(x * 20) AS BIGINT) AS c")
      .selectExpr("chrom", "start", "flags", "mapping_quality",
        """CASE t WHEN 0 THEN concat(CAST(a + b AS STRING), 'M')
           WHEN 1 THEN concat(CAST(a AS STRING), 'M', CAST(i AS STRING), 'I', CAST(b AS STRING), 'M')
           WHEN 2 THEN concat(CAST(a AS STRING), 'M', CAST(dl AS STRING), 'D', CAST(b AS STRING), 'M')
           WHEN 3 THEN concat(CAST(a AS STRING), 'M', CAST(n AS STRING), 'N', CAST(b AS STRING), 'M')
           WHEN 4 THEN concat(CAST(c AS STRING), 'S', CAST(a + b AS STRING), 'M')
           WHEN 5 THEN concat(CAST(a + b AS STRING), 'M', CAST(c AS STRING), 'S')
           ELSE concat(CAST(c AS STRING), 'S', CAST(a AS STRING), 'M', CAST(dl AS STRING), 'D',
             CAST(b AS STRING), 'M', CAST(i AS STRING), 'I', CAST(e AS STRING), 'M') END AS cigar""",
        "start AS s1",
        "CASE WHEN t IN (2, 3, 6) THEN start + a ELSE start + a + b END AS e1",
        "CASE t WHEN 2 THEN start + a + dl WHEN 3 THEN start + a + n WHEN 6 THEN start + a + dl END AS s2",
        "CASE t WHEN 2 THEN start + a + dl + b WHEN 3 THEN start + a + n + b WHEN 6 THEN start + a + dl + b + e END AS e2")
  }

  private val bamWriteS = scala.collection.mutable.ArrayBuffer.empty[Double]
  override def layerSetup: Map[String, Double] = Map("sources.bam_write_s" -> Main.median(bamWriteS.toSeq))

  def generate(spark: SparkSession): Unit = {
    val t0 = System.nanoTime()
    graft.sources.Bam.writeShards(reads(spark), bamPath, refs)
    bamWriteS += (System.nanoTime() - t0) / 1e9
    val t = spark.range(0, Targets, 1, 1).selectExpr(
        s"concat('chr', CAST(1 + floor(${d.u(21)} * $Contigs) AS STRING)) AS contig",
        s"CAST(1 + floor(${d.u(22)} * ${ContigLen - 2000}) AS BIGINT) AS pos_start",
        s"CAST(100 + floor(${d.u(23)} * 900) AS BIGINT) AS len", "id")
      .selectExpr("contig", "pos_start", "pos_start + len AS pos_end", "id")
    val hotTarget = spark.range(Targets, Targets + 1, 1, 1).selectExpr("'chr1' AS contig",
      s"${HotStart - 500}L AS pos_start", s"${HotStart + HotSpan + 500}L AS pos_end", "id")
    t.union(hotTarget).coalesce(1).write.mode("overwrite").parquet(targetPath)
  }

  private def scan(spark: SparkSession) =
    spark.read.format("graft.sources.BamDataSource").option("path", bamPath).load()

  /** Per-target covered bases (sum of depth x overlap length); mean
    * depth is this over the target length. */
  private def targetDepth(blocks: DataFrame, spark: SparkSession): DataFrame =
    graft.ranges.Ranges.overlapPartitioned(blocks, spark.read.parquet(targetPath))
      .groupBy(col("right_id").as("id"))
      .agg(sum(col("left_coverage").cast("long") *
        (least(col("left_pos_end"), col("right_pos_end")) -
          greatest(col("left_pos_start"), col("right_pos_start")) + 1)).as("covered"),
        max(col("right_pos_end") - col("right_pos_start") + 1).as("len"))
      .withColumn("mean_depth", col("covered") / col("len"))

  private val targetDigest = Digest.Ints(Seq("id", "covered"))
  private val blockDigest = Digest.Ints(Seq("CAST(substr(contig, 4) AS BIGINT)", "pos_start", "pos_end", "coverage"))

  def ops(spark: SparkSession, pass: Int): Seq[Op] = Seq(
    Op("depth_targets", () => targetDepth(graft.pileup.Pileup.depth(scan(spark)), spark),
      targetDigest, "targets"))

  override def layerProbes(spark: SparkSession, run: (Op, String) => (Double, Outcome)): Map[String, Double] = {
    val (scanS, _) = run(Op("bam_scan", () => scan(spark).select("chrom", "start", "flags", "cigar", "mapping_quality"),
      Digest.Ints(Seq("start")), ""), "noop")
    val (depthS, depthOut) = run(Op("depth", () => graft.pileup.Pileup.depth(scan(spark)), blockDigest, "blocks"), "check")
    graft.pileup.Pileup.depth(scan(spark)).write.mode("overwrite").parquet(blocksPath)
    val (partS, _) = run(Op("partitioned_overlap", () => targetDepth(spark.read.parquet(blocksPath), spark),
      targetDigest, "targets"), "check")
    Map("sources.bam_scan_s" -> scanS, "pileup.depth_s" -> depthS,
      "pileup.blocks" -> depthOut.rows.toDouble, "ranges.partitioned_overlap_s" -> partS)
  }

  def oracleRequest(spark: SparkSession): OracleRequest = {
    reads(spark).select("chrom", "flags", "s1", "e1", "s2", "e2").write.mode("overwrite").parquet(truthPath)
    // segments [s, e) of reads passing the default 1796 flag mask; a
    // depth block runs from an event position to the next one, minus 1
    val blocks =
      """CREATE TEMP TABLE blocks AS
        |WITH r AS (SELECT * FROM truth WHERE (flags & 1796) = 0),
        |seg AS (SELECT chrom, s1 AS s, e1 AS e FROM r UNION ALL SELECT chrom, s2, e2 FROM r WHERE s2 IS NOT NULL),
        |ev AS (SELECT chrom, pos, sum(delta) AS delta FROM (SELECT chrom, s AS pos, 1 AS delta FROM seg
        |  UNION ALL SELECT chrom, e AS pos, -1 AS delta FROM seg) GROUP BY chrom, pos),
        |cum AS (SELECT chrom, pos, sum(delta) OVER (PARTITION BY chrom ORDER BY pos) AS cov,
        |  lead(pos) OVER (PARTITION BY chrom ORDER BY pos) AS nxt FROM ev)
        |SELECT chrom AS contig, pos AS pos_start, nxt - 1 AS pos_end, cov AS coverage
        |FROM cum WHERE cov <> 0 AND nxt IS NOT NULL""".stripMargin
    val w = 1000L
    val targets =
      s"""WITH ${Workloads.bucketed("blocks", "kb", w)}, ${Workloads.bucketed("t", "tb", w)}
         |SELECT tb.id, sum(kb.coverage * (LEAST(kb.pos_end, tb.pos_end) - GREATEST(kb.pos_start, tb.pos_start) + 1)) AS covered
         |FROM kb JOIN tb ON kb.contig = tb.contig AND kb.bk = tb.bk
         | AND kb.pos_start <= tb.pos_end AND kb.pos_end >= tb.pos_start
         | AND kb.bk = greatest(kb.pos_start, tb.pos_start) // $w GROUP BY tb.id""".stripMargin
    OracleRequest(
      views = Seq("truth" -> s"SELECT * FROM read_parquet('$truthPath/*.parquet')",
        "t" -> s"SELECT * FROM read_parquet('$targetPath/*.parquet')"),
      setup = Seq(blocks),
      checks = Seq(OracleCheck("targets", targets, targetDigest),
        OracleCheck("blocks", "SELECT * FROM blocks", blockDigest)))
  }
}

object AnnotateShape {
  val KeySpace = 30000L
  val ContextShare = 0.5
  val VariantsPerPass = 1000L
  /** Seed of the one fixed context every run annotates against. */
  val ContextSeed = 1000L
  val Genes = 34
  val CustomerSpace = 150000L
  val CustomerShare = 0.1
}

/** VCFs and context reuse the [[graft.Tables]] column formulas over
  * seeded base tables: `part` keys drive variants and the variation
  * cache, `supplier` keys transcripts (three per gene, as in the
  * fixture), `customer` keys regulatory features and motifs.
  *
  * The context is fixed (drawn from [[AnnotateShape.ContextSeed]]);
  * `--seed` draws the VCFs. The variant key space is split into seeded
  * slots of about [[AnnotateShape.VariantsPerPass]] keys, each written as
  * its own VCF; pass `p` annotates slot `p`, so no pass reads a VCF an
  * earlier pass has read (a run has far fewer passes than slots). The
  * oracle annotates the whole key space once and keeps a digest per
  * variant, so a pass's expected digest is the sum over its keys and the
  * oracle's fixed cost is paid once per checkout. */
final class AnnotateVep(dir: Path, seed: Long) extends Workload {
  import AnnotateShape._
  val name = "annotate_vep"
  private val slots = (KeySpace / VariantsPerPass).toInt
  val inputRows: Long = VariantsPerPass
  val oracleKey = "context"
  private val ctx = dir.resolve("context").toString
  private def vcfDir(slot: Int) = dir.resolve(s"vcf_$slot").toString
  private val c = new Draw(ContextSeed)
  private val d = new Draw(seed)

  def generate(spark: SparkSession): Unit = {
    spark.range(1, KeySpace + 1, 1, 1).where(s"${c.u(1)} < $ContextShare")
      .selectExpr("id AS p_partkey").write.mode("overwrite").parquet(s"$ctx/part.parquet")
    spark.range(1, 3334, 1, 1).orderBy(expr(c.u(2))).limit(Genes)
      .selectExpr("explode(array(id * 30, id * 30 + 10, id * 30 + 20)) AS s_suppkey")
      .write.mode("overwrite").parquet(s"$ctx/supplier.parquet")
    spark.range(1, CustomerSpace + 1, 1, 1).where(s"${c.u(3)} < $CustomerShare")
      .selectExpr("id AS c_custkey").write.mode("overwrite").parquet(s"$ctx/customer.parquet")
    // disjoint key slots, one VCF each: written in one job partitioned by
    // slot, then each partition directory moved to its own VCF directory
    val all = dir.resolve("vcfs")
    keyed(spark).write.mode("overwrite").partitionBy("_grp").parquet(all.toString)
    for (slot <- 0 until slots) {
      val to = Paths.get(vcfDir(slot))
      deleteTree(to)
      Files.createDirectories(to)
      Files.move(all.resolve(s"_grp=$slot"), to.resolve("part.parquet"))
    }
  }

  private def keyed(spark: SparkSession) = spark.range(1, KeySpace + 1, 1, 1)
    .selectExpr("id AS p_partkey", s"CAST(${d.pick(4, "id", slots)} AS INT) AS _grp")

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))

  private def slotOf(pass: Int) = pass % slots

  private def vcf(spark: SparkSession, slot: Int) = graft.Tables.vcf(spark, vcfDir(slot))

  def ops(spark: SparkSession, pass: Int): Seq[Op] = {
    import graft.Tables
    Seq(Op("annotate", () => graft.vep.Annotate.annotate(vcf(spark, slotOf(pass)), Tables.vepCache(spark, ctx),
        Tables.transcripts(spark, ctx), Tables.exons(spark, ctx), Tables.siftContext(spark, ctx),
        Tables.polyphenContext(spark, ctx), Tables.regulatory(spark, ctx), Tables.motifs(spark, ctx)),
      Digest.AllColumns, s"annotate:${slotOf(pass)}",
      extras = Seq("CASE WHEN csq IS NULL OR csq = '' THEN 0 ELSE size(split(csq, ',')) END")))
  }

  override def layerProbes(spark: SparkSession, run: (Op, String) => (Double, Outcome)): Map[String, Double] = {
    // the last slot, which no pass of a run reaches
    val (lookupS, _) = run(Op("lookup", () => graft.vep.Vep.lookupVariants(vcf(spark, slots - 1),
      graft.Tables.vepCache(spark, ctx)), Digest.AllColumns, s"lookup:${slots - 1}"), "check")
    Map("vep.lookup_s" -> lookupS)
  }

  def oracleRequest(spark: SparkSession): OracleRequest = {
    // the fixture oracles read the VCF from `part`; here the VCF is the
    // whole key space while the cache stays on the context keys
    val vcfCte = graft.Oracle.vcf
    def perVariant(sql: String): String = {
      require(sql.contains(vcfCte), "oracle SQL no longer embeds the shared VCF CTE")
      val s = sql.replace(vcfCte, vcfCte.replace("FROM part)", "FROM vpart)"))
        .replace("CAST(split_part(", "TRY_CAST(split_part(")
      s"SELECT o.id AS _variant, o.* FROM ($s) o"
    }
    OracleRequest(
      views = Seq(
        "part" -> s"SELECT * FROM read_parquet('$ctx/part.parquet/*.parquet')",
        "supplier" -> s"SELECT * FROM read_parquet('$ctx/supplier.parquet/*.parquet')",
        "customer" -> s"SELECT * FROM read_parquet('$ctx/customer.parquet/*.parquet')",
        "vpart" -> s"SELECT CAST(range AS BIGINT) AS p_partkey FROM range(1, ${KeySpace + 1})"),
      setup = Nil,
      checks = Seq(
        OracleCheck("annotate", perVariant(graft.VepSpliceQueries.oracleSql("f11_annotate_e2e")),
          Digest.AllColumns, Some("_variant")),
        OracleCheck("lookup", perVariant(graft.PileupVepQueries.oracleSql("f10_lookup_variants")),
          Digest.AllColumns, Some("_variant"))))
  }

  override def expected(spark: SparkSession, reply: Map[String, (Long, Long)]): Map[String, (Long, Long)] =
    keyed(spark).collect().groupBy(_.getInt(1)).toSeq.flatMap { case (slot, rows) =>
      Seq("annotate", "lookup").map { check =>
        val parts = rows.flatMap(r => reply.get(s"$check:${r.getLong(0)}"))
        s"$check:$slot" -> (parts.map(_._1).sum, parts.map(_._2).sum)
      }
    }.toMap
}
