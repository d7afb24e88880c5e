package graft.pileup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{CarryBroadcast, GraftConf}

/** F9 `depth()` — depth-of-coverage from an alignment-reads table
  * (FIXTURES.md §3 contract: chrom, start, flags, cigar,
  * mapping_quality), re-expressed as a relational event pipeline
  * instead of the reference's per-partition delta arrays + merge
  * barrier (pileup/src/physical_exec.rs:82-186):
  *
  *   1. filter reads (SAM-flag mask + MAPQ, filter.rs:1-34);
  *   2. CIGAR-walk each read into ±1 coverage events at segment
  *      boundaries (M/X/= cover, D/N skip — cigar.rs:41-66);
  *   3. partial-aggregate events per (chrom, pos) — Catalyst gives a
  *      map-side combine, so the shuffle carries at most
  *      #distinct-positions rows, like the reference's dense delta
  *      arrays but distributed;
  *   4. per-chrom prefix sum (window) → RLE blocks where coverage
  *      changes; zero-coverage gaps skipped (coverage.rs:25-64).
  *
  * Scale: the shuffle key is (chrom, pos) — fully parallel — and the
  * prefix-sum window is partitioned by (chrom, pos-bucket) with a
  * boundary fix-up, so the window stage's parallelism is
  * #non-empty-buckets (position-range slices of each chromosome), not
  * #contigs: a per-chrom window caps at ~25 concurrent tasks on a
  * human genome regardless of cluster size. The fix-up is one tiny
  * aggregate row per bucket (carry-in coverage = sum of all earlier
  * buckets' deltas; cross-bucket next_pos = the next non-empty
  * bucket's first event), broadcast back onto the bucketed frame. The
  * reference coalesces to ONE output partition
  * (physical_exec.rs:100); this plan stays fully distributed.
  *
  * Output (block mode): `(contig, pos_start, pos_end, coverage)`,
  * 1-based inclusive by default or 0-based with `zeroBased = true`
  * (the reference UDTF's second argument,
  * pileup/src/table_function.rs:97-109); per-base mode explodes
  * blocks into `(contig, pos, coverage)`. Either way the start-like
  * field carries the `bio.coordinate_system_zero_based` tag
  * (pileup/src/schema.rs:28-60).
  */
object Pileup {

  /** A reads frame tagged 0-based (bio.coordinate_system_zero_based
    * on its `start` field) walks CIGARs from `start + 1` — the same
    * input normalization the reference applies by constructing its
    * BAM provider with the caller's `zero_based`
    * (pileup/src/table_function.rs:97-109). */
  private def oneBasedStart(reads: DataFrame) = {
    val s = col("start").cast("long")
    if (graft.core.Coord.isZeroBased(reads)) s + 1L else s
  }

  /** Coverage events (chrom, pos, delta) after read filtering. The
    * CIGAR column may be text ("50M2D8M") or the BAM-packed binary
    * layout (LE u32 = len<<4 | op) — the same dual contract the
    * reference's BAM provider exposes (pileup/src/events.rs:42-55).
    * One [[graft.plans.CigarEvents]] generator walks either form
    * inside the engine's `Generate`, `chrom` passing through. */
  private def events(reads: DataFrame, filterFlag: Int, minMapq: Int): DataFrame = {
    // reference skip rules BEFORE the flag/MAPQ filter
    // (events.rs:114-152): a NULL chrom or start contributes nothing,
    // a text CIGAR of "*" (alignment unavailable per SAM) and an empty
    // binary CIGAR are skipped — none of these are errors
    val isBinary =
      reads.schema("cigar").dataType == org.apache.spark.sql.types.BinaryType
    val present = col("chrom").isNotNull && col("start").isNotNull &&
      col("cigar").isNotNull &&
      (if (isBinary) length(col("cigar")) > 0 else col("cigar") =!= "*")
    val cigar = if (isBinary) col("cigar") else col("cigar").cast("string")
    import org.apache.spark.sql.GraftColumnBridge
    val walk = GraftColumnBridge.column(graft.plans.CigarEvents(
      GraftColumnBridge.expression(oneBasedStart(reads)),
      GraftColumnBridge.expression(cigar)))
    graft.core.Parallelism.ensure(reads)
      .where(present && expr(s"(flags & $filterFlag) = 0 AND mapping_quality >= $minMapq"))
      .select(col("chrom"), walk)
  }

  /** Block-mode depth. `zeroBased` mirrors the reference UDTF's second
    * argument (pileup/src/table_function.rs:97-109, default false =
    * 1-based): a 0-based run is the 1-based run with BOTH boundaries
    * down one (the reference's block boundaries derive from read
    * starts, which its provider shifts at the source —
    * coverage.rs:25-64 emits `[block_start, pos-1]` in whichever
    * system the reads arrived). The output's `pos_start` field carries
    * the `bio.coordinate_system_zero_based` tag either way, exactly
    * like the reference's output schema (pileup/src/schema.rs:28-44). */
  def depth(reads: DataFrame, filterFlag: Int = 1796, minMapq: Int = 0,
      zeroBased: Boolean = false): DataFrame = {
    val ev = events(reads, filterFlag, minMapq)
      .groupBy(col("chrom"), col("pos"))
      .agg(sum(col("delta")).as("delta"))
    // range-partitioned prefix sum with boundary fix-up: the running
    // coverage and the next-event position are computed per (chrom,
    // bucket) window — fully parallel — then corrected by a TINY
    // per-bucket frame (one row per non-empty bucket): carry-in
    // coverage = sum of all earlier buckets' deltas, and the bucket's
    // last event takes the NEXT non-empty bucket's first position as
    // its next_pos. Both branches hang off the same (chrom, pos)
    // aggregate exchange. The plan holds two copies of the scan, one
    // per branch, and ReuseExchange (AQE's stage cache) shares the
    // exchange only because the copies compare equal: the BAM and VCF
    // scans are value-equal over what decides their rows
    // ([[graft.sources.BamScan]]), and a parquet file scan is too. So
    // each record is decoded and walked once. The fix-up frame joins
    // back broadcast-hinted under the width floor (≤ span/width rows
    // — metadata-scale).
    val width = GraftConf.depthPosBucketWidth(reads.sparkSession)
    // `_bkt` must not be nullable (integral division is): with
    // constraint propagation on (Spark's default) a nullable join key
    // makes the optimizer infer `_bkt IS NOT NULL` and push it below
    // the events aggregate of the local branch only, and the two
    // branches' exchanges then differ and are not reused
    val bucketed = ev.withColumn("_bkt", coalesce(expr(s"pos DIV $width"), lit(0L)))
    val wb = Window.partitionBy(col("chrom"), col("_bkt")).orderBy(col("pos"))
    // after the (chrom, pos) aggregate `pos` is unique in its window
    // partition, so a ROWS frame sums the same rows as the default
    // RANGE frame, and bounds each row without comparing order keys
    val local = bucketed
      .withColumn("_lcov", sum(col("delta"))
        .over(wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_lnext", lead(col("pos"), 1).over(wb))
    val wc = Window.partitionBy(col("chrom")).orderBy(col("_bkt"))
    val fixup = bucketed
      .groupBy(col("chrom"), col("_bkt"))
      .agg(sum(col("delta")).as("_bdelta"), min(col("pos")).as("_bfirst"))
      .select(col("chrom"), col("_bkt"),
        coalesce(sum(col("_bdelta"))
          .over(wc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("_carry"),
        lead(col("_bfirst"), 1).over(wc).as("_nextfirst"))
    val shift = if (zeroBased) 1L else 0L
    // the fix-up frame is one row per (chrom, bucket): ≤ span/width
    // rows per contig, guarded exactly like the sweeps' carry
    val out = local.join(CarryBroadcast(fixup, width), Seq("chrom", "_bkt"))
      .withColumn("coverage", col("_lcov") + col("_carry"))
      .withColumn("next_pos", coalesce(col("_lnext"), col("_nextfirst")))
      .where(col("coverage") =!= 0 && col("next_pos").isNotNull)
      .select(
        col("chrom").as("contig"),
        (col("pos") - shift).as("pos_start"),
        (col("next_pos") - 1 - shift).as("pos_end"),
        col("coverage").cast("int").as("coverage"))
    graft.core.Coord.mark(out, zeroBased, "pos_start")
  }

  /** Tile size for per-base explosion: a coverage block (an RLE run
    * of constant depth, or a zero gap in the full-contig mode) can
    * span megabases — `sequence(lo, hi)` materializes the WHOLE run
    * as one in-memory array inside one row, so an unbounded run is a
    * single-task multi-GB allocation at scale. Blocks are split into
    * ≤1M-position tiles first; each tile explodes independently. */
  private val PerBaseTile = 1L << 20

  /** Split (pos_start, pos_end, coverage) blocks into ≤[[PerBaseTile]]
    * tiles, then one row per position. */
  private def explodePerBase(blocks: DataFrame): DataFrame =
    blocks
      .select(col("contig"), col("pos_start"), col("pos_end"), col("coverage"),
        explode(sequence(lit(0L),
          expr(s"(pos_end - pos_start) DIV $PerBaseTile"))).as("_tile"))
      .select(col("contig"),
        explode(sequence(
          col("pos_start") + col("_tile") * PerBaseTile,
          least(col("pos_end"),
            col("pos_start") + col("_tile") * PerBaseTile + (PerBaseTile - 1))))
          .as("pos"),
        col("coverage"))

  /** Per-base depth: one row per covered position. `zeroBased` labels
    * positions `[0..len)` instead of `[1..len]`
    * (coverage.rs:291-301) and tags the output's `pos` field. */
  def depthPerBase(reads: DataFrame, filterFlag: Int = 1796, minMapq: Int = 0,
      zeroBased: Boolean = false): DataFrame =
    graft.core.Coord.mark(
      explodePerBase(depth(reads, filterFlag, minMapq, zeroBased)),
      zeroBased, "pos")

  /** Per-base depth over the FULL contig span [1, length] — the
    * reference's `per_base = true` mode (mosdepth_compat.rs
    * test_per_base_sql: one row per genomic position for each contig
    * that has reads, ZERO-coverage positions included, lengths from
    * the BAM header). `contigLengths`: `(chrom, length)` — e.g.
    * [[graft.sources.Bam.read]]'s reference dictionary. Zero blocks
    * derive from a per-contig lag window over the covered blocks plus
    * one tail block, so the position explode stays bounded by read
    * spacing and distributed at scale. */
  def depthPerBaseFull(reads: DataFrame, contigLengths: DataFrame,
      filterFlag: Int = 1796, minMapq: Int = 0,
      zeroBased: Boolean = false): DataFrame = {
    val lens = contigLengths.select(col("chrom").as("contig"),
      col("length").cast("long").as("_len"))
    // gap math stays 1-based ([1, length] spans); the system shift is
    // a label applied once at the end, like PerBaseEmitter's index
    // offset (coverage.rs:291-301)
    val blocks = depth(reads, filterFlag, minMapq).join(lens, Seq("contig"))
    // the zero-gap lag window buckets like the prefix sum in [[depth]]
    // (same per-contig ceiling otherwise): blocks are disjoint and
    // pos_start-ordered, so the only cross-bucket dependency is the
    // previous non-empty bucket's LAST block end — one aggregate row
    // per bucket, broadcast back
    val width = GraftConf.depthPosBucketWidth(reads.sparkSession)
    val blocksB = blocks.withColumn("_bkt", expr(s"pos_start DIV $width"))
    val wB = Window.partitionBy(col("contig"), col("_bkt")).orderBy(col("pos_start"))
    val wcB = Window.partitionBy(col("contig")).orderBy(col("_bkt"))
    val carry = blocksB.groupBy(col("contig"), col("_bkt"))
      .agg(max(col("pos_end")).as("_bend"))
      .select(col("contig"), col("_bkt"),
        lag(col("_bend"), 1).over(wcB).as("_prevEnd"))
    val gapLo = coalesce(lag(col("pos_end"), 1).over(wB), col("_prevEnd"), lit(0L)) + 1
    // one row per (contig, bucket), like the fix-up frame above
    val headGaps = blocksB.join(CarryBroadcast(carry, width), Seq("contig", "_bkt"))
      .select(col("contig"), gapLo.as("pos_start"),
        (col("pos_start") - 1).as("pos_end"))
      .where(col("pos_start") <= col("pos_end"))
    val tailGaps = blocks
      .groupBy(col("contig"), col("_len"))
      .agg(max(col("pos_end")).as("_maxe"))
      .where(col("_maxe") < col("_len"))
      .select(col("contig"), (col("_maxe") + 1).as("pos_start"),
        col("_len").as("pos_end"))
    val zeros = headGaps.unionByName(tailGaps)
      .select(col("contig"), col("pos_start"), col("pos_end"),
        lit(0).cast("int").as("coverage"))
    val perBase = explodePerBase(
      blocks.select(col("contig"), col("pos_start"), col("pos_end"), col("coverage"))
        .unionByName(zeros))
    val shifted =
      if (zeroBased) perBase.withColumn("pos", col("pos") - 1L) else perBase
    graft.core.Coord.mark(shifted, zeroBased, "pos")
  }
}
