package graft.core

import org.apache.spark.sql.SparkSession

/** The library's session settings, all under the `spark.bio.*` prefix
  * (the reference's options are `bio.*`). Each key is declared here once,
  * with its default and its parse; the operators read it through its
  * getter. */
object GraftConf {
  val DepthPosBucketWidth = "spark.bio.depth.posBucketWidth"
  val SweepPosBucketWidth = "spark.bio.sweep.posBucketWidth"
  val PackIdBucketWidth = "spark.bio.pack.idBucketWidth"
  val SaltFactor = "spark.bio.partitioned.saltFactor"
  val SaltMinSliceRows = "spark.bio.partitioned.saltMinSliceRows"
  val StatePartitions = "spark.bio.stream.statePartitions"
  val IntervalJoinAlgorithm = "spark.bio.intervalJoin.algorithm"
  val IntervalJoinEnabled = "spark.bio.intervalJoin.enabled"
  val BroadcastBuildLimit = "spark.bio.broadcast_build_limit"

  private def get[T](s: SparkSession, key: String, default: T)(parse: String => T): T =
    s.conf.getOption(key).map(parse).getOrElse(default)

  private def positive(s: SparkSession, key: String, default: Long): Long = {
    val w = get(s, key, default)(_.toLong)
    require(w > 0, s"$key must be positive, got $w")
    w
  }

  /** Position-bucket width for the depth prefix-sum window stage — each
    * (chrom, pos DIV width) slice runs as its own window partition, so
    * parallelism scales with data span instead of capping at #contigs
    * (a human genome has ~25 real ones; a 1000-executor cluster would
    * idle 97% of its slots on a per-chrom window). Default 2^17
    * (~131 kbp; round 17, same fix as the sweep width — the old 2^26
    * serialized a megabase-scale input's window onto ONE task per
    * contig; 2^17 gives chr1 ~1.9k slices and a genome ~24k, ahead of
    * any executor count, with the per-bucket fix-up frame still
    * metadata-scale). The partition-invariance spec sweeps it. */
  def depthPosBucketWidth(s: SparkSession): Long = positive(s, DepthPosBucketWidth, 1L << 17)

  /** Position-bucket width for the island-sweep window stage — same
    * rationale as the depth width: bucketing by
    * `(contig, start DIV width)` scales the sweep's parallelism with
    * data span. Default 2^17: the per-bucket hull/carry frames stay
    * metadata-scale — ≤ span/width rows, ~24k per genome — and the
    * width stays at the floor where `Ranges`' carry broadcast hint is
    * provably safe. The invariance spec sweeps it. */
  def sweepPosBucketWidth(s: SparkSession): Long = positive(s, SweepPosBucketWidth, 1L << 17)

  /** Bucket width (documents per prefix-sum slice) for the packing
    * cumsum — same rationale as the interval sweeps: a global-order
    * window is a single-task ceiling; bucketing by `id DIV width`
    * with a tiny per-bucket carry keeps the plan fully parallel. */
  def packIdBucketWidth(s: SparkSession): Long = positive(s, PackIdBucketWidth, 1L << 16)

  /** The partitioned joins' explicit salt factor, or None for `auto`
    * (the default; see `graft.ranges.PartitionedJoin`). */
  def saltFactor(s: SparkSession): Option[Int] =
    get[Option[Int]](s, SaltFactor, None) {
      case "auto" => None
      case v =>
        val f = v.toInt
        require(f >= 1, s"$SaltFactor must be >= 1, got $f")
        Some(f)
    }

  /** Probe rows below which an `auto` salt slice is not worth a task. */
  def saltMinSliceRows(s: SparkSession): Long = get(s, SaltMinSliceRows, 131072L)(_.toLong)

  /** The streaming state width, or None to derive it from the source
    * volume (`graft.streaming.StreamWidth`). */
  def statePartitions(s: SparkSession): Option[Int] =
    get[Option[Int]](s, StatePartitions, None)(v => Some(v.toInt))

  /** The interval stabber name (`graft.index.IntervalIndexFactory`). */
  def intervalJoinAlgorithm(s: SparkSession): String =
    get(s, IntervalJoinAlgorithm, "superintervals")(identity)

  /** Whether the planner strategy rewrites range joins. */
  def intervalJoinEnabled(s: SparkSession): Boolean =
    get(s, IntervalJoinEnabled, true)(_.toBoolean)

  /** Cap on a collected build side's estimated bytes, shared by the
    * planner strategy and `graft.ranges.BuildGuard`; default 1 GiB. */
  def broadcastBuildLimit(s: SparkSession): Long =
    get(s, BroadcastBuildLimit, 1L << 30)(_.toLong)
}
