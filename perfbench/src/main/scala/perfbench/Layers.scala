package perfbench

/** The per-layer metrics a traced run prints, and their reduction from
  * the warm passes (medians over passes of per-pass sums). */
object Layers {
  private val index: Seq[(String, String)] = for {
    algo <- Kernels.Algos
    subset <- Seq("uniform", "longtail")
    (m, u) <- Seq("build_ns_per_iv" -> "ns", "probe_ns" -> "ns")
  } yield (s"index.$algo.$subset.$m", u)

  val PerLayer: Seq[(String, String)] = Seq(
    "plans.build_s" -> "s", "plans.physical_s" -> "s", "plans.exec_s" -> "s",
    "plans.jobs" -> "count", "plans.stages" -> "count", "plans.exchanges" -> "count",
    "plans.smj" -> "count", "plans.interval_join_execs" -> "count",
    "plans.codegen_compiles" -> "count", "plans.codegen_compile_s" -> "s", "plans.codegen_failures" -> "count",
    "exchange.tasks" -> "count", "exchange.task_s" -> "s", "exchange.busy_wall_s" -> "s",
    "exchange.idle_s" -> "s", "exchange.core_util" -> "share", "exchange.max_task_s" -> "s",
    "exchange.shuffle_write_mb" -> "MB", "exchange.shuffle_read_mb" -> "MB", "exchange.spill_mb" -> "MB") ++
    index ++ Seq(
    "index.count_ns" -> "ns", "index.coverage_ns" -> "ns", "index.nearest_ns" -> "ns",
    "index.matches_per_probe" -> "count",
    "ranges.overlap_s" -> "s", "ranges.count_overlaps_s" -> "s", "ranges.coverage_s" -> "s",
    "ranges.nearest_s" -> "s", "ranges.partitioned_overlap_s" -> "s", "ranges.output_rows" -> "count",
    "pileup.depth_s" -> "s", "pileup.blocks" -> "count",
    "pileup.cigar_ns_per_read" -> "ns", "pileup.cigar_bin_ns_per_read" -> "ns",
    "sources.bam_scan_s" -> "s", "sources.bam_decode_mb_per_s" -> "MB/s", "sources.bam_write_s" -> "s",
    "vep.lookup_s" -> "s", "vep.annotate_s" -> "s", "vep.csq_entries" -> "count", "vep.allele_ns" -> "ns",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s", "host.steal_share" -> "share",
    "trace.overhead" -> "share", "trace.op_share" -> "share",
    "bench.warm_passes" -> "count", "checks.error_rate" -> "share")

  private val opSeconds = Map("overlap" -> "ranges.overlap_s", "count_overlaps" -> "ranges.count_overlaps_s",
    "coverage" -> "ranges.coverage_s", "nearest" -> "ranges.nearest_s",
    "annotate" -> "vep.annotate_s")

  /** Length of the union of [launch, finish] task intervals, in ms. */
  private def busyMs(tasks: Seq[TaskRec]): Long = {
    var busy = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for (t <- tasks.sortBy(_.launchMs)) {
      if (t.launchMs > curE) { if (curE > curS) busy += curE - curS; curS = t.launchMs; curE = t.finishMs }
      else curE = math.max(curE, t.finishMs)
    }
    if (curE > curS) busy += curE - curS
    busy
  }

  def fromPasses(passes: Seq[Main.PassStat], cores: Int): Map[String, Double] = {
    def med(f: Main.PassStat => Double) = Main.median(passes.map(f))
    val mb = 1048576.0
    val perOp = opSeconds.flatMap { case (op, metric) =>
      if (passes.exists(_.ops.exists(_.name == op)))
        Some(metric -> med(_.ops.filter(_.name == op).map(_.seconds).sum)) else None
    }
    Map(
      "plans.build_s" -> med(_.ops.map(_.build).sum),
      "plans.physical_s" -> med(_.ops.map(_.physical).sum),
      "plans.exec_s" -> med(_.ops.map(_.exec).sum),
      "plans.jobs" -> med(_.jobs.size.toDouble),
      "plans.stages" -> med(_.stages.size.toDouble),
      "plans.exchanges" -> med(_.ops.map(_.shape.exchanges).sum.toDouble),
      "plans.smj" -> med(_.ops.map(_.shape.smj).sum.toDouble),
      "plans.interval_join_execs" -> med(_.ops.map(_.shape.intervalJoins).sum.toDouble),
      "plans.codegen_compiles" -> med(_.ops.map(_.compiles).sum.toDouble),
      "plans.codegen_compile_s" -> med(_.ops.map(_.compileS).sum),
      "plans.codegen_failures" -> med(_.ops.map(_.failures).sum.toDouble),
      "exchange.tasks" -> med(_.tasks.size.toDouble),
      "exchange.task_s" -> med(_.tasks.map(t => t.finishMs - t.launchMs).sum / 1e3),
      "exchange.busy_wall_s" -> med(p => busyMs(p.tasks) / 1e3),
      "exchange.idle_s" -> med(p => math.max(0.0, p.wall - busyMs(p.tasks) / 1e3)),
      "exchange.core_util" -> med(p => p.tasks.map(t => t.finishMs - t.launchMs).sum / 1e3 / (p.wall * cores)),
      "exchange.max_task_s" -> med(_.tasks.map(t => t.finishMs - t.launchMs).maxOption.getOrElse(0L) / 1e3),
      "exchange.shuffle_write_mb" -> med(_.tasks.map(_.shuffleWrite).sum / mb),
      "exchange.shuffle_read_mb" -> med(_.tasks.map(_.shuffleRead).sum / mb),
      "exchange.spill_mb" -> med(_.tasks.map(_.spill).sum / mb),
      "ranges.output_rows" -> med(_.ops.filter(o => opSeconds.get(o.name).exists(_.startsWith("ranges."))).map(_.out.rows).sum.toDouble),
      "vep.csq_entries" -> med(_.ops.filter(_.name == "annotate").flatMap(_.out.extras.headOption).sum),
      "jvm.gc_s" -> med(_.gcS),
      "jvm.jit_s" -> med(_.jitS),
      "host.steal_share" -> med(_.steal)) ++ perOp
  }
}
